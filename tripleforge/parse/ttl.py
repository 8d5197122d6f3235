"""Turtle + TriG parser (SURVEY.md §2.A6, A3) — W3C RDF 1.1 Turtle and
RDF 1.1 TriG (REC 2014). TriG mode adds named-graph blocks:
``GRAPH <g> { ... }``, label-only ``<g> { ... }`` / ``_:b { ... }`` /
``[] { ... }``, and unlabeled ``{ ... }`` for the default graph, with
the block's graph stamped on every contained statement (quad context
wins over injected context downstream, same rule as N-Quads).

Turtle coverage: ``@prefix``/``@base`` + SPARQL-style ``PREFIX``/``BASE``,
prefixed names (with PN_LOCAL escapes and %-encoding), relative-IRI
resolution, ``a`` → rdf:type, ``;``/``,`` predicate-object lists,
``[]`` anonymous blank nodes and blank-node property lists, RDF
collections ``( ... )`` (rdf:first/rest/nil expansion), numeric/boolean
literal sugar, short and long (triple-quoted) strings in both quote
styles, language tags and datatype annotations.

Execution model: a regex lexer + recursive-descent parser that loops
over *files within the Arrow batch* — not Spark rows — satisfying the
north_star's "all parsing ... runs through Arrow-batched map passes
over content blocks" (the dispatcher's mapInArrow hands this kernel a
pandas frame) (SURVEY §2.A6 note). Per-file errors go to the
error channel (A8); one bad file never kills the batch.

Reference analog: RDF4J Rio ``TurtleParser`` (recursive descent over a
pushback reader); rebuilt from the published grammar, not translated.
"""

from __future__ import annotations

import re
from urllib.parse import urljoin

import pandas as pd

from tripleforge.parse.common import (
    RAW_COLS,
    _unescape_one,
    empty_raw_frame,
    skolem_iri,
)
from tripleforge.schema import (
    RDF_FIRST,
    RDF_LANGSTRING,
    RDF_NIL,
    RDF_REST,
    RDF_TYPE,
    XSD_BOOLEAN,
    XSD_DECIMAL,
    XSD_DOUBLE,
    XSD_INTEGER,
    XSD_STRING,
)

_PN_CHARS_BASE = "A-Za-z\u00c0-\u02ff\u0370-\u1fff\u200c\u200d\u2070-\u218f\u2c00-\u2fef\u3001-\ud7ff\uf900-\ufdcf\ufdf0-\ufffd"
_PNAME_NS = rf"(?:[{_PN_CHARS_BASE}_][{_PN_CHARS_BASE}0-9_.\-]*)?:"
_PN_LOCAL = (
    rf"(?:%[0-9A-Fa-f]{{2}}|\\[_~.\-!$&'()*+,;=/?#@%]|[{_PN_CHARS_BASE}0-9_:.\-])+"
)

_TOKEN = re.compile(
    rf"""
  (?P<WS>[\x20\x09\x0d\x0a]+)
 |(?P<COMMENT>\#[^\n]*)
 |(?P<LONG_DQ>\"\"\"(?:[^"\\]|\\.|"(?!""))*\"\"\")
 |(?P<LONG_SQ>'''(?:[^'\\]|\\.|'(?!''))*''')
 |(?P<DQ>"(?:[^"\\\n]|\\.)*")
 |(?P<SQ>'(?:[^'\\\n]|\\.)*')
 |(?P<IRI><[^<>"{{}}|^`\x00-\x20]*>)
 |(?P<ATKW>@(?:prefix|base)\b)
 |(?P<LANG>@[A-Za-z]+(?:-[A-Za-z0-9]+)*)
 |(?P<DOUBLE>[+-]?(?:\d+\.\d*[eE][+-]?\d+|\.\d+[eE][+-]?\d+|\d+[eE][+-]?\d+))
 |(?P<DECIMAL>[+-]?\d*\.\d+)
 |(?P<INTEGER>[+-]?\d+)
 |(?P<DTSEP>\^\^)
 |(?P<BNODE>_:[{_PN_CHARS_BASE}0-9_](?:[{_PN_CHARS_BASE}0-9_.\-]*[{_PN_CHARS_BASE}0-9_\-])?)
 |(?P<PNAME>{_PNAME_NS}(?:{_PN_LOCAL})?)
 |(?P<KW>\b(?:a|true|false)\b)
 |(?P<SPARQL_KW>\b(?:[Pp][Rr][Ee][Ff][Ii][Xx]|[Bb][Aa][Ss][Ee])\b)
 |(?P<GRAPHKW>\b[Gg][Rr][Aa][Pp][Hh]\b)
 |(?P<PUNCT>[.;,()\[\]{{}}])
""",
    re.VERBOSE,
)

_PN_LOCAL_ESC = re.compile(r"\\([_~.\-!$&'()*+,;=/?#@%])")


class TurtleError(ValueError):
    pass


def _tokenize(text: str) -> list[tuple[str, str]]:
    tokens: list[tuple[str, str]] = []
    pos, n = 0, len(text)
    while pos < n:
        m = _TOKEN.match(text, pos)
        if m is None:
            raise TurtleError(f"unexpected character {text[pos]!r} at offset {pos}")
        kind = m.lastgroup
        val = m.group()
        pos = m.end()
        if kind in ("WS", "COMMENT"):
            continue
        # A PNAME/BNODE greedily eats a statement-terminating '.' when the
        # dot abuts the name (grammar forbids trailing '.') — give it back.
        if kind in ("PNAME", "BNODE") and val.endswith("."):
            stripped = val.rstrip(".")
            pos -= len(val) - len(stripped)
            val = stripped
        tokens.append((kind, val))
    return tokens


# Terms are tuples: ("iri", value) | ("bnode", local) |
# ("literal", lexical, datatype, lang)
_Term = tuple


class _Parser:
    def __init__(
        self, tokens: list[tuple[str, str]], repo: str, path: str, trig: bool = False
    ):
        self.toks = tokens
        self.i = 0
        self.repo = repo
        self.path = path
        self.trig = trig  # TriG mode: GRAPH blocks allowed (A3/A6 ext)
        self.cur_graph: _Term | None = None  # graph context inside a block
        self.prefixes: dict[str, str] = {}
        self.base = ""
        self.genid = 0
        # quads: (s, p, o, g) with g=None for the default graph
        self.triples: list[tuple[_Term, _Term, _Term, _Term | None]] = []

    # --- token stream helpers
    def peek(self) -> tuple[str, str] | None:
        return self.toks[self.i] if self.i < len(self.toks) else None

    def next(self) -> tuple[str, str]:
        if self.i >= len(self.toks):
            raise TurtleError("unexpected end of input")
        t = self.toks[self.i]
        self.i += 1
        return t

    def expect(self, kind: str, val: str | None = None) -> tuple[str, str]:
        t = self.next()
        if t[0] != kind or (val is not None and t[1] != val):
            raise TurtleError(f"expected {val or kind}, got {t[1]!r}")
        return t

    # --- term construction
    def resolve(self, iri: str) -> str:
        if self.base and not re.match(r"^[A-Za-z][A-Za-z0-9+.\-]*:", iri):
            return urljoin(self.base, iri)
        return iri

    def iri_from_token(self, val: str) -> _Term:
        return ("iri", self.resolve(_unescape_one(val[1:-1])))

    def pname_to_iri(self, val: str) -> _Term:
        ns, _, local = val.partition(":")
        if ns not in self.prefixes:
            raise TurtleError(f"undefined prefix {ns!r}:")
        local = _PN_LOCAL_ESC.sub(r"\1", local)
        return ("iri", self.prefixes[ns] + local)

    def fresh_bnode(self) -> _Term:
        # \x1e cannot appear in a parsed BLANK_NODE_LABEL, so generated
        # labels can never collide with an explicit _:genidN in the same
        # file (both skolemize on (repo, path, label) — ADVICE r1).
        self.genid += 1
        return ("bnode", f"genid\x1e{self.genid}")

    # --- grammar
    def parse(self) -> None:
        while self.peek() is not None:
            kind, val = self.peek()
            if kind == "ATKW":
                self.directive(at_style=True)
            elif kind == "SPARQL_KW":
                self.directive(at_style=False)
            elif self.trig:
                self.trig_block()
            else:
                self.triples_stmt()
                self.expect("PUNCT", ".")

    # --- TriG (W3C RDF 1.1 TriG REC 2014) block grammar -------------------
    def trig_block(self) -> None:
        """block := triplesOrGraph | wrappedGraph | triples2
                  | 'GRAPH' labelOrSubject wrappedGraph"""
        kind, val = self.peek()
        if kind == "GRAPHKW":
            self.next()
            self.wrapped_graph(self.graph_label())
            return
        if kind == "PUNCT" and val == "{":  # unlabeled block → default graph
            self.wrapped_graph(None)
            return
        if kind == "PUNCT" and val == "[":
            # ANON-labeled graph ('[] { ... }') vs triples2 (bnode
            # property list subject) — one-token lookahead disambiguates
            if (
                self.i + 2 < len(self.toks)
                and self.toks[self.i + 1] == ("PUNCT", "]")
                and self.toks[self.i + 2] == ("PUNCT", "{")
            ):
                self.next()
                self.next()
                self.wrapped_graph(self.fresh_bnode())
                return
            self.triples_stmt()
            self.expect("PUNCT", ".")
            return
        if kind == "PUNCT" and val == "(":  # collection subject
            self.triples_stmt()
            self.expect("PUNCT", ".")
            return
        # triplesOrGraph: labelOrSubject then '{' (graph) or verb (triples)
        term = self.subject()
        if self.peek() == ("PUNCT", "{"):
            self.wrapped_graph(term)
            return
        self.predicate_object_list(term)
        self.expect("PUNCT", ".")

    def graph_label(self) -> _Term:
        kind, val = self.next()
        if kind == "IRI":
            return self.iri_from_token(val)
        if kind == "PNAME":
            return self.pname_to_iri(val)
        if kind == "BNODE":
            return ("bnode", val[2:])
        if kind == "PUNCT" and val == "[":
            self.expect("PUNCT", "]")
            return self.fresh_bnode()
        raise TurtleError(f"bad graph label {val!r}")

    def wrapped_graph(self, label: _Term | None) -> None:
        """'{' triplesBlock? '}' with the final '.' optional before '}'.
        TriG forbids nesting — entering a block while one is open (only
        reachable via a malformed doc) raises into the error channel."""
        if self.cur_graph is not None:
            raise TurtleError("GRAPH blocks cannot nest")
        self.expect("PUNCT", "{")
        self.cur_graph = label
        try:
            while True:
                nxt = self.peek()
                if nxt is None:
                    raise TurtleError("unterminated graph block")
                if nxt == ("PUNCT", "}"):
                    self.next()
                    return
                self.triples_stmt()
                nxt = self.peek()
                if nxt == ("PUNCT", "."):
                    self.next()
                elif nxt != ("PUNCT", "}"):
                    raise TurtleError(
                        f"expected '.' or '}}' in graph block, got {nxt!r}"
                    )
        finally:
            self.cur_graph = None

    def directive(self, at_style: bool) -> None:
        kind, val = self.next()
        word = val.lstrip("@").lower()
        if word == "prefix":
            k, pname = self.next()
            if k != "PNAME" or not pname.endswith(":"):
                raise TurtleError(f"bad prefix name {pname!r}")
            k, iritok = self.next()
            if k != "IRI":
                raise TurtleError("prefix directive needs an IRIREF")
            self.prefixes[pname[:-1]] = self.resolve(_unescape_one(iritok[1:-1]))
        elif word == "base":
            k, iritok = self.next()
            if k != "IRI":
                raise TurtleError("base directive needs an IRIREF")
            self.base = (
                urljoin(self.base, _unescape_one(iritok[1:-1]))
                if self.base
                else _unescape_one(iritok[1:-1])
            )
        else:  # pragma: no cover
            raise TurtleError(f"unknown directive {val!r}")
        if at_style:
            self.expect("PUNCT", ".")

    def triples_stmt(self) -> None:
        kind, val = self.peek()
        if kind == "PUNCT" and val == "[":
            subj = self.blank_node_property_list()
            nk = self.peek()
            if nk is not None and not (nk[0] == "PUNCT" and nk[1] == "."):
                self.predicate_object_list(subj)
        else:
            subj = self.subject()
            self.predicate_object_list(subj)

    def subject(self) -> _Term:
        kind, val = self.next()
        if kind == "IRI":
            return self.iri_from_token(val)
        if kind == "PNAME":
            return self.pname_to_iri(val)
        if kind == "BNODE":
            return ("bnode", val[2:])
        if kind == "PUNCT" and val == "(":
            return self.collection()
        raise TurtleError(f"bad subject {val!r}")

    def verb(self) -> _Term:
        kind, val = self.next()
        if kind == "KW" and val == "a":
            return ("iri", RDF_TYPE)
        if kind == "IRI":
            return self.iri_from_token(val)
        if kind == "PNAME":
            return self.pname_to_iri(val)
        raise TurtleError(f"bad predicate {val!r}")

    def predicate_object_list(self, subj: _Term) -> None:
        while True:
            pred = self.verb()
            self.object_list(subj, pred)
            nxt = self.peek()
            if nxt is not None and nxt == ("PUNCT", ";"):
                self.next()
                nxt = self.peek()
                # trailing ';' before '.' or ']' is legal
                if nxt is None or (
                    nxt[0] == "PUNCT" and nxt[1] in (".", "]")
                ):
                    return
                continue
            return

    def object_list(self, subj: _Term, pred: _Term) -> None:
        while True:
            obj = self.object_term()
            self.triples.append((subj, pred, obj, self.cur_graph))
            nxt = self.peek()
            if nxt is not None and nxt == ("PUNCT", ","):
                self.next()
                continue
            return

    def object_term(self) -> _Term:
        kind, val = self.next()
        if kind == "IRI":
            return self.iri_from_token(val)
        if kind == "PNAME":
            return self.pname_to_iri(val)
        if kind == "BNODE":
            return ("bnode", val[2:])
        if kind == "PUNCT" and val == "[":
            self.i -= 1
            return self.blank_node_property_list()
        if kind == "PUNCT" and val == "(":
            return self.collection()
        if kind in ("DQ", "SQ", "LONG_DQ", "LONG_SQ"):
            return self.literal(kind, val)
        if kind == "INTEGER":
            return ("literal", val, XSD_INTEGER, None)
        if kind == "DECIMAL":
            return ("literal", val, XSD_DECIMAL, None)
        if kind == "DOUBLE":
            return ("literal", val, XSD_DOUBLE, None)
        if kind == "KW" and val in ("true", "false"):
            return ("literal", val, XSD_BOOLEAN, None)
        raise TurtleError(f"bad object {val!r}")

    def literal(self, kind: str, val: str) -> _Term:
        if kind in ("LONG_DQ", "LONG_SQ"):
            lex = _unescape_one(val[3:-3])
        else:
            lex = _unescape_one(val[1:-1])
        nxt = self.peek()
        if nxt is not None and nxt[0] == "LANG":
            self.next()
            return ("literal", lex, RDF_LANGSTRING, nxt[1][1:].lower())
        if nxt is not None and nxt[0] == "DTSEP":
            self.next()
            k, v = self.next()
            if k == "IRI":
                dt = self.iri_from_token(v)[1]
            elif k == "PNAME":
                dt = self.pname_to_iri(v)[1]
            else:
                raise TurtleError(f"bad datatype {v!r}")
            return ("literal", lex, dt, None)
        return ("literal", lex, XSD_STRING, None)

    def blank_node_property_list(self) -> _Term:
        self.expect("PUNCT", "[")
        node = self.fresh_bnode()
        nxt = self.peek()
        if nxt is not None and nxt == ("PUNCT", "]"):  # ANON
            self.next()
            return node
        self.predicate_object_list(node)
        self.expect("PUNCT", "]")
        return node

    def collection(self) -> _Term:
        # '(' already consumed by caller
        items: list[_Term] = []
        while True:
            nxt = self.peek()
            if nxt is None:
                raise TurtleError("unterminated collection")
            if nxt == ("PUNCT", ")"):
                self.next()
                break
            items.append(self.object_term())
        if not items:
            return ("iri", RDF_NIL)
        head = self.fresh_bnode()
        cur = head
        g = self.cur_graph
        for j, item in enumerate(items):
            self.triples.append((cur, ("iri", RDF_FIRST), item, g))
            if j == len(items) - 1:
                self.triples.append((cur, ("iri", RDF_REST), ("iri", RDF_NIL), g))
            else:
                nxt_node = self.fresh_bnode()
                self.triples.append((cur, ("iri", RDF_REST), nxt_node, g))
                cur = nxt_node
        return head


def _term_to_cols(term: _Term, repo: str, path: str) -> tuple[str, str, str | None, str | None]:
    """→ (value, kind, dt, lang); bnodes become skolem IRIs (A10)."""
    if term[0] == "iri":
        return term[1], "iri", None, None
    if term[0] == "bnode":
        return skolem_iri(repo, path, term[1]), "iri", None, None
    _, lex, dt, lang = term
    return lex, "literal", dt, lang


def _parse_ttl_like(pdf: pd.DataFrame, trig: bool, parser_name: str) -> pd.DataFrame:
    """Batch kernel: pandas frame of (repo,path,commit,content) → RAW rows.
    ``trig=True`` enables GRAPH blocks; a quad-carried graph wins over
    the injected context downstream (same precedence as N-Quads,
    ops.assign_graph)."""
    rows: list[tuple] = []
    for repo, path, commit, content in zip(
        pdf["repo"], pdf["path"], pdf["commit"], pdf["content"]
    ):
        try:
            p = _Parser(_tokenize(content), repo, path, trig=trig)
            p.parse()
        except TurtleError as exc:
            rows.append(
                (None, None, None, None, None, None, None, repo, path, commit, parser_name, str(exc))
            )
            continue
        for s, pr, o, g in p.triples:
            sv, _, _, _ = _term_to_cols(s, repo, path)
            pv, _, _, _ = _term_to_cols(pr, repo, path)
            ov, okind, odt, olang = _term_to_cols(o, repo, path)
            gv = _term_to_cols(g, repo, path)[0] if g is not None else None
            rows.append(
                (sv, pv, ov, okind, odt, olang, gv, repo, path, commit, parser_name, None)
            )
    if not rows:
        return empty_raw_frame()
    return pd.DataFrame(rows, columns=RAW_COLS)


def parse_ttl(pdf: pd.DataFrame) -> pd.DataFrame:
    """Turtle batch kernel (A6)."""
    return _parse_ttl_like(pdf, trig=False, parser_name="ttl")


def parse_trig(pdf: pd.DataFrame) -> pd.DataFrame:
    """TriG batch kernel (A3/A6 extension) — full GRAPH-block support:
    ``GRAPH <g> { ... }``, ``<g> { ... }``, ``_:b { ... }``,
    ``[] { ... }`` and unlabeled ``{ ... }`` (default graph), plus all
    Turtle productions inside and outside blocks."""
    return _parse_ttl_like(pdf, trig=True, parser_name="trig")
