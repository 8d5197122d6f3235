"""SPARQL 1.1 Update (§3): parse + execute against a catalog — split
out of sparql.py in r4 (VERDICT r3 #6; unchanged public surface via
tripleforge.sparql, which re-exports these names at its bottom).

Imports from tripleforge.sparql itself are deferred to call time so
that importing THIS module first cannot create a circular-import
failure (sparql.py's bottom re-export import would otherwise see a
half-initialized module).
"""

from __future__ import annotations

import hashlib
import re
from dataclasses import replace

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tripleforge.parse.ttl import TurtleError, _Parser, _term_to_cols
from tripleforge.query import Pattern
from tripleforge.sparql_dataset import _apply_dataset, _map_blocks, _parse_dataset
from tripleforge.sparql_expr import _reset_query_clock
from tripleforge.sparql_grammar import (
    _parse_group_pattern,
    _parse_modifiers,
)
from tripleforge.sparql_lex import SparqlError, _Cursor, _kw, _tokenize

# ---------------------------------------------------------------------------
# INSERT DATA / DELETE DATA
# ---------------------------------------------------------------------------
# the columns of a parse_update statement row
_DATA_COLUMNS = ["subj", "pred", "obj", "obj_kind", "obj_dt", "obj_lang", "graph"]


def parse_update(text: str) -> tuple[str, str | None, list[tuple]]:
    """→ (op ∈ {insert, delete}, WITH graph or None, statement rows).

    Rows are ``(subj, pred, obj, obj_kind, obj_dt, obj_lang, graph)``
    with TriG-style GRAPH blocks honored inside the data block and
    blank nodes skolemized deterministically on the update text hash.
    """
    toks = _tokenize(text)
    c = _Cursor(toks)
    c.prologue()
    with_graph = None
    if _kw(c.peek(), "WITH"):
        c.next()
        k, v = c.next()
        if k != "IRI":
            raise SparqlError("WITH needs an IRIREF")
        with_graph = c.iri(v[1:-1])
    t = c.next()
    if _kw(t, "INSERT"):
        op = "insert"
    elif _kw(t, "DELETE"):
        op = "delete"
    else:
        raise SparqlError(f"expected INSERT or DELETE, got {t!r}")
    if not _kw(c.next(), "DATA"):
        raise SparqlError("only INSERT DATA / DELETE DATA are supported")
    if c.next() != ("PUNCT", "{"):
        raise SparqlError("expected '{' after DATA")
    # find the matching close brace (quad data may contain GRAPH blocks)
    depth, start = 1, c.i
    while depth:
        t = c.next()
        if t == ("PUNCT", "{"):
            depth += 1
        elif t == ("PUNCT", "}"):
            depth -= 1
    inner = toks[start : c.i - 1]
    if c.peek() is not None:
        raise SparqlError(f"trailing tokens after update: {c.peek()!r}")
    # SPARQL §19.8 QuadData: the FINAL triple's '.' is optional (unlike
    # TriG proper) — synthesize it so the TriG parser sees terminated
    # statements; after a '}' (graph block) no terminator is needed
    if inner and inner[-1] not in (("PUNCT", "."), ("PUNCT", "}")):
        inner = inner + [("PUNCT", ".")]
    # the data block IS TriG — reuse the TriG parser (same term grammar,
    # same deterministic skolemization keyed on the update text)
    key = hashlib.sha256(text.encode("utf-8")).hexdigest()[:16]
    p = _Parser(inner, "urn:sparql-update", key, trig=True)
    p.prefixes.update(c.prefixes)
    if c.base:
        p.base = c.base  # prologue BASE scopes the quad data too (§19.8)
    try:
        p.parse()
    except TurtleError as exc:
        raise SparqlError(f"bad quad data: {exc}") from exc
    rows = []
    for s, pr, o, g in p.triples:
        sv = _term_to_cols(s, "urn:sparql-update", key)[0]
        pv = _term_to_cols(pr, "urn:sparql-update", key)[0]
        ov, okind, odt, olang = _term_to_cols(o, "urn:sparql-update", key)
        gv = _term_to_cols(g, "urn:sparql-update", key)[0] if g is not None else None
        rows.append((sv, pv, ov, okind, odt, olang, gv))
    if not rows:
        raise SparqlError("empty data block")
    return op, with_graph, rows


def _data_batch(spark: SparkSession, rows: list[tuple]) -> DataFrame:
    """:func:`parse_update` rows as a canonical statement batch that stays
    on the driver: canonicalized in-process (``canon.canonicalize_table``,
    the one canonicalizer) and handed to Spark as a LocalRelation, so no
    Python worker runs for it."""
    from tripleforge.canon import canonicalize_table

    tbl = pa.table([pa.array(col, pa.string()) for col in zip(*rows)], names=_DATA_COLUMNS)
    return spark.createDataFrame(canonicalize_table(tbl))


def _graph_term(c: _Cursor) -> tuple:
    k, v = c.next()
    if k == "VAR":
        return ("var", v[1:])
    if k == "IRI":
        return ("iri", c.iri(v[1:-1]))
    if k == "PNAME":
        ns, _, local = v.partition(":")
        if ns not in c.prefixes:
            raise SparqlError(f"undefined prefix {ns!r}:")
        return ("iri", c.prefixes[ns] + local)
    raise SparqlError(f"bad graph term {v!r}")


def _parse_template_block(c: _Cursor) -> list[tuple]:
    """'{' (triples | GRAPH g '{' triples '}')* '}' → template quads
    (s, p, o, g_term|None) — the DELETE/INSERT clause templates of the
    SPARQL 1.1 Modify form."""
    if c.next() != ("PUNCT", "{"):
        raise SparqlError("expected '{' to open a template")
    out: list[tuple] = []

    def triples(g: tuple | None) -> None:
        while True:
            t = c.peek()
            if t is None:
                raise SparqlError("unterminated template")
            if t == ("PUNCT", "}"):
                c.next()
                return
            if t == ("PUNCT", "."):
                c.next()
                continue
            if t[0] == "GRAPHKW" or _kw(t, "GRAPH"):
                if g is not None:
                    raise SparqlError("nested GRAPH in template")
                c.next()
                gt = _graph_term(c)
                if c.next() != ("PUNCT", "{"):
                    raise SparqlError("expected '{' after GRAPH label")
                triples(gt)
                continue
            from tripleforge.sparql import _template_term

            s = _template_term(c, "subject")
            p = _template_term(c, "predicate")
            o = _template_term(c, "object")
            out.append((s, p, o, g))

    triples(None)
    if not out:
        raise SparqlError("empty template")
    return out


def _delete_where_compile(
    patterns: list[Pattern], with_graph: str | None
) -> tuple[list[Pattern], list[tuple], list[tuple]]:
    """DELETE WHERE: the pattern block doubles as the delete template.
    Constant objects are rebound through synthetic variables (equality
    filters) so the deleted statements carry their true
    kind/datatype/language; unset graphs bind a synthetic graph
    variable so the matched statement's actual graph is deleted."""
    new_patterns: list[Pattern] = []
    template: list[tuple] = []
    extra_filters: list[tuple] = []
    for i, pt in enumerate(patterns):
        if pt.optional:
            raise SparqlError("OPTIONAL is not allowed in DELETE WHERE")
        if isinstance(pt.p, tuple):
            raise SparqlError("property paths are not allowed in DELETE WHERE")
        s_t = ("var", pt.s[1:]) if _is_tvar(pt.s) else ("iri", pt.s)
        p_t = ("var", pt.p[1:]) if _is_tvar(pt.p) else ("iri", pt.p)
        if _is_tvar(pt.o):
            o_pat, o_t = pt.o, ("var", pt.o[1:])
        else:
            o_pat = f"?__o{i}"
            o_t = ("var", f"__o{i}")
            extra_filters.append(("cmp", f"__o{i}", "=", pt.o, False))
        if pt.g is None:
            if with_graph is None:
                g_pat, g_t = f"?__g{i}", ("var", f"__g{i}")
            else:
                g_pat, g_t = with_graph, ("iri", with_graph)
        elif _is_tvar(pt.g):
            g_pat, g_t = pt.g, ("var", pt.g[1:])
        else:
            g_pat, g_t = pt.g, ("iri", pt.g)
        new_patterns.append(Pattern(s=pt.s, p=pt.p, o=o_pat, g=g_pat))
        template.append((s_t, p_t, o_t, g_t))
    return new_patterns, template, extra_filters


def _is_tvar(term: str | None) -> bool:
    return isinstance(term, str) and term.startswith("?")


# IRIREF per SPARQL grammar: no spaces, quotes, braces, <, >, etc.
# between the angle brackets (used to disambiguate '<' from less-than)
_IRIREF_AT_RE = re.compile(r"<[^<>\"{}|^`\\\x00-\x20]*>")


def _split_update_sequence(text: str) -> list[str]:
    """Split an update request on top-level ``;`` separators (§3.1
    UpdateUnit := Update (';' Update)*), respecting brace/paren depth,
    all four string-literal quote forms, IRIREFs, and comments."""
    parts: list[str] = []
    depth = 0
    i = start = 0
    n = len(text)
    while i < n:
        ch = text[i]
        if ch == "#":
            while i < n and text[i] != "\n":
                i += 1
        elif ch == "<" and _IRIREF_AT_RE.match(text, i):
            # only an actual IRIREF opens a <...> scan — a bare '<' is a
            # comparison operator (ADVICE r3: 'FILTER(?o < 5) } ; ...'
            # swallowed text to the next '>' and skipped the separator)
            j = text.find(">", i + 1)
            i = n if j < 0 else j
        elif ch in "\"'":
            q = ch
            if text[i : i + 3] == q * 3:
                j = text.find(q * 3, i + 3)
                i = n if j < 0 else j + 2
            else:
                i += 1
                while i < n and text[i] != q:
                    if text[i] == "\\":
                        i += 1
                    i += 1
        elif ch in "{(":
            depth += 1
        elif ch in "})":
            depth -= 1
        elif ch == ";" and depth == 0:
            parts.append(text[start:i])
            start = i + 1
        i += 1
    parts.append(text[start:])
    return [p for p in parts if p.strip()]


_PROLOGUE_RE = re.compile(
    r"^(?:\s*(?:PREFIX\s+\S+\s*<[^>]*>|BASE\s*<[^>]*>))*\s*",
    re.IGNORECASE,
)


def execute_update(
    spark: SparkSession, catalog, text: str, run_id: str | None = None
) -> int:
    """Parse and execute one SPARQL 1.1 update string against the
    catalog; returns the committed snapshot id. Forms:

    - ``[WITH <g>] INSERT DATA { quads }`` / ``DELETE DATA { quads }``
    - ``[WITH <g>] DELETE WHERE { patterns }``
    - ``[WITH <g>] [DELETE {tmpl}] [INSERT {tmpl}] WHERE { patterns }
      [USING [NAMED] <g> …]`` (one atomic snapshot; deletes then
      inserts, both against the pre-update store — SPARQL 1.1 §3.1.3)
    - ``LOAD <file-uri-or-path> [INTO GRAPH <g>]`` — the reference
      loader's core operation: parse RDF files from storage and commit
    - an ``op1 ; op2 ; …`` sequence — each operation sees the previous
      one's result (sequential snapshots; §3.1 UpdateUnit)
    """
    _reset_query_clock()
    segments = _split_update_sequence(text)
    if len(segments) > 1:
        # the request prologue (PREFIX/BASE) scopes the whole sequence
        prologue = _PROLOGUE_RE.match(segments[0]).group(0)
        sid = 0
        for k, seg in enumerate(segments):
            full = seg if k == 0 else prologue + seg
            rid = f"{run_id}-{k}" if run_id is not None else None
            sid = execute_update(spark, catalog, full, run_id=rid)
        return sid
    from tripleforge import update as update_mod
    from tripleforge.canon import canonicalize

    c = _Cursor(_tokenize(text))
    c.prologue()
    with_graph = None
    if _kw(c.peek(), "WITH"):
        c.next()
        k, v = c.next()
        if k != "IRI":
            raise SparqlError("WITH needs an IRIREF")
        with_graph = c.iri(v[1:-1])
    t = c.peek()
    if _kw(t, "CLEAR") or _kw(t, "DROP"):
        c.next()
        if _kw(c.peek(), "SILENT"):
            c.next()
        t = c.peek()
        if _kw(t, "ALL"):
            c.next()
            which, g = "all", None
        elif _kw(t, "DEFAULT"):
            c.next()
            which, g = "default", None
        elif _kw(t, "NAMED"):
            c.next()
            which, g = "named", None
        elif t is not None and (t[0] == "GRAPHKW" or _kw(t, "GRAPH")):
            c.next()
            k, v = c.next()
            if k != "IRI":
                raise SparqlError("CLEAR/DROP GRAPH needs an IRIREF")
            which, g = "graph", c.iri(v[1:-1])
        else:
            raise SparqlError("expected GRAPH <iri> | DEFAULT | NAMED | ALL")
        if c.peek() is not None:
            raise SparqlError(f"trailing tokens: {c.peek()!r}")
        return update_mod.clear(catalog, graph=g, which=which, run_id=run_id)
    if _kw(t, "CREATE"):
        c.next()
        if _kw(c.peek(), "SILENT"):
            c.next()
        if not (c.peek() and (c.peek()[0] == "GRAPHKW" or _kw(c.peek(), "GRAPH"))):
            raise SparqlError("expected GRAPH after CREATE")
        c.next()
        k, v = c.next()
        if k != "IRI":
            raise SparqlError("CREATE GRAPH needs an IRIREF")
        # graphs are implicit in this store (a graph exists iff it has
        # statements) — CREATE is a spec-compliant no-op
        return catalog.latest_snapshot_id() or 0
    if _kw(t, "COPY") or _kw(t, "MOVE") or _kw(t, "ADD"):
        op = t[1].lower()
        c.next()
        if _kw(c.peek(), "SILENT"):
            c.next()

        def graph_or_default() -> str | None:
            tk = c.peek()
            if _kw(tk, "DEFAULT"):
                c.next()
                return None
            if tk is not None and (tk[0] == "GRAPHKW" or _kw(tk, "GRAPH")):
                c.next()
                tk = c.peek()
            k, v = c.next()
            if k != "IRI":
                raise SparqlError(f"{op.upper()} needs GRAPH <iri> or DEFAULT")
            return c.iri(v[1:-1])

        src = graph_or_default()
        if not _kw(c.next(), "TO"):
            raise SparqlError(f"expected TO in {op.upper()}")
        dst = graph_or_default()
        if c.peek() is not None:
            raise SparqlError(f"trailing tokens: {c.peek()!r}")
        return update_mod.graph_op(catalog, op, src, dst, run_id=run_id)
    if _kw(t, "LOAD"):
        c.next()
        if _kw(c.peek(), "SILENT"):
            c.next()
        k, v = c.next()
        if k != "IRI":
            raise SparqlError("LOAD needs a source IRIREF")
        source = c.iri(v[1:-1])
        graph = with_graph
        if _kw(c.peek(), "INTO"):
            c.next()
            if not (c.peek() and (c.peek()[0] == "GRAPHKW" or _kw(c.peek(), "GRAPH"))):
                raise SparqlError("expected GRAPH after INTO")
            c.next()
            k, v = c.next()
            if k != "IRI":
                raise SparqlError("INTO GRAPH needs an IRIREF")
            graph = c.iri(v[1:-1])
        if c.peek() is not None:
            raise SparqlError(f"trailing tokens after LOAD: {c.peek()!r}")
        return _exec_load(spark, catalog, source, graph, run_id)

    if _kw(t, "INSERT") or _kw(t, "DELETE"):
        op = "insert" if _kw(t, "INSERT") else "delete"
        c.next()
        nxt = c.peek()
        if _kw(nxt, "DATA"):
            # the TriG-parsed quad block stays on the driver: its one
            # collect (update.collect_batch) runs no job
            _, _, rows = parse_update(text)
            fn = update_mod.insert_data if op == "insert" else update_mod.delete_data
            return fn(catalog, _data_batch(spark, rows), graph=with_graph, run_id=run_id)
        delete_tmpl = insert_tmpl = None
        where_dataset: tuple[list[str], list[str]] | None = None
        if op == "delete" and _kw(nxt, "WHERE"):
            groups = _parse_group_pattern(c)
            if len(groups) > 1:
                # per-grammar: DELETE WHERE takes a QuadPattern, which
                # admits only triples/GRAPH blocks — no UNION (use the
                # full DELETE {} WHERE {} modify form instead)
                raise SparqlError(
                    "DELETE WHERE takes a quad pattern (no UNION); use "
                    "DELETE { … } WHERE { … }"
                )
            patterns, ops, opt_blocks = groups[0]
            if opt_blocks:
                raise SparqlError("OPTIONAL is not allowed in DELETE WHERE")
            _parse_modifiers(c)
            patterns, delete_tmpl, extra = _delete_where_compile(patterns, with_graph)
            ops = ops + extra
            groups = [(patterns, ops, opt_blocks)]
        else:
            if nxt != ("PUNCT", "{"):
                raise SparqlError("expected DATA, WHERE, or a template")
            tmpl = _parse_template_block(c)
            if op == "delete":
                delete_tmpl = tmpl
                if _kw(c.peek(), "INSERT"):
                    c.next()
                    insert_tmpl = _parse_template_block(c)
            else:
                insert_tmpl = tmpl
            using = _parse_dataset(c, kw="USING")
            groups = _parse_group_pattern(c)
            _parse_modifiers(c)
            if using[0] or using[1]:
                # USING/USING NAMED scope the WHERE evaluation (and
                # override WITH there — SPARQL 1.1 §3.1.3); WITH still
                # provides the templates' default graph
                where_dataset = using
            elif with_graph is not None:
                # WITH <g> scopes the WHOLE WHERE clause (§3.1.3):
                # every default-graph pattern, in every block, gets g
                def scope(pts, block_ops):
                    pts = [replace(pt, g=pt.g or with_graph) for pt in pts]
                    return pts, block_ops

                groups = [_map_blocks(g, scope) for g in groups]
        # evaluation/construct helpers live in tripleforge.sparql —
        # imported at call time to keep the module DAG acyclic
        from tripleforge.sparql import _instantiate, _solutions

        def where(store):
            # evaluated by modify on the snapshot it commits against
            blocks, nb = groups, catalog.n_buckets
            if where_dataset is not None:
                store, blocks, nb = _apply_dataset(store, blocks, where_dataset, nb)
            # the WHERE clause is a full GroupGraphPattern: a multi-group
            # parse is a top-level UNION, evaluated exactly as in SELECT
            # (r5d lift — was a loud "UNION is not supported in updates")
            sol = _solutions(store, blocks, carry_meta=True, n_buckets=nb)
            return tuple(
                canonicalize(_instantiate(sol, tmpl, with_graph)) if tmpl else None
                for tmpl in (delete_tmpl, insert_tmpl)
            )

        return update_mod.modify(catalog, where, run_id=run_id)
    raise SparqlError("expected LOAD, INSERT, or DELETE")


def _exec_load(
    spark: SparkSession, catalog, source: str, graph: str | None, run_id: str | None
) -> int:
    """LOAD: read RDF files from storage through the corpus scan and
    run the full build pipeline (parse → canon → graph inject → commit)
    — exactly what the reference's loader CLI does for one file set."""
    from tripleforge.io import read_files_as_corpus
    from tripleforge.pipeline import BuildConfig, build

    path = re.sub(r"^file://", "", source)
    corpus = read_files_as_corpus(spark, path)
    res = build(
        spark,
        corpus,
        catalog,
        BuildConfig(
            graph_override=graph, link_entities=False, run_id=run_id, resume=False
        ),
    )
    return res.snapshot_id

