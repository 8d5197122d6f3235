"""Expected answers, computed without the engine.

- append_mixed: the independent parser in ``tests/oracle_rdf.py``, a
  plain-Python ``owl:sameAs`` closure with the component minimum as
  representative (the engine's documented choice), and set dedup.
- serve_mix and store sizes: DuckDB over the catalog's parquet files.
"""

from __future__ import annotations

import glob
import os
import xml.etree.ElementTree as ET
from dataclasses import dataclass, field

import duckdb

from kgbench.inputs import BAD_LINE
from tests.oracle_rdf import parse_corpus_rows

SAMEAS = "http://www.w3.org/2002/07/owl#sameAs"
_RDF = "{http://www.w3.org/1999/02/22-rdf-syntax-ns#}"
_XML_LANG = "{http://www.w3.org/XML/1998/namespace}lang"
_PARSER_OF_LANG = {
    "N-Triples": "nt", "N-Quads": "nq", "Turtle": "ttl", "TriG": "trig",
    "RDF/XML": "rdfxml", "JSON-LD": "jsonld", "TriX": "trix",
}


@dataclass
class BatchExpect:
    n_triples: int = 0  # sum over units of unit-deduped statements
    n_errors: int = 0
    committed: int = 0  # rows the batch adds to the live store
    # (repo, commit) → (parser, n_triples, n_errors)
    units: dict = field(default_factory=dict)


def _nt_escape(s: str) -> str:
    return (s.replace("\\", "\\\\").replace('"', '\\"')
            .replace("\n", "\\n").replace("\r", "\\r"))


def rdfxml_to_nt(content: str) -> str:
    """The generated RDF/XML shape (one ``rdf:Description`` per
    statement) read back with ElementTree into N-Triples lines, so the
    oracle, which skips RDF/XML, can count these files too."""
    lines = []
    for desc in ET.fromstring(content):
        s = desc.attrib[_RDF + "about"]
        for prop in desc:
            ns, local = prop.tag[1:].split("}")
            p = ns + local
            if _RDF + "resource" in prop.attrib:
                o = f"<{prop.attrib[_RDF + 'resource']}>"
            else:
                o = f'"{_nt_escape(prop.text or "")}"'
                if _RDF + "datatype" in prop.attrib:
                    o += f"^^<{prop.attrib[_RDF + 'datatype']}>"
                elif _XML_LANG in prop.attrib:
                    o += "@" + prop.attrib[_XML_LANG]
            lines.append(f"<{s}> <{p}> {o} .")
    return "\n".join(lines) + "\n"


def _file_quads(row) -> tuple[set, int]:
    """→ (quads, error rows) of one corpus file. N-Triples/N-Quads fail
    per line; every other format fails as a whole document (the error
    model the engine documents for datagen's injected lines)."""
    repo, path, commit, lang, content = row
    parser = _PARSER_OF_LANG[lang]
    n_bad = sum(1 for ln in content.split("\n") if BAD_LINE in ln)
    if parser in ("nt", "nq"):
        good = "\n".join(ln for ln in content.split("\n") if BAD_LINE not in ln)
        return parse_corpus_rows([(repo, path, commit, lang, good)]), n_bad
    if n_bad:
        return set(), 1
    if parser == "rdfxml":
        row = (repo, path, commit, "N-Triples", rdfxml_to_nt(content))
    return parse_corpus_rows([row]), 0


def _closure(quads) -> dict[str, str]:
    """owl:sameAs union-find → member → component minimum."""
    parent: dict[str, str] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for g, s, p, o, kind, dt, lang in quads:
        if p == SAMEAS and kind == "iri" and s != o:
            a, b = find(s), find(o)
            if a != b:
                parent[max(a, b)] = min(a, b)
    return {x: find(x) for x in parent if find(x) != x}


def _rewrite(quads, rep) -> set:
    out = set()
    for g, s, p, o, kind, dt, lang in quads:
        if p != SAMEAS:  # sameAs assertions are kept verbatim
            s = rep.get(s, s)
            if kind == "iri":
                o = rep.get(o, o)
        out.add((g, s, p, o, kind, dt, lang))
    return out


def append_expectations(batches) -> list[BatchExpect]:
    """Per batch, in commit order, what a build must report and commit."""
    live: set = set()
    out = []
    for rows in batches:
        files = [(row, *_file_quads(row)) for row in rows]
        rep = _closure(set().union(*(q for _, q, _ in files)))
        exp = BatchExpect()
        batch: set = set()
        for row, quads, n_err in files:
            unit = _rewrite(quads, rep)
            exp.units[(row[0], row[2])] = (_PARSER_OF_LANG[row[3]], len(unit), n_err)
            exp.n_triples += len(unit)
            exp.n_errors += n_err
            batch |= unit
        exp.committed = len(batch - live)
        live |= batch
        out.append(exp)
    return out


# --------------------------------------------------------------------------
# DuckDB over the store's parquet
# --------------------------------------------------------------------------
class Store:
    """Read-only DuckDB view of a catalog's statement files, for the
    live paths the caller recorded at the moment it wants answered."""

    def __init__(self, root: str):
        self.root = root
        self.con = duckdb.connect()

    def close(self) -> None:
        self.con.close()

    def _files(self, live_paths) -> list[str]:
        return sorted(
            f for p in live_paths
            for f in glob.glob(os.path.join(self.root, p, "*.parquet"))
        )

    def rows(self, live_paths, sql: str, params=()) -> list[tuple]:
        files = self._files(live_paths)
        if not files:
            return []
        listed = ", ".join("'" + f.replace("'", "''") + "'" for f in files)
        self.con.execute(
            f"CREATE OR REPLACE TEMP VIEW t AS SELECT * FROM read_parquet([{listed}], "
            "union_by_name=true, hive_partitioning=false)"
        )
        return sorted(
            tuple(str(v) for v in r) for r in self.con.execute(sql, list(params)).fetchall()
        )

    def count(self, live_paths, where: str = "true", params=()) -> int:
        r = self.rows(live_paths, f"SELECT count(*) FROM t WHERE {where}", params)
        return int(r[0][0]) if r else 0

    def bytes_on_disk(self) -> int:
        return sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(self.root) for f in fs
        )


def point_answer(store: Store, live, subj: str):
    return store.rows(live, "SELECT pred, obj FROM t WHERE subj = ?", [subj])


def agg_answer(store: Store, live, graph: str):
    return store.rows(
        live, "SELECT pred, count(*) FROM t WHERE graph = ? GROUP BY pred", [graph]
    )


def join_answer(store: Store, live, pred_a: str, obj_a: str, pred_b: str):
    return store.rows(
        live,
        "SELECT a.subj, b.obj FROM t a JOIN t b ON a.subj = b.subj "
        "WHERE a.pred = ? AND a.obj = ? AND a.obj_kind = 'iri' AND b.pred = ?",
        [pred_a, obj_a, pred_b],
    )
