"""Arrow NT/NQ kernel parity: ``parse_corpus`` (the mapInArrow dispatcher)
must produce the same statement AND error rows as the reference kernel
``tripleforge.parse.ntnq``, called directly, on every input shape (mixed
formats, escapes, bnodes, empty literals, malformed lines).

With canonicalization on, the reference rows are canonicalized row by row
with the slow path (``normalize_iri_str`` on every IRI, ``_CANON_FNS`` on
every typed literal), so the Arrow fast-path masks — which skip rows they
judge already canonical — are checked against it."""

from __future__ import annotations

import pandas as pd
import pytest

from tripleforge.canon import _CANON_FNS, normalize_iri_str
from tripleforge.datagen import CorpusSpec, corpus_df
from tripleforge.detect import FORMAT_NQ, FORMAT_NT, FORMAT_RDFXML, FORMAT_TTL, with_format
from tripleforge.parse import ntnq, parse_corpus
from tripleforge.parse.rdfxml import parse_rdfxml
from tripleforge.parse.ttl import parse_ttl
from tripleforge.schema import CORPUS, STATEMENT_RAW

# the formats these tests feed, each with the kernel the reference runs
_REFERENCE = {
    FORMAT_NT: ntnq.parse_nt,
    FORMAT_NQ: ntnq.parse_nq,
    FORMAT_TTL: parse_ttl,
    FORMAT_RDFXML: parse_rdfxml,
}
_COLS = [f.name for f in STATEMENT_RAW.fields]


def _sorted(rows) -> list[tuple]:
    """Rows as column tuples, sorted with None before any string."""
    tuples = [tuple(r[c] for c in _COLS) for r in rows]
    return sorted(tuples, key=lambda t: [(v is not None, v or "") for v in t])


def _canon_row(r: dict) -> dict:
    if r["error"] is not None:
        return r
    r = dict(r, subj=normalize_iri_str(r["subj"]), pred=normalize_iri_str(r["pred"]))
    if r["graph"] is not None:
        r["graph"] = normalize_iri_str(r["graph"])
    if r["obj_kind"] == "iri":
        r["obj"] = normalize_iri_str(r["obj"])
    elif r["obj_dt"] in _CANON_FNS:
        r["obj"] = _CANON_FNS[r["obj_dt"]](r["obj"])
    return r


def _reference(corpus, canonicalize):
    pdf = corpus.select("repo", "path", "commit", "format", "content").toPandas()
    assert set(pdf["format"]) <= set(_REFERENCE)
    out = pd.concat(
        [kernel(pdf[pdf["format"] == f]) for f, kernel in _REFERENCE.items()],
        ignore_index=True,
    )[_COLS]
    rows = out.astype(object).where(out.notna(), None).to_dict("records")
    if canonicalize:
        rows = [_canon_row(r) for r in rows]
    return _sorted(rows)


def _compare(corpus, canonicalize):
    corpus = with_format(corpus)
    got = _sorted(parse_corpus(corpus, canonicalize=canonicalize).collect())
    assert got == _reference(corpus, canonicalize)
    n_errors = sum(r[-1] is not None for r in got)
    return len(got) - n_errors, n_errors


@pytest.mark.parametrize("canonicalize", [False, True])
def test_mixed_corpus_parity(spark, canonicalize):
    spec = CorpusSpec(
        n_repos=4, files_per_repo=4, stmts_per_file=12,
        formats=("nt", "nq", "ttl", "rdfxml"), error_rate=0.25, dup_rate=0.15,
    )
    n_stmts, n_errs = _compare(corpus_df(spark, spec), canonicalize)
    assert n_stmts > 0 and n_errs > 0  # both channels exercised


def test_edge_cases_parity(spark):
    content = (
        '<http://ex/s> <http://ex/p> "a\\"b\\u00e9\\n\\t" .\n'
        "_:b0 <http://ex/p> _:b1 .\n"
        '<http://ex/s> <http://ex/p> "" .\n'
        '<http://ex/s> <http://ex/p> "x"@EN-GB .\n'
        '<http://ex/s> <http://ex/p> "007"^^<http://www.w3.org/2001/XMLSchema#integer> .\n'
        "# full line comment\n"
        "\n"
        '<http://ex/s> <http://ex/p> <http://ex/o> . # trailing comment\n'
        "<http://bad truncated\n"
        '<HTTP://EX.ORG:80/a/../b> <http://ex/p> <http://ex/o%2f> .\n'
        '<http://ex.org> <http://ex/p> "P13M"^^<http://www.w3.org/2001/XMLSchema#duration> .\n'
        '<http://ex/caf\\u0065\\u0301> <http://ex/p> "13:20:00-05:00"^^<http://www.w3.org/2001/XMLSchema#time> .\n'
    )
    nq_content = (
        '<http://ex/s> <http://ex/p> <http://ex/o> <http://ex/g> .\n'
        '<http://ex/s> <http://ex/p> "v" .\n'
        "_:g1 <http://ex/p> <http://ex/o> _:gb .\n"
        '<http://ex/s> <http://ex/p> "1.50"^^<http://www.w3.org/2001/XMLSchema#decimal> <HTTP://EX.ORG/G> .\n'
    )
    corpus = spark.createDataFrame(
        [
            ("r1", "edge.nt", "c", "N-Triples", content),
            ("r1", "edge.nq", "c", "N-Quads", nq_content),
        ],
        CORPUS,
    )
    for canon in (False, True):
        _compare(corpus, canon)


def test_arrow_is_default_engine(spark):
    """The parse runs as one mapInArrow pass; there is no pandas engine."""
    corpus = with_format(
        corpus_df(spark, CorpusSpec(n_repos=1, files_per_repo=2))
    )
    plan = parse_corpus(corpus)._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan and "MapInPandas" not in plan
