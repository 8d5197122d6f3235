"""Cross-cutting invariants: sha256 per-row check (BASELINE.json
input_hint), determinism across partition counts (SURVEY §5.2.3),
the P/R gate vs the oracle parser (§5.2.7), N-Triples round-trip
(§5.2.4), and the no-row-UDF CI rule (§2.E)."""

from __future__ import annotations

import hashlib
import os
import re
import subprocess

from pyspark.sql import functions as F

from tests.oracle_rdf import parse_corpus_rows
from tripleforge.datagen import CorpusSpec, corpus_df, generate_corpus
from tripleforge.eval import precision_recall
from tripleforge.lineage import dataset_checksum
from tripleforge.ops import with_sha256
from tripleforge.pipeline import BuildConfig, transform

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_sha256_invariant(spark):
    """Engine F.sha2 fingerprint == hashlib.sha256 for every row."""
    rows = generate_corpus(CorpusSpec(n_repos=2, files_per_repo=3))
    df = with_sha256(corpus_df(spark, CorpusSpec(n_repos=2, files_per_repo=3)))
    got = {r.path + r.repo: r.content_sha256 for r in df.collect()}
    for repo, path, commit, lang, content in rows:
        assert got[path + repo] == hashlib.sha256(content.encode()).hexdigest()


def test_determinism_across_partitionings(spark):
    """Same corpus at 2 vs 17 partitions → identical dataset checksum
    (sandbox proxy for cross-cluster-size determinism)."""
    spec = CorpusSpec(
        n_repos=4, files_per_repo=3, stmts_per_file=12,
        formats=("nt", "nq", "ttl"), link_rate=0.1, dup_rate=0.1,
    )
    base = corpus_df(spark, spec)
    out_a, _ = transform(base.repartition(2))
    out_b, _ = transform(base.repartition(17))
    assert dataset_checksum(out_a) == dataset_checksum(out_b)


def test_skolem_determinism(spark):
    """Bnode skolem IRIs identical across independent runs."""
    spec = CorpusSpec(n_repos=1, files_per_repo=1)
    corpus = spark.createDataFrame(
        [("r", "f.nt", "c", "N-Triples", "_:x <http://p> _:y .\n")],
        "repo string, path string, commit string, lang string, content string",
    )
    a, _ = transform(corpus, BuildConfig(link_entities=False))
    b, _ = transform(corpus, BuildConfig(link_entities=False))
    assert a.collect() == b.collect()
    subj = a.first().subj
    assert subj.startswith("urn:skolem:") and len(subj) == len("urn:skolem:") + 64


def test_pr_gate_vs_oracle(spark):
    """P ≥ 0.95 ∧ R ≥ 0.95 on the generated NT/NQ corpus vs the
    independent pure-Python oracle (BASELINE.json gate)."""
    # (a) line-oriented formats WITH malformed lines: both sides drop
    # exactly the bad lines → exact match expected
    # (b) mixed formats incl. Turtle, clean: exact match expected
    # (Turtle + injected errors is excluded from the ==1.0 check because
    # the engine correctly fails the whole file — file-granularity error
    # semantics — while the line-oriented oracle drops single lines.)
    specs = [
        CorpusSpec(n_repos=5, files_per_repo=4, stmts_per_file=25,
                   formats=("nt", "nq"), dup_rate=0.1, error_rate=0.1),
        CorpusSpec(n_repos=6, files_per_repo=4, stmts_per_file=25,
                   formats=("nt", "nq", "ttl"), dup_rate=0.1),
        CorpusSpec(n_repos=6, files_per_repo=4, stmts_per_file=25,
                   formats=("nt", "trig", "nq"), dup_rate=0.1),
        # JSON-LD (r4): clean mixed corpus AND error-injected corpus —
        # a malformed JSON-LD file fails whole-document on BOTH sides
        # (json.loads in the oracle, the parse kernel in the engine),
        # so exact match holds even with errors
        CorpusSpec(n_repos=5, files_per_repo=4, stmts_per_file=25,
                   formats=("nt", "jsonld", "nq"), dup_rate=0.1),
        CorpusSpec(n_repos=4, files_per_repo=4, stmts_per_file=20,
                   formats=("jsonld",), error_rate=0.2),
        # TriX (r5): clean mixed corpus AND error-injected corpus — a
        # malformed TriX file fails whole-document on BOTH sides
        # (ET.fromstring in the oracle, the parse kernel in the engine)
        CorpusSpec(n_repos=5, files_per_repo=4, stmts_per_file=25,
                   formats=("nt", "trix", "nq"), dup_rate=0.1),
        CorpusSpec(n_repos=4, files_per_repo=4, stmts_per_file=20,
                   formats=("trix",), error_rate=0.2),
    ]
    for spec in specs:
        rows = generate_corpus(spec)
        corpus = corpus_df(spark, spec)
        ours, _ = transform(corpus, BuildConfig(link_entities=False))
        oracle_quads = sorted(parse_corpus_rows(rows))
        oracle_df = spark.createDataFrame(
            oracle_quads,
            "graph string, subj string, pred string, obj string, obj_kind string, obj_dt string, obj_lang string",
        )
        p, r = precision_recall(ours, oracle_df)
        assert p >= 0.95 and r >= 0.95, (spec.formats, p, r)
        assert p == 1.0 and r == 1.0, (spec.formats, p, r)


def test_nt_roundtrip_property(spark):
    """Serialize statements → N-Triples text → parse → set equality
    (seeded property-based round-trip)."""
    import random

    rng = random.Random(7)
    stmts = []
    for i in range(200):
        s = f"http://ex.org/s{rng.randrange(50)}"
        p = f"http://ex.org/p{rng.randrange(10)}"
        kind = rng.randrange(3)
        if kind == 0:
            stmts.append((s, p, f"http://ex.org/o{rng.randrange(50)}", "iri", None, None))
        elif kind == 1:
            lex = "".join(rng.choice('abc "\\\n\téü') for _ in range(rng.randrange(1, 8)))
            stmts.append((s, p, lex, "literal", "http://www.w3.org/2001/XMLSchema#string", None))
        else:
            stmts.append((s, p, "tag", "literal", "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString", "en"))
    def esc(x):
        return (
            x.replace("\\", "\\\\").replace('"', '\\"').replace("\n", "\\n")
            .replace("\r", "\\r").replace("\t", "\\t")
        )
    lines = []
    for s, p, o, k, dt, lang in stmts:
        if k == "iri":
            lines.append(f"<{s}> <{p}> <{o}> .")
        elif lang:
            lines.append(f'<{s}> <{p}> "{esc(o)}"@{lang} .')
        else:
            lines.append(f'<{s}> <{p}> "{esc(o)}" .')
    corpus = spark.createDataFrame(
        [("r", "f.nt", "c", "N-Triples", "\n".join(lines))],
        "repo string, path string, commit string, lang string, content string",
    )
    out, errs = transform(corpus, BuildConfig(link_entities=False, canonicalize=False))
    assert errs.count() == 0
    got = {(r.subj, r.pred, r.obj, r.obj_kind, r.obj_dt, r.obj_lang) for r in out.collect()}
    assert got == set(stmts)


def test_no_row_udf():
    """BANNED: row-at-a-time F.udf anywhere in the engine (north_star:
    'no per-row Python anywhere on the hot path')."""
    bad = re.compile(r"\bF\.udf\b|\bpyspark\.sql\.functions\.udf\b|@udf\b")
    pkg = os.path.join(REPO, "tripleforge")
    offenders = []
    for dirpath, _, files in os.walk(pkg):
        for fn in files:
            if fn.endswith(".py"):
                with open(os.path.join(dirpath, fn)) as fh:
                    if bad.search(fh.read()):
                        offenders.append(os.path.join(dirpath, fn))
    assert not offenders, offenders


def test_content_column_pruned_before_shuffle(spark):
    """`content` (KB-MB per row) must not survive past the parse stage —
    check the parsed plan's output columns."""
    corpus = corpus_df(spark, CorpusSpec(n_repos=2, files_per_repo=2))
    out, _ = transform(corpus, BuildConfig(link_entities=False))
    assert "content" not in out.columns
    plan = out._jdf.queryExecution().executedPlan().toString()
    # content appears only below the Python map node (scan side)
    after_python = plan.split("MapInArrow")[0]
    assert "content" not in after_python


def test_public_serializer_roundtrip(spark, tmp_path):
    """VERDICT r1 #6: serialize → parse → set equality, through the
    PUBLIC io.write_ntriples / to_ntriples_lines API (the reference's
    CONSTRUCT-output analog), for both NT and NQ, with escape-heavy
    literals."""
    import random

    from tripleforge.io import to_ntriples_lines, write_ntriples

    rng = random.Random(11)
    stmts = []
    for i in range(150):
        s = f"http://ex.org/s{rng.randrange(40)}"
        p = f"http://ex.org/p{rng.randrange(8)}"
        g = rng.choice([None, "http://ex.org/g1", "http://ex.org/g2"])
        kind = rng.randrange(4)
        if kind == 0:
            stmts.append((s, p, f"http://ex.org/o{rng.randrange(40)}", "iri", None, None, g))
        elif kind == 1:
            lex = "".join(rng.choice('ab"\\\n\r\t\b\f é💡') for _ in range(rng.randrange(1, 10)))
            stmts.append((s, p, lex, "literal", "http://www.w3.org/2001/XMLSchema#string", None, g))
        elif kind == 2:
            stmts.append((s, p, str(rng.randrange(999)), "literal",
                          "http://www.w3.org/2001/XMLSchema#integer", None, g))
        else:
            stmts.append((s, p, "tagged", "literal",
                          "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString", "en", g))
    df = spark.createDataFrame(
        stmts,
        "subj string, pred string, obj string, obj_kind string, obj_dt string, obj_lang string, graph string",
    )
    out = str(tmp_path / "nq_out")
    write_ntriples(df, out, quads=True)
    content = "\n".join(
        r.value for r in spark.read.text(out).collect()
    )
    corpus = spark.createDataFrame(
        [("r", "f.nq", "c", "N-Quads", content)],
        "repo string, path string, commit string, lang string, content string",
    )
    parsed, errs = transform(corpus, BuildConfig(link_entities=False, canonicalize=False))
    assert errs.count() == 0
    got = {
        (r.subj, r.pred, r.obj, r.obj_kind, r.obj_dt, r.obj_lang, r.graph)
        for r in parsed.collect()
    }
    # parser injects urn:repo:r for default-graph lines
    want = {
        (s, p, o, k, dt, lg, g if g is not None else "urn:repo:r")
        for (s, p, o, k, dt, lg, g) in set(stmts)
    }
    assert got == want
    # NT variant drops the graph term entirely
    nt_line = to_ntriples_lines(df.where(F.col("graph") == "http://ex.org/g1")).first().line
    assert nt_line.endswith(" .") and "http://ex.org/g1" not in nt_line
