"""Entity-linking tests (SURVEY.md §5.2.5): constructed equivalence
graphs (chains, stars, cliques, cross-partition components) → expected
representative mapping; a skew case exercises big blocks."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tripleforge.link import (
    block_and_cap,
    candidate_edges,
    connected_components,
    normalize_edges,
    rewrite,
    salted_join,
)
from tripleforge.schema import OWL_SAMEAS


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "u string, v string")


def _mapping(df):
    return {r.member: r.representative for r in df.collect()}


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# threshold 10**9 → driver union-find path; 0 → distributed star rounds
PATHS = [10**9, 0]


@pytest.mark.parametrize("thr", PATHS)
def test_cc_chain(spark, thr):
    # a-b-c-d-e chain → representative is the min member
    e = _edges(spark, [("b", "a"), ("c", "b"), ("d", "c"), ("e", "d")])
    m = _mapping(connected_components(e, driver_threshold=thr))
    assert m == {"b": "a", "c": "a", "d": "a", "e": "a"}


@pytest.mark.parametrize("thr", PATHS)
def test_cc_star_and_clique(spark, thr):
    e = _edges(
        spark,
        [("hub", "s1"), ("hub", "s2"), ("hub", "s3")]  # star
        + [("x", "y"), ("y", "z"), ("x", "z")],  # clique
    )
    m = _mapping(connected_components(e, driver_threshold=thr))
    assert m["s1"] == m["s2"] == m["s3"] == "hub"
    assert m["y"] == m["z"] == "x"


@pytest.mark.parametrize("thr", PATHS)
def test_cc_multiple_components_and_partitions(spark, thr):
    # components spread across many partitions
    pairs = [(f"n{i}", f"n{i+1}") for i in range(0, 40, 2)]  # 20 2-node comps
    e = _edges(spark, pairs).repartition(8)
    m = _mapping(connected_components(e, driver_threshold=thr))
    assert len(m) == 20
    for i in range(0, 40, 2):
        assert m[f"n{i+1}"] == f"n{i}"


@pytest.mark.parametrize("thr", PATHS)
def test_cc_long_chain_converges(spark, thr):
    n = 60
    e = _edges(spark, [(f"c{i:03d}", f"c{i+1:03d}") for i in range(n)])
    m = _mapping(connected_components(e, driver_threshold=thr))
    assert all(rep == "c000" for rep in m.values())
    assert len(m) == n


def test_cc_paths_agree(spark):
    """Driver union-find and distributed star rounds produce identical
    mappings on a mixed graph (the hybrid-execution contract)."""
    import random

    rng = random.Random(3)
    pairs = [(f"v{rng.randrange(80)}", f"v{rng.randrange(80)}") for _ in range(120)]
    e = _edges(spark, [(u, v) for u, v in pairs if u != v])
    assert _mapping(connected_components(e, driver_threshold=10**9)) == _mapping(
        connected_components(e, driver_threshold=0)
    )


def test_candidate_edges_sameas_and_keys(spark):
    stmts = spark.createDataFrame(
        [
            ("http://a", OWL_SAMEAS, "http://b", "iri", None, None, "g"),
            ("http://c", "http://ex/isbn", "12345", "literal", None, None, "g"),
            ("http://d", "http://ex/isbn", "12345", "literal", None, None, "g"),
            ("http://e", "http://ex/isbn", "999", "literal", None, None, "g"),
        ],
        "subj string, pred string, obj string, obj_kind string, obj_dt string, obj_lang string, graph string",
    )
    edges = candidate_edges(stmts, key_preds=["http://ex/isbn"])
    got = {(r.u, r.v) for r in edges.collect()}
    assert ("http://a", "http://b") in got
    assert ("http://d", "http://c") in got  # star edge to block-min
    assert not any("http://e" in e for e in got)  # singleton block → no edge


def test_block_cap_drops_giant_blocks(spark):
    rows = [("p", "junk", f"s{i}") for i in range(100)] + [("p", "good", "a"), ("p", "good", "b")]
    df = spark.createDataFrame(rows, "pred string, obj string, subj string")
    capped = block_and_cap(df, ["pred", "obj"], max_block=10)
    objs = {r.obj for r in capped.collect()}
    assert objs == {"good"}


def test_block_cap_drops_null_keys(spark):
    """A null in any key column puts a row in no block: it is dropped
    whether its would-be block is below the cap or above it."""
    rows = (
        [("p", None, f"n{i}") for i in range(3)]  # null block below the cap
        + [(None, "x", f"m{i}") for i in range(20)]  # null block above it
        + [("p", "good", "a"), ("p", "good", "b")]
    )
    df = spark.createDataFrame(rows, "pred string, obj string, subj string")
    capped = block_and_cap(df, ["pred", "obj"], max_block=10)
    assert sorted(r.subj for r in capped.collect()) == ["a", "b"]


def test_rewrite_subj_and_obj(spark):
    stmts = spark.createDataFrame(
        [
            ("http://dup", "http://p", "http://dup", "iri", None, None, "g"),
            ("http://x", "http://p", "lit", "literal", None, None, "g"),
        ],
        "subj string, pred string, obj string, obj_kind string, obj_dt string, obj_lang string, graph string",
    )
    mapping = spark.createDataFrame(
        [("http://dup", "http://canon")], "member string, representative string"
    )
    out = rewrite(stmts, mapping).collect()
    rewritten = [r for r in out if r.pred == "http://p" and r.obj_kind == "iri"][0]
    assert rewritten.subj == "http://canon" and rewritten.obj == "http://canon"
    lit = [r for r in out if r.obj_kind == "literal"][0]
    assert lit.obj == "lit"  # literals never rewritten


def test_salted_join_matches_plain_join(spark):
    left = spark.createDataFrame(
        [("k1", i) for i in range(50)] + [("k2", i) for i in range(5)],
        "key string, lv int",
    )
    right = spark.createDataFrame([("k1", "r1"), ("k2", "r2")], "key string, rv string")
    salted = salted_join(left, right, "key", n_salt=4)
    plain = left.join(right, "key")
    assert salted.count() == plain.count() == 55
    assert {(r.key, r.lv, r.rv) for r in salted.collect()} == {
        (r.key, r.lv, r.rv) for r in plain.collect()
    }


def test_pipeline_linking_end_to_end(spark):
    """owl:sameAs chains across repos → all DATA statements rewritten to
    component representatives; the sameAs assertions themselves stay
    verbatim (provenance for future cross-snapshot compaction)."""
    from tripleforge.datagen import CorpusSpec, corpus_df
    from tripleforge.link import candidate_edges, connected_components
    from tripleforge.pipeline import BuildConfig, transform

    spec = CorpusSpec(n_repos=3, files_per_repo=2, stmts_per_file=10, link_rate=0.3)
    corpus = corpus_df(spark, spec)
    stmts, _ = transform(corpus, BuildConfig(link_entities=True))
    mapping = connected_components(candidate_edges(stmts))
    # no linked MEMBER may appear as the subject of a non-sameAs statement
    data = stmts.where(F.col("pred") != OWL_SAMEAS)
    leftovers = data.join(
        mapping.withColumnRenamed("member", "subj"), "subj", "inner"
    )
    assert leftovers.count() == 0
    # sameAs assertions preserved as asserted
    assert stmts.where(F.col("pred") == OWL_SAMEAS).count() > 0


def test_cc_raises_on_non_convergence(spark):
    """ADVICE r1: exhausting max_iter without a stable signature must
    raise, never silently return a partial mapping."""
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], "u string, v string"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iter=0, driver_threshold=0)


def test_cc_driver_threshold_is_byte_aware(spark):
    """Edges under the row threshold but over the byte budget must take
    the distributed path — and still produce the same mapping."""
    edges = spark.createDataFrame(
        [("x" * 100 + "a", "x" * 100 + "b"), ("x" * 100 + "b", "x" * 100 + "c")],
        "u string, v string",
    )
    via_driver = {
        (r.member, r.representative)
        for r in connected_components(edges).collect()
    }
    via_dist = {
        (r.member, r.representative)
        for r in connected_components(edges, driver_max_bytes=10).collect()
    }
    assert via_driver == via_dist


def test_rewrite_auto_and_plain_join_match_broadcast(spark, no_auto_broadcast):
    """VERDICT r1: size-aware rewrite — the shuffle-join path must match
    the broadcast path the planner picks for a small mapping, whether
    the mapping is a LocalRelation or an RDD scan."""
    stmts = spark.createDataFrame(
        [
            ("urn:a", "urn:p", "urn:b", "iri", None, None, "urn:g", None, None, None),
            ("urn:b", "urn:p", "lit", "literal", None, None, "urn:g", None, None, None),
            ("urn:c", "urn:p", "urn:a", "iri", None, None, "urn:g", None, None, None),
        ],
        "subj string, pred string, obj string, obj_kind string, obj_dt string, "
        "obj_lang string, graph string, src_repo string, src_path string, src_commit string",
    )
    rdd_mapping = spark.createDataFrame(
        [("urn:b", "urn:a"), ("urn:c", "urn:a")], "member string, representative string"
    )
    mapping = connected_components(_edges(spark, [("urn:b", "urn:a"), ("urn:c", "urn:a")]))
    key = lambda df: {
        (r.subj, r.pred, r.obj) for r in df.select("subj", "pred", "obj").collect()
    }
    bcast = key(rewrite(stmts, mapping))  # the planner broadcasts a LocalRelation
    assert "BroadcastHashJoin" in _plan(rewrite(stmts, mapping))
    auto_small = key(rewrite(stmts, rdd_mapping))
    with no_auto_broadcast():
        assert "BroadcastHashJoin" not in _plan(rewrite(stmts, mapping))
        plain = key(rewrite(stmts, mapping))
        auto_large = key(rewrite(stmts, rdd_mapping))
    assert bcast == plain == auto_small == auto_large
