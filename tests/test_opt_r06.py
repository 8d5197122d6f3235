"""Round-6 optimization equivalence tests.

Every optimization this round must keep query results bit-identical;
these tests pin the restructured internals against their previous
(slower) formulations on adversarial inputs.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from tripleforge import ops, text


# ---------------------------------------------------------------------------
# range_join: window pair-count == binned self-join pair-count
# ---------------------------------------------------------------------------
def _binned_pair_counts(e, binsz):
    """The pre-r6 formulation (binned equi-join + dedup) verbatim."""
    a = e.select(
        F.col("event_id").alias("id_a"), "user_id",
        F.col("us").alias("us_a"), F.floor(F.col("us") / binsz).alias("bin"),
    )
    b = e.select(
        F.col("event_id").alias("id_b"), "user_id",
        F.col("us").alias("us_b"),
        F.explode(
            F.sequence(F.floor(F.col("us") / binsz) - 1,
                       F.floor(F.col("us") / binsz) + 1)
        ).alias("bin"),
    )
    pairs = (
        a.join(b, ["user_id", "bin"])
        .where((F.col("id_a") < F.col("id_b"))
               & (F.abs(F.col("us_a") - F.col("us_b")) <= binsz))
        .select("user_id", "id_a", "id_b")
        .dropDuplicates()
    )
    return pairs.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_pairs"))


def _window_pair_counts(e, binsz):
    """The r6 formulation (mirrors __spark_entry__.q_range_join)."""
    w_rn = Window.partitionBy("user_id").orderBy("us", "event_id")
    w_lt = (
        Window.partitionBy("user_id").orderBy("us")
        .rangeBetween(Window.unboundedPreceding, -(binsz + 1))
    )
    cnt = F.row_number().over(w_rn) - F.lit(1) - F.count(F.lit(1)).over(w_lt)
    return (
        e.withColumn("cnt", cnt)
        .groupBy("user_id")
        .agg(F.sum("cnt").alias("n_pairs"))
        .where(F.col("n_pairs") > 0)
    )


def test_range_pair_count_window_equals_binned_join(spark):
    binsz = 100
    rows = []
    # user 1: exact-boundary deltas (== binsz in, == binsz+1 out),
    # bin-edge pairs (cross-bin within delta), and a duplicate timestamp
    rows += [(1, 10, 0), (1, 11, 100), (1, 12, 101), (1, 13, 100),
             (1, 14, 199), (1, 15, 205), (1, 16, 1000)]
    # user 2: all within one window incl. three-way timestamp tie
    rows += [(2, 20, 50), (2, 21, 50), (2, 22, 50), (2, 23, 149)]
    # user 3: no qualifying pairs (must be ABSENT from both outputs)
    rows += [(3, 30, 0), (3, 31, 500)]
    # user 4: dense run spanning several bins
    rows += [(4, 40 + i, i * 37) for i in range(20)]
    e = spark.createDataFrame(rows, "user_id long, event_id long, us long")
    a = {r["user_id"]: r["n_pairs"] for r in _binned_pair_counts(e, binsz).collect()}
    b = {r["user_id"]: r["n_pairs"] for r in _window_pair_counts(e, binsz).collect()}
    assert a == b
    assert 3 not in b  # zero-pair users dropped, as the join formulation does


def test_range_join_counts_a_duplicated_event_row_as_a_pair(spark, tmp_path):
    """q_range_join assumes event_id is unique. Pinned here: a row
    duplicated on (ts, event_id) pairs with its copy, so user 1's three
    rows count 3 pairs (the binned join's id_a < id_b would count 1)."""
    import datetime as dt

    import __spark_entry__ as em

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (10, t0, 1), (10, t0, 1), (11, t0 + dt.timedelta(minutes=1), 1),
        (20, t0, 2), (21, t0 + dt.timedelta(minutes=11), 2),
    ]
    spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long").write.parquet(
        str(tmp_path / "events.parquet")
    )
    got = {r["user_id"]: r["n_pairs"] for r in em.q_range_join(spark, str(tmp_path)).collect()}
    assert got == {1: 3}


# ---------------------------------------------------------------------------
# quality_score: positive-class regexp_count == negated-class replace
# ---------------------------------------------------------------------------
def test_quality_score_positive_class_counts(spark):
    texts = [
        "plain words only",
        "punct !@#$%^&*()_+-=[]{}|;:'\",.<>/?`~ and digits 0123456789",
        "",
        "mixed 4ever: a+b=c 100% \\ backslash",
        "unicode é ü … – txt",  # non-ASCII must count as neither class
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i long, t string")
    old_punct = F.length(F.regexp_replace(F.col("t"), r"[^!-/:-@\[-`{-~]", ""))
    old_digits = F.length(F.regexp_replace(F.col("t"), r"[^0-9]", ""))
    new_punct = F.regexp_count(F.col("t"), F.lit(r"[!-/:-@\[-`{-~]"))
    new_digits = F.regexp_count(F.col("t"), F.lit(r"[0-9]"))
    bad = df.where(
        (old_punct != new_punct) | (old_digits != new_digits)
    ).count()
    assert bad == 0
    # and the public scoring function still matches its documented formula
    out = df.select(text.quality_score(F.col("t")).alias("q")).collect()
    assert all(r["q"] is not None and 0.0 <= r["q"] <= 1.0 for r in out)


# ---------------------------------------------------------------------------
# shingles: one-pass regex extraction == transform/slice/array_join
# ---------------------------------------------------------------------------
def test_shingles_regex_equals_slice_join(spark):
    texts = [
        "one two three four five six seven",      # > k tokens
        "a b c d e",                              # exactly k
        "too short",                              # < k → full-text fallback
        "",                                       # empty
        "  Mixed   CASE \t whitespace  runs x y z q",  # normalization
        "dup dup dup dup dup dup dup",            # duplicate shingles
        "unicode é ü tokens — mixed in here ok",  # non-ASCII inside tokens
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i long, t string")
    k = 5
    toks = text.tokens(F.col("t"))
    old = F.array_distinct(
        F.when(
            F.size(toks) >= k,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - F.lit(k - 1)),
                lambda i: F.array_join(F.slice(toks, i, k), " "),
            ),
        ).otherwise(F.array(F.array_join(toks, " ")))
    )
    bad = df.where(text.shingles(F.col("t"), k) != old).count()
    assert bad == 0
    # and k=2 (the rolling-fingerprint family uses other widths)
    old2 = F.array_distinct(
        F.when(
            F.size(toks) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - F.lit(1)),
                lambda i: F.array_join(F.slice(toks, i, 2), " "),
            ),
        ).otherwise(F.array(F.array_join(toks, " ")))
    )
    assert df.where(text.shingles(F.col("t"), 2) != old2).count() == 0


# ---------------------------------------------------------------------------
# block_and_cap: anti-join-on-hot == count-join-filter
# ---------------------------------------------------------------------------
def test_block_and_cap_anti_join_equivalence(spark):
    from tripleforge.link import block_and_cap

    rows = [(i, "hot") for i in range(50)] + [
        (100 + i, f"k{i % 7}") for i in range(40)
    ] + [(200, "solo")]
    df = spark.createDataFrame(rows, "id long, key string")
    capped = block_and_cap(df, ["key"], max_block=10)
    got = sorted(r["id"] for r in capped.collect())
    # "hot" (50 members) dropped; k0..k6 (≤6 members each) and solo kept
    assert got == sorted([100 + i for i in range(40)] + [200])
    # same column layout as the old count-join-filter (join key first)
    assert capped.columns == ["key", "id"]


# ---------------------------------------------------------------------------
# widen_if_narrow: guard behavior
# ---------------------------------------------------------------------------
def test_widen_if_narrow(spark, tmp_path):
    p = str(tmp_path / "t.parquet")
    spark.range(1000).select(
        F.col("id").alias("doc_id"), F.lit("x").alias("text")
    ).coalesce(1).write.parquet(p)
    df = spark.read.parquet(p)
    target = spark.sparkContext.defaultParallelism
    wide = ops.widen_if_narrow(df, ["doc_id"])
    assert wide._jdf.queryExecution().toRdd().getNumPartitions() == target
    # exchange-bearing plans are left untouched (no eager probe, no
    # second shuffle)
    shuffled = df.repartition(2, "doc_id")
    assert ops.widen_if_narrow(shuffled, ["doc_id"]) is shuffled
    # already-wide inputs untouched
    wide_in = spark.range(0, 1000, 1, target).select(
        F.col("id").alias("doc_id"), F.lit("x").alias("text")
    )
    assert ops.widen_if_narrow(wide_in, ["doc_id"]) is wide_in
    # values unchanged by widening
    assert sorted(r["doc_id"] for r in wide.collect()) == list(range(1000))
