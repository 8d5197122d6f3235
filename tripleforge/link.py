"""Cross-file entity linking (SURVEY.md §2.A12-A17).

Pipeline: candidate equivalence edges (explicit ``owl:sameAs`` plus
shared inverse-functional keys) → capped blocking → DataFrame-native
connected components (alternating large-star / small-star, Kiveris et
al., "Connected Components in MapReduce and Beyond", SoCC'14) →
canonical-representative rewrite of the statement table.

Scale notes (the 100 TB story):
- Key blocks emit **star edges** (every subject → block-min subject),
  never all-pairs: O(n) edges per block instead of O(n²), so a
  million-subject block costs a million edges, not 10^12.
- Pathological blocks are capped (A14); the dropped volume is not
  reported anywhere yet. ``candidate_edges`` does not salt its
  star-edge join: AQE's skew-join split handles hot blocks there.
  ``salted_join`` is the A13 hot-key join utility, tested on its own.
- CC sizes its edges in one job; with none, the build skips the rewrite.
- Distributed CC rounds ``localCheckpoint()`` to truncate lineage —
  else plan depth grows O(iterations) and re-optimization dominates.
- The final mapping is usually tiny relative to the statement table:
  the planner and AQE broadcast the rewrite joins (A17) from its size,
  with no hint, and shuffle a dense one.

The reference has no entity resolution; its analog is exact-IRI merge
on load in the triplestore. This generalizes that per BASELINE.json
north_star ("cross-file entity linking of equivalent subjects via a
salted hash-join + connected-components resolution").
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from tripleforge.schema import OWL_SAMEAS


# ---------------------------------------------------------------------------
# A12 — candidate pairs
# ---------------------------------------------------------------------------
def candidate_edges(
    stmts: DataFrame,
    key_preds: list[str] | None = None,
    max_block: int = 10_000,
) -> DataFrame:
    """Candidate equivalence edges ``(u, v)``.

    - explicit ``owl:sameAs`` statements (subject ↔ object IRIs);
    - inverse-functional keys: subjects sharing ``(pred, obj)`` for a
      configured linking predicate are connected via star edges to the
      block-minimum subject (A14 keeps blocks bounded).
    """
    same_as = (
        stmts.where(
            (F.col("pred") == OWL_SAMEAS) & (F.col("obj_kind") == "iri")
        )
        .select(F.col("subj").alias("u"), F.col("obj").alias("v"))
    )
    edges = same_as
    if key_preds:
        keyed = (
            stmts.where(
                F.col("pred").isin(key_preds) & (F.col("obj_kind") == "literal")
            )
            .select("pred", "obj", "subj")
            .dropDuplicates()
        )
        capped = block_and_cap(keyed, ["pred", "obj"], max_block)
        # star edges: subj → min(subj) within the (pred, obj) block.
        # groupBy+join (not a window) so AQE can split skewed blocks.
        mins = capped.groupBy("pred", "obj").agg(F.min("subj").alias("rep"))
        star = (
            capped.join(mins, ["pred", "obj"])
            .where(F.col("subj") != F.col("rep"))
            .select(F.col("subj").alias("u"), F.col("rep").alias("v"))
        )
        edges = edges.unionByName(star)
    return edges.where(F.col("u") != F.col("v"))


# ---------------------------------------------------------------------------
# A14 — blocking / block-size cap
# ---------------------------------------------------------------------------
def block_and_cap(df: DataFrame, key: list[str], max_block: int) -> DataFrame:
    """Drop pathological key blocks (> ``max_block`` members) — typically
    junk join values (empty strings, "N/A").

    r6 (guide §3.1/§2.3): anti-join against the HOT keys only. The
    count aggregate is unavoidable (one shuffle on the key), but the
    old count-join-filter then inner-joined the FULL counts table back
    onto ``df`` — a second full-width shuffle join just to read a flag.
    Blocks over the cap are by construction rare (≤ n/max_block of
    them), so ``hot`` is tiny and AQE plans the anti-join as a
    broadcast — ``df`` itself is never shuffled for the cap. Worst
    case (adversarial corpus where hot is large) AQE falls back to the
    same shuffle join the old code always paid. Output rows and column
    layout identical (both forms put the join key first).

    Rows with a null in any key column belong to no block (a null key
    never equals another) and are dropped, whatever the block's size."""
    for k in key:
        df = df.where(F.col(k).isNotNull())
    counts = df.groupBy(*key).agg(F.count(F.lit(1)).alias("_blk_n"))
    hot = counts.where(F.col("_blk_n") > F.lit(max_block)).select(*key)
    return df.join(hot, key, "left_anti")


# ---------------------------------------------------------------------------
# A13 — salted hash-join (skew-safe) — general utility
# ---------------------------------------------------------------------------
def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    n_salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe equi-join: the (large, skewed) ``left`` gets a random
    bucket per row via hash-of-row; the (smaller) ``right`` is exploded
    across all ``n_salt`` buckets, so one hot key spreads over
    ``n_salt`` reducers. AQE skew-join remains the backstop (SURVEY §4).
    """
    lcols = [c for c in left.columns]
    l = left.withColumn(
        "_salt", F.pmod(F.xxhash64(*[F.col(c) for c in lcols]), F.lit(n_salt))
    )
    r = right.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
    )
    return l.join(r, [key, "_salt"], how).drop("_salt")


# ---------------------------------------------------------------------------
# A15 — pair → edge normalization
# ---------------------------------------------------------------------------
def normalize_edges(pairs: DataFrame) -> DataFrame:
    """Undirected canonical form: (min, max), distinct, no self-loops."""
    return (
        pairs.select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .dropDuplicates()
    )


# ---------------------------------------------------------------------------
# A16 — connected components (alternating large-star / small-star)
# ---------------------------------------------------------------------------
def _large_star(edges: DataFrame) -> DataFrame:
    bidir = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = bidir.groupBy("u").agg(F.min("v").alias("mn"))
    mins = mins.select("u", F.least("u", "mn").alias("m"))
    return (
        bidir.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .dropDuplicates()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    oriented = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    )
    mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
    joined = oriented.join(mins, "u")
    a = joined.where(F.col("v") != F.col("m")).select("v", "m")
    b = mins.select(F.col("u").alias("v"), "m")
    return (
        a.unionByName(b)
        .where(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .dropDuplicates()
    )


_CHECKPOINT_EVERY = 3  # CC rounds between lineage-truncating checkpoints


def _union_find_local(rows: list) -> list[tuple[str, str]]:
    """Driver-side union-find with path compression — exact same output
    contract as the distributed path (member → component-min)."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != r:
            parent[x], x = r, parent[x]
        return r

    for u, v in rows:
        ru, rv = find(u), find(v)
        if ru != rv:
            # union by min — representative is always the smaller root
            lo, hi = (ru, rv) if ru < rv else (rv, ru)
            parent[hi] = lo
    return [(x, find(x)) for x in parent if find(x) != x]


def connected_components(
    edges: DataFrame,
    max_iter: int = 50,
    driver_threshold: int = 1_000_000,
    driver_max_bytes: int = 256 * 1024 * 1024,
) -> DataFrame:
    """Edges → ``(member, representative)`` with representative =
    component minimum (only non-representative members returned — what
    the rewrite join needs).

    One job sizes the edges: the count and term text of the non-loop
    pairs (duplicates kept: an upper bound, exact at 0), observed on a
    no-op write — over the build's persisted parse, the job that
    materializes it. Hybrid execution, the same idea as AQE's runtime
    re-planning: if the pairs fit comfortably on the driver
    (≤ ``driver_threshold`` rows AND ≤ ``driver_max_bytes`` of term
    text — IRIs vary 10-1000 bytes, so the row count alone can't bound
    driver memory), a local union-find resolves them in one pass —
    iterating Spark jobs over kilobytes is pure overhead — and the
    mapping (empty without pairs) is a LocalRelation. Above the
    threshold it runs the DataFrame-native alternating large-star /
    small-star algorithm (Kiveris et al., SoCC'14) on the normalized
    edges: O(log² n) rounds, each 2-3 shuffles, with the lineage
    truncated by ``localCheckpoint`` every few rounds. Runs to the
    signature fixpoint; exhausting ``max_iter`` without convergence
    raises instead of silently returning a partial mapping (ADVICE r1).
    """
    spark = edges.sparkSession
    # filled by the sizing job, so neither path recomputes the edges
    pairs = edges.where(F.col("u") != F.col("v")).localCheckpoint(eager=False)
    obs = Observation()
    pairs.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.sum(F.length("u") + F.length("v")).alias("b"),
    ).write.format("noop").mode("overwrite").save()
    n_pairs, n_bytes = obs.get["n"], obs.get["b"] or 0
    if n_pairs <= driver_threshold and n_bytes <= driver_max_bytes:
        # union-find takes duplicates and either orientation: no shuffle
        pdf = pairs.toPandas() if n_pairs else {"u": [], "v": []}
        mapping = _union_find_local(list(zip(pdf["u"], pdf["v"])))
        # Arrow, not pandas: an empty pandas frame becomes an RDD scan
        return spark.createDataFrame(pa.table({
            "member": pa.array([m for m, _ in mapping], pa.string()),
            "representative": pa.array([r for _, r in mapping], pa.string()),
        }))

    cur = normalize_edges(pairs).localCheckpoint(eager=True)
    prev_sig, converged = None, False
    for i in range(max_iter):
        cur = _small_star(_large_star(cur))
        if (i + 1) % _CHECKPOINT_EVERY == 0:
            cur = cur.localCheckpoint(eager=True)
        # convergence: stable order-independent signature of the edge set
        sig = cur.select(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
        ).first()
        sig = (sig["n"], sig["h"])
        if sig == prev_sig:
            converged = True
            break
        prev_sig = sig
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(rounds are O(log² n) — raise max_iter or inspect the edge set)"
        )
    # at fixpoint every edge is (member, component-min)
    return cur.select(
        F.col("u").alias("member"), F.col("v").alias("representative")
    )


# ---------------------------------------------------------------------------
# A17 — canonical-representative rewrite
# ---------------------------------------------------------------------------
def rewrite(stmts: DataFrame, mapping: DataFrame) -> DataFrame:
    """Replace subj and IRI-valued obj by the component representative.

    ``owl:sameAs`` assertions are preserved VERBATIM (like a triplestore
    stores them as-asserted): rewriting them would collapse each link to
    a self-loop and erase the provenance that future cross-snapshot
    compactions (pipeline.compact_links) need to connect components
    spanning runs.

    Plain equi-joins, with no hint and no count: the planner broadcasts
    a driver-built mapping (a LocalRelation of known size), AQE a small
    distributed one, and a dense one is shuffled (ADVICE r1: hundreds
    of millions of linked members exceed any broadcast limit).
    """
    sameas = stmts.where(F.col("pred") == OWL_SAMEAS)
    rest = stmts.where(F.col("pred") != OWL_SAMEAS)
    ms = mapping.withColumnRenamed("member", "subj").withColumnRenamed(
        "representative", "_srep"
    )
    mo = mapping.withColumnRenamed("member", "obj").withColumnRenamed(
        "representative", "_orep"
    )
    out = (
        rest.join(ms, "subj", "left")
        .withColumn("subj", F.coalesce("_srep", "subj"))
        .drop("_srep")
    )
    out = (
        out.join(mo, (out.obj == mo.obj) & (out.obj_kind == F.lit("iri")), "left")
        .drop(mo.obj)
        .withColumn("obj", F.coalesce("_orep", out.obj))
        .drop("_orep")
    )
    return out.unionByName(sameas)
