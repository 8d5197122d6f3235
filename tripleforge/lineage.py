"""Lineage / metrics aggregation (SURVEY.md §2.A21).

Per (repo, commit, parser): file count, triple count, error count, and
an order-independent checksum — BIT_XOR of per-row xxhash64 over the
canonical quad key — so the checksum is invariant to shuffle order and
partitioning (a requirement for cross-parallelism determinism tests).

north_star: "every partition logs lineage (repo, commit, parser,
triple-count, checksum) to a metrics table". The reference logs to
stdout; this engine logs to a table that rides in the same snapshot
commit (checkpoint.py) so resume can trust it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# BIT_XOR of per-row xxhash64 over the canonical quad key, as hex: the
# one statement-set checksum of lineage rows and determinism tests
_CHECKSUM = (
    "conv(cast(bit_xor(xxhash64(subj, pred, obj, obj_kind, obj_dt, obj_lang, graph))"
    " as string), 10, 16)"
)


def collect(stmts: DataFrame, errors: DataFrame) -> DataFrame:
    """→ per-(repo, commit, parser) metrics rows; the catalog stamps
    run_id, snapshot_id and committed_at on at commit."""
    s = stmts.groupBy(
        F.col("src_repo").alias("repo"),
        F.col("src_commit").alias("commit"),
        F.col("parser"),
    ).agg(
        F.count_distinct("src_path").alias("n_files"),
        F.count(F.lit(1)).alias("n_triples"),
        F.expr(_CHECKSUM).alias("checksum"),
    )
    e = errors.groupBy(
        F.col("src_repo").alias("repo"),
        F.col("src_commit").alias("commit"),
        F.col("parser"),
    ).agg(F.count(F.lit(1)).alias("n_errors"))
    return (
        s.join(e, ["repo", "commit", "parser"], "full_outer")
        .withColumn("n_files", F.coalesce("n_files", F.lit(0)))
        .withColumn("n_triples", F.coalesce("n_triples", F.lit(0)))
        .withColumn("n_errors", F.coalesce("n_errors", F.lit(0)))
    )


def dataset_checksum(stmts: DataFrame) -> str:
    """One order/partitioning-independent checksum for a statement set —
    used by determinism tests (same value at local[2] and local[32])."""
    row = stmts.select(
        F.expr(_CHECKSUM).alias("c"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    return f"{row['c']}:{row['n']}"
