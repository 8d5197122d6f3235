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
_HASH = "xxhash64(subj, pred, obj, obj_kind, obj_dt, obj_lang, graph)"
_CHECKSUM = "conv(cast(bit_xor({}) as string), 10, 16)"


def collect(stmts: DataFrame, errors: DataFrame) -> DataFrame:
    """→ per-(repo, commit, parser) metrics rows; the catalog stamps
    run_id, snapshot_id and committed_at on at commit.

    One aggregate, one exchange, over the union of statement rows (with
    ``src_path`` and quad hash) and error rows (nulls there, and a
    flag): a unit with only errors gets 0 files and triples and a null
    checksum. ``count_distinct(src_path)`` would plan a second exchange."""
    key = ["src_repo AS repo", "src_commit AS commit", "parser"]
    rows = stmts.selectExpr(*key, "src_path", f"{_HASH} AS h", "CAST(NULL AS INT) AS err")
    errs = errors.selectExpr(*key, "CAST(NULL AS STRING)", "CAST(NULL AS BIGINT)", "1")
    return rows.union(errs).groupBy("repo", "commit", "parser").agg(
        F.expr("CAST(size(collect_set(src_path)) AS BIGINT)").alias("n_files"),
        F.count("h").alias("n_triples"),
        F.count("err").alias("n_errors"),
        F.expr(_CHECKSUM.format("h")).alias("checksum"),
    )


def dataset_checksum(stmts: DataFrame) -> str:
    """One order/partitioning-independent checksum for a statement set —
    used by determinism tests (same value at local[2] and local[32])."""
    row = stmts.select(
        F.expr(_CHECKSUM.format(_HASH)).alias("c"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    return f"{row['c']}:{row['n']}"
