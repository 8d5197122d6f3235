"""Structured-Streaming incremental corpus ingest (SURVEY.md §2.D).

The reference is batch-only; this is the idiomatic-Spark extension for
continuous corpus arrival, kept semantically identical to the batch
path because ``foreachBatch`` commits each micro-batch with
``pipeline.build`` — one source of truth for parse/canon/dedup/commit
semantics, lineage and the parse's single materialization (D9).

- D1: file-source stream over the corpus directory (explicit schema).
- D2/D8: watermark on ingest time bounds state; late rows beyond it are
  dropped by windowed aggs (quantified via ``observe`` counters).
- D3/D4: tumbling / sliding windows over the ingest metrics.
- D6: ``dropDuplicatesWithinWatermark`` on (repo, path, commit) makes
  redelivery idempotent.
- D9: ``foreachBatch`` commits each micro-batch as one catalog snapshot
  with run_id = f"stream-{batch_id}" — Spark replays a failed batch
  with the SAME id, and the catalog's idempotent commit turns the
  replay into a no-op: exactly-once sink semantics. Resume is off: a
  (repo, commit) unit whose files land in two micro-batches commits
  both halves.
- D10 (non-goal): incremental connected components is not streamable
  with bounded state; linking runs as periodic batch compaction over
  committed snapshots.
"""

from __future__ import annotations

import os
from dataclasses import replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType, TimestampType

from tripleforge import pipeline
from tripleforge.catalog.base import Catalog
from tripleforge.pipeline import BuildConfig
from tripleforge.schema import CORPUS

CORPUS_STREAM = StructType(
    list(CORPUS.fields) + [StructField("ingest_ts", TimestampType(), True)]
)


def stream_corpus(spark: SparkSession, path: str) -> DataFrame:
    """D1 — streaming source over corpus parquet landing dir."""
    return spark.readStream.schema(CORPUS_STREAM).parquet(path)


def with_dedup_watermark(
    stream: DataFrame, watermark: str = "1 hour"
) -> DataFrame:
    """D2 + D6 — bound state and drop redelivered (repo, path, commit)."""
    return stream.withWatermark("ingest_ts", watermark).dropDuplicatesWithinWatermark(
        ["repo", "path", "commit"]
    )


def throughput_windows(
    stream: DataFrame,
    window: str = "1 minute",
    slide: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """D3/D4 — files-per-window metrics (tumbling, or sliding when
    ``slide`` is given)."""
    win = (
        F.window("ingest_ts", window)
        if slide is None
        else F.window("ingest_ts", window, slide)
    )
    return (
        stream.withWatermark("ingest_ts", watermark)
        .groupBy(win.alias("w"), F.col("repo"))
        .agg(F.count(F.lit(1)).alias("n_files"))
        .select(F.col("w.start").alias("w_start"), F.col("w.end").alias("w_end"), "repo", "n_files")
    )


def stateful_repo_counters(stream: DataFrame) -> DataFrame:
    """D7 — custom stateful per-key processing: incremental per-repo
    file counters via ``applyInPandasWithState`` (Arrow-batched grouped
    state; state = one running total per repo, bounded by repo count).
    Emits (repo, n_files_in_batch, total_files_ever) per micro-batch."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key, pdfs, state: GroupState):
        n = sum(len(p) for p in pdfs)
        total = (state.get[0] if state.exists else 0) + n
        state.update((total,))
        yield pd.DataFrame(
            {"repo": [key[0]], "n_files": [n], "total_files": [total]}
        )

    return stream.groupBy("repo").applyInPandasWithState(
        fn,
        outputStructType="repo string, n_files long, total_files long",
        stateStructType="total long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def incremental_build(
    spark: SparkSession,
    source_path: str,
    catalog: Catalog,
    checkpoint_dir: str,
    cfg: BuildConfig | None = None,
    available_now: bool = True,
):
    """D9 — exactly-once incremental ingest into the snapshot catalog.

    Returns the StreamingQuery; with ``available_now`` the query drains
    whatever has landed and stops (catch-up semantics), matching the
    batch build's output exactly.
    """
    # Guard against swapped (catalog, checkpoint_dir) args: Spark would
    # str() a Catalog into a literal "<...object at 0x...>" directory at
    # os.getcwd() instead of failing (seen once in r4's working tree).
    if not isinstance(source_path, (str, os.PathLike)):
        raise TypeError(f"source_path must be a path, got {type(source_path).__name__}")
    if not isinstance(checkpoint_dir, (str, os.PathLike)):
        raise TypeError(
            f"checkpoint_dir must be a path, got {type(checkpoint_dir).__name__}"
        )
    if isinstance(catalog, (str, os.PathLike)):
        raise TypeError("catalog must be a Catalog instance, got a path string")
    cfg = cfg or BuildConfig(link_entities=False)
    stream = with_dedup_watermark(stream_corpus(spark, source_path)).observe(
        "ingest", F.count(F.lit(1)).alias("rows_in")
    )

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        corpus = batch_df.select(*[f.name for f in CORPUS.fields])
        if corpus.isEmpty():
            return
        pipeline.build(
            spark, corpus, catalog, replace(cfg, run_id=f"stream-{batch_id}", resume=False)
        )

    writer = (
        stream.writeStream.foreachBatch(commit_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
