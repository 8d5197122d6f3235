"""Incremental corpus curation (r5 — VERDICT r4 next-round #10).

Makes dedup RESUMABLE the way the KG build is (checkpoint.filter_pending
shape): each curate run commits a compact per-doc STATE snapshot —
exact-dedup fingerprints and MinHash signatures + band buckets — and a
later wave of documents dedups against that snapshot by joining
fingerprints/buckets, verifying candidates with the STORED shingle-hash
sets. Wave-1 text is never rescanned; the state a wave reads is
O(corpus rows), not O(corpus bytes).

Scale shape (100 TB): the fingerprint join is one shuffle keyed by a
uniform 128-bit hash (or a broadcast when the committed set is small,
picked by the planner as in checkpoint.filter_pending); the cross-wave
candidate join is keyed by (band, bucket) — uniform by construction,
capped like linking blocks; verification touches only candidate pairs.
State unions monotonically (this wave's state ∪ prior state), so wave
k+1 sees one combined snapshot.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tripleforge.link import block_and_cap
from tripleforge.text import (
    fingerprint,
    minhash_band_buckets,
    minhash_doc_state,
)

FP_DIR = "fingerprints"
MINHASH_DIR = "minhash_state"


def doc_fingerprints(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """(doc, fp) per document — the exact-dedup state unit."""
    return df.select(
        F.col(id_col).alias("doc"), fingerprint(F.col(text_col)).alias("fp")
    )


def write_state(
    docs: DataFrame,
    state_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 32,
    prior_dir: str | None = None,
) -> None:
    """Commit this wave's curation state under ``state_dir``; with
    ``prior_dir`` the snapshot is the UNION of prior + this wave, so the
    next wave reads one place. Two parquet tables: fingerprints
    (doc, fp) and minhash state (doc, h0…h{n-1}, shs)."""
    fps = doc_fingerprints(docs, id_col, text_col)
    mh = minhash_doc_state(docs, id_col, text_col, n_hashes=n_hashes)
    if prior_dir is not None:
        if os.path.realpath(state_dir) == os.path.realpath(prior_dir):
            # ADVICE r5 (medium): mode("overwrite") deletes the
            # directory the lazy union is still READING — the job dies
            # and the committed state is destroyed. Refuse loudly; the
            # caller chains waves into a NEW directory (or copies).
            raise ValueError(
                "write_state: state_dir and prior_dir are the same "
                f"directory ({state_dir!r}); overwrite would delete the "
                "prior state while it is being read. Write the merged "
                "state to a fresh directory."
            )
        fps = spark_read(docs.sparkSession, prior_dir, FP_DIR).unionByName(fps)
        mh = spark_read(docs.sparkSession, prior_dir, MINHASH_DIR).unionByName(mh)
    fps.write.mode("overwrite").parquet(os.path.join(state_dir, FP_DIR))
    mh.write.mode("overwrite").parquet(os.path.join(state_dir, MINHASH_DIR))


def spark_read(spark: SparkSession, state_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(state_dir, name))


def incremental_exact(
    new_docs: DataFrame,
    prior_state_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """New docs that duplicate a COMMITTED doc: (doc, fp, dup_of) where
    dup_of is the smallest prior doc with the same fingerprint. The
    prior text is never read — only its (doc, fp) state. A plain join:
    the planner and AQE broadcast a small committed set."""
    spark = new_docs.sparkSession
    prior = (
        spark_read(spark, prior_state_dir, FP_DIR)
        .groupBy("fp")
        .agg(F.min("doc").alias("dup_of"))
    )
    fps = doc_fingerprints(new_docs, id_col, text_col)
    return fps.join(prior, "fp", "inner").select("doc", "fp", "dup_of")


def incremental_minhash_pairs(
    new_docs: DataFrame,
    prior_state_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 32,
    n_bands: int = 8,
    max_bucket: int = 5_000,
    verify_threshold: float | None = 0.5,
) -> DataFrame:
    """Cross-wave MinHash near-dup pairs (new doc, committed doc):
    this wave's band buckets equi-join the SNAPSHOT's buckets (derived
    from the stored signatures — the same band hash formula, so buckets
    are comparable across waves); candidates verify with exact Jaccard
    over the stored shingle-hash sets. Output: (doc_new, doc_prior
    [, jaccard])."""
    spark = new_docs.sparkSession
    prior_state = spark_read(spark, prior_state_dir, MINHASH_DIR)
    new_state = minhash_doc_state(
        new_docs, id_col, text_col, n_hashes=n_hashes,
        with_sets=verify_threshold is not None,
    ).localCheckpoint(eager=True)

    nb = block_and_cap(
        minhash_band_buckets(new_state, n_hashes, n_bands),
        ["band", "bucket"], max_bucket,
    ).withColumnRenamed("doc", "doc_new")
    pb = block_and_cap(
        minhash_band_buckets(prior_state, n_hashes, n_bands),
        ["band", "bucket"], max_bucket,
    ).withColumnRenamed("doc", "doc_prior")
    cand = (
        nb.join(pb, ["band", "bucket"])
        .select("doc_new", "doc_prior")
        .dropDuplicates()
    )
    if verify_threshold is None:
        return cand
    sa = new_state.select(
        F.col("doc").alias("doc_new"),
        F.col("shs").alias("shs_a"),
        F.size("shs").alias("n_a"),
    )
    sb = prior_state.select(
        F.col("doc").alias("doc_prior"),
        F.col("shs").alias("shs_b"),
        F.size("shs").alias("n_b"),
    )
    n_inter = F.size(F.array_intersect(F.col("shs_a"), F.col("shs_b")))
    return (
        cand.join(sa, "doc_new")
        .join(sb, "doc_prior")
        .withColumn("n_inter", n_inter)
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
                6,
            ),
        )
        .where(F.col("jaccard") >= verify_threshold)
        .select("doc_new", "doc_prior", "jaccard")
    )
