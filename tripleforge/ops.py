"""Column-level pipeline operators: fingerprint, graph injection, dedup,
scan widening (SURVEY.md §2.A2, A18, A19, A23).

All built-in Catalyst expressions — whole-stage-codegen-eligible, no
Python. Reference analogs noted per function.
"""

from __future__ import annotations

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tripleforge.schema import REPO_GRAPH_PREFIX, STATEMENT_QUAD_KEY


def with_sha256(df: DataFrame, col: str = "content") -> DataFrame:
    """A2 — per-row content fingerprint, the invariant checked vs the
    reference (BASELINE.json input_hint: "per-row invariant vs the
    reference: content sha256 equality"). Built-in ``F.sha2``; no UDF."""
    return df.withColumn("content_sha256", F.sha2(F.col(col), 256))


def assign_graph(df: DataFrame, override: str | None = None) -> DataFrame:
    """A19 — named-graph/context injection.

    Quad-carried graph (N-Quads) wins; else the CLI-style ``override``
    context; else the per-repo graph ``urn:repo:<repo>``. Mirrors the
    reference's ``RepositoryConnection.add(file, ..., context)`` which
    stamps a context Resource on every loaded triple.
    """
    return df.withColumn(
        "graph",
        F.coalesce(
            F.col("graph"),
            F.lit(override) if override is not None else F.lit(None).cast("string"),
            F.concat(F.lit(REPO_GRAPH_PREFIX), F.col("src_repo")),
        ),
    )


def dedup(df: DataFrame, key: list[str] | None = None) -> DataFrame:
    """A18 — set semantics over the canonical quad key.

    RDF stores are set-semantic (re-adding a triple is a no-op in the
    reference); here it is a ``dropDuplicates`` which Catalyst executes
    as partial+final hash aggregate around one shuffle (map-side combine
    shrinks the shuffle on duplicate-heavy corpora).
    """
    return df.dropDuplicates(key or STATEMENT_QUAD_KEY)


def widen_if_narrow(
    df: DataFrame, cols: list[str] | None = None, target: int | None = None
) -> DataFrame:
    """The one scan-widening guard (guide §2.5 input-layout skew):
    repartition ONLY when the scan is narrower than the cluster. A small
    corpus lands in one parquet file → one input partition → every
    downstream per-row stage (the fused parse, regex projections,
    tokenize/shingle) runs on 1 of N cores. At real corpus scale the
    scan already has ≥cores partitions and this is a no-op — the guard
    means we never pay a full-corpus shuffle at 100 TB just to help the
    small case.

    ``cols``: hash-partition on these plain columns (default
    ``repo, path``). Project/Generate preserve the child's
    HashPartitioning, so a downstream ``groupBy`` on the same key (the
    minhash/simhash signature aggregate) needs NO second exchange.

    ``target``: widened partition count; defaults to the cluster's
    defaultParallelism (right for pure per-row projections). Stages
    that FEED A SHUFFLE should pass fewer, larger partitions (guide
    §2.2) — measured: the fused parse at full width lost its gain to
    per-task Python-boundary overhead + map-side shuffle block count.

    The probe reads the JVM query execution, so it needs a classic
    (py4j) session; under Spark Connect (no ``_jdf``) or when the JVM
    call fails, ``df`` is returned unchanged."""
    try:
        target = target or df.sparkSession.sparkContext.defaultParallelism
        qe = df._jdf.queryExecution()
        # A plan that already contains an exchange (window, join,
        # explicit repartition) is shuffle.partitions-wide downstream of
        # it — and probing it via toRdd() would EXECUTE its shuffle
        # stages eagerly under AQE (AdaptiveSparkPlanExec.doExecute
        # materializes query stages; the probe's work is then thrown
        # away). Only exchange-free plans (plain scans + projections,
        # which AQE does not even wrap) are probed; for them toRdd() is
        # planning-only.
        if _has_exchange(qe.executedPlan()) or qe.toRdd().getNumPartitions() >= target:
            return df
    except (AttributeError, Py4JError):
        return df
    return df.repartition(target, *(cols or ["repo", "path"]))


def _has_exchange(plan) -> bool:
    """Walk the physical plan's nodes — children and inner children
    (subqueries, cached relations' plans) — for an exchange or an AQE
    root."""
    stack = [plan]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name.endswith("Exchange") or name == "AdaptiveSparkPlan":
            return True
        for seq in (node.children(), node.innerChildren()):
            stack.extend(seq.apply(i) for i in range(seq.size()))
    return False
