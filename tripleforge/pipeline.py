"""End-to-end KG build (SURVEY.md §3.1) — the engine's flagship entry.

Replacement for the reference's ``triple.loader -main`` CLI (load RDF
files into a repository with optional named-graph context): corpus scan
→ scan widening → fingerprint → format detect → Arrow parse → canon →
graph inject → (optional) entity linking → dedup → snapshot commit with
lineage. Stages scan→parse→canon fuse into ONE Spark stage (no shuffle
between them); the explicit shuffles are the narrow-scan widening, the
linking joins/CC rounds, the dedup aggregate, and the bucket
repartition before write.

The prefix shared by ``transform`` and ``build`` is written once, as
two steps: ``parse_step`` (widen → fingerprint → format → parse+canon →
split) and ``link_step`` (graph injection → entity linking). ``build``
is the one corpus → append commit: the streaming ingest commits each
micro-batch with it. ``compact_links`` commits through the mutation
overwrite (``update.overwrite``), the one live store → rewrite commit.
"""

from __future__ import annotations

import uuid
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tripleforge import link, lineage as lineage_mod, ops
from tripleforge.catalog.base import Catalog
from tripleforge.checkpoint import filter_pending
from tripleforge.detect import with_format
from tripleforge.parse import parse_corpus, split_errors
from tripleforge.schema import STATEMENT_QUAD_KEY
from tripleforge.update import anti_join_live, overwrite


@dataclass
class BuildConfig:
    graph_override: str | None = None  # CLI-style context injection (A19)
    link_entities: bool = True
    link_key_preds: list[str] = field(default_factory=list)
    max_block: int = 10_000
    run_id: str | None = None
    resume: bool = True
    canonicalize: bool = True


@dataclass
class BuildResult:
    snapshot_id: int
    run_id: str
    n_statements: int
    n_errors: int


def compact_links(
    spark: SparkSession,
    catalog: Catalog,
    cfg: BuildConfig | None = None,
    run_id: str | None = None,
) -> BuildResult:
    """Cross-run entity-linking compaction (SURVEY §2.D10: incremental
    CC is not streamable with bounded state, so linking runs as periodic
    batch compaction over committed snapshots).

    Resolves the full equivalence closure over ALL live statements
    (sameAs edges may span snapshots committed by different runs),
    rewrites subjects/objects to component representatives and dedups:
    one whole-store :func:`update.overwrite`, whose row count rides the
    snapshot write. Previous snapshots stay readable via time travel.
    """
    cfg = cfg or BuildConfig()
    rid = run_id or ("compact-" + uuid.uuid4().hex)
    sid = catalog.latest_snapshot_id()
    if sid is None:
        return BuildResult(0, rid, 0, 0)  # empty catalog → no-op
    # an already-committed run_id returns its prior snapshot without
    # recomputing the closure; a fresh one reports what it committed
    def committed():
        return catalog.read_lineage().where(F.col("run_id") == rid).first()

    r = committed()
    if r is None:
        overwrite(
            catalog, sid, None, lambda live: ops.dedup(link_entities(live, cfg)), "compact", rid
        )
        r = committed()
    return BuildResult(int(r["snapshot_id"]), rid, int(r["n_triples"]), 0)


def parse_step(
    corpus: DataFrame, cfg: BuildConfig
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Corpus → (raw, statements, errors): the parse half of the build
    prefix. ``raw`` is the parse output before the split, for callers
    that materialize it (``build``).

    The raw corpus is widened first (no-op when the scan is already
    wide), so the fingerprint/format projections land ABOVE the
    exchange and fuse into the wide parse stage (an exchange between
    them would serialize the sha256 onto the narrow scan as its own AQE
    stage — measured). cores/4 (not full width): the parse feeds the
    dedup shuffle, so fewer, larger map tasks win (guide §2.2;
    interleaved A/B at sf1.0: narrow 0.88 s, 32-wide 1.04 s, 8-wide
    0.78 s). Parse + canon are FUSED into one Python stage (one Arrow
    round-trip)."""
    dp = corpus.sparkSession.sparkContext.defaultParallelism
    corpus = ops.widen_if_narrow(corpus, target=max(min(8, dp), dp // 4))
    raw = parse_corpus(
        with_format(ops.with_sha256(corpus)), canonicalize=cfg.canonicalize
    )
    stmts, errors = split_errors(raw)
    return raw, stmts, errors


def link_step(stmts: DataFrame, cfg: BuildConfig) -> DataFrame:
    """Statements → graph-injected (and, with ``cfg.link_entities``,
    entity-linked) statements: the link half of the build prefix."""
    stmts = ops.assign_graph(stmts, cfg.graph_override)
    return link_entities(stmts, cfg) if cfg.link_entities else stmts


def link_entities(stmts: DataFrame, cfg: BuildConfig) -> DataFrame:
    """Candidate edges → connected components → representative
    rewrite; ``stmts`` itself when there are no edges (the empty
    mapping is a LocalRelation: ``isEmpty`` on it runs no job)."""
    edges = link.candidate_edges(stmts, cfg.link_key_preds, cfg.max_block)
    mapping = link.connected_components(edges)
    return stmts if mapping.isEmpty() else link.rewrite(stmts, mapping)


def transform(
    corpus: DataFrame, cfg: BuildConfig | None = None
) -> tuple[DataFrame, DataFrame]:
    """Pure dataflow (no catalog side effects): corpus → (statements,
    errors), batch-globally deduped. Used by tests and tools; the build
    shares its prefix but shapes for commit instead of deduping here."""
    cfg = cfg or BuildConfig()
    _, stmts, errors = parse_step(corpus, cfg)
    stmts = ops.dedup(link_step(stmts, cfg))  # SHUFFLE: partial+final hash agg
    return stmts, errors


def shape_for_commit(
    stmts: DataFrame, catalog: Catalog
) -> tuple[DataFrame, DataFrame]:
    """→ (unit_deduped, committable_data) — the build's set-semantics
    shaping (ADVICE r1-high), and so the streaming ingest's too.

    ``unit_deduped`` dedups WITHIN each (repo, commit, parser), so a
    unit whose quads are fully shadowed by another unit still keeps
    rows — every parsed unit gets a lineage row and is durably marked
    committed — and a quad two parsers share counts in both parsers'
    lineage rows. ``committable_data`` additionally dedups batch-globally
    and anti-joins the live store restricted to the graph buckets this
    batch touches (partition-pruned — a bounded slice of a 100 TB
    store), so appends stay set-semantic across snapshots.

    ONE explicit exchange serves both dedups: hash-partitioning on the
    quad key clusters (quad+unit+parser) and (quad) alike, so Catalyst
    plans both HashAggregates without further shuffles (plan-audited).
    """
    stmts = stmts.repartition(*[F.col(c) for c in STATEMENT_QUAD_KEY])
    unit_deduped = ops.dedup(stmts, STATEMENT_QUAD_KEY + ["src_repo", "src_commit", "parser"])
    return unit_deduped, anti_join_live(catalog, ops.dedup(unit_deduped))


def build(
    spark: SparkSession,
    corpus: DataFrame,
    catalog: Catalog,
    cfg: BuildConfig | None = None,
) -> BuildResult:
    """Resume-filtered build + atomic snapshot commit (A22).

    Execution-pass economics (what matters at 100 TB): the PARSE is the
    expensive stage, so its raw output (statements ∪ error rows, before
    dedup) is materialized exactly once — ``persist()`` here, a staging
    table on a real cluster — and every consumer (error metrics, lineage
    aggregation, the dedup+write) derives from that materialization.
    Without this the errors branch silently re-parses the whole corpus.

    The lineage rows are handed to the catalog as a deferred factory
    that collects them as Arrow after the statement write (their
    aggregate reads the statements that write cached), and the build
    totals are summed from those rows on the driver. A run_id the
    catalog has already committed skips the lineage; its totals then
    come from that run's committed lineage rows.
    """
    cfg = cfg or BuildConfig()
    run_id = cfg.run_id or uuid.uuid4().hex
    if cfg.resume:
        pending = filter_pending(corpus, catalog)
        # filter_pending hands an empty catalog's corpus back as is, so
        # a first build asks no isEmpty job (an empty corpus commits one
        # empty snapshot). Nothing pending after the filter → no-op, do
        # NOT accumulate empty snapshots (a scheduled re-run at
        # production cadence would otherwise grow the snapshot log
        # unboundedly).
        if pending is not corpus and pending.isEmpty():
            return BuildResult(catalog.latest_snapshot_id() or 0, run_id, 0, 0)
        corpus = pending

    raw, stmts, errors = parse_step(corpus, cfg)
    # persisted BEFORE link_step, whose edge-sizing job is then the
    # first job over the parse; CacheManager substitutes by plan
    # equality, so the statements/errors plans derived above read it
    raw.persist()
    unit_deduped, data = shape_for_commit(link_step(stmts, cfg), catalog)
    # Second staging materialization: `data` (the snapshot write) and
    # the lineage aggregation BOTH need the post-exchange unit-deduped
    # statements. Persisting it makes the lineage job a cache scan +
    # small agg instead of a second quad-key exchange + unit dedup.
    # A/B at 2M stmts/local[8] (r4): wall-NEUTRAL on this box — the
    # cache write inside the data job costs about what the recompute
    # did — but the cluster shape is strictly better: the second pass
    # burned 2× executor CPU on parse-output-sized data, while a
    # staging read is IO against an already-columnar cache.
    # (CacheManager substitutes by plan equality, so the `data` plan
    # derived above picks up this cache too.)
    unit_deduped = unit_deduped.persist()

    lin = lineage_mod.collect(unit_deduped, errors)
    rows: pa.Table | None = None

    def lineage_rows() -> pa.Table:
        nonlocal rows
        rows = lin.toArrow()
        return rows

    sid = catalog.commit_snapshot(data, lineage_rows, run_id=run_id)
    unit_deduped.unpersist()
    raw.unpersist()
    if rows is None:
        # idempotent re-commit: nothing was written, the run's totals
        # are the ones it committed the first time
        rows = catalog.read_lineage().where(F.col("run_id") == run_id).toArrow()
    t, e = (pc.sum(rows[c]).as_py() or 0 for c in ("n_triples", "n_errors"))
    return BuildResult(sid, run_id, t, e)
