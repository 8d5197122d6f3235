"""Snapshot checkpoint / resume (SURVEY.md §2.A22).

north_star: "a failed run resumes from the last committed Iceberg
snapshot checkpoint". Work units are (repo, commit): a unit is durable
once its lineage rows ride in a committed snapshot, so a re-run
anti-joins the corpus against committed lineage and processes only the
remainder. The reference's analog is the RDF4J transaction
begin→add→commit with rollback; at 10^12 files the transaction becomes
a snapshot and rollback becomes "orphan dirs no manifest references".
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from tripleforge.catalog.base import Catalog


def filter_pending(corpus: DataFrame, catalog: Catalog) -> DataFrame:
    """Corpus rows whose (repo, commit) is not yet committed.

    An empty catalog has nothing committed, so ``corpus`` comes back
    unchanged: no join. That keeps the plan free of an exchange, so
    ``ops.widen_if_narrow`` still widens a narrow scan and a first
    build parses on every core.

    Otherwise a plain left_anti join against the lineage-derived
    committed set, with no hint and no count probe: the planner
    broadcasts it from its size (plan-audited), and shuffles it when at
    10^12 files it approaches 10^9 units, past any broadcast limit.
    """
    if catalog.latest_snapshot_id() is None:
        return corpus
    committed = catalog.committed_units()
    return corpus.join(
        committed,
        on=[corpus.repo == committed.repo, corpus.commit == committed.commit],
        how="left_anti",
    )
