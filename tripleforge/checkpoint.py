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
from pyspark.sql import functions as F

from tripleforge.catalog.base import Catalog


def filter_pending(
    corpus: DataFrame, catalog: Catalog, broadcast_threshold: int = 5_000_000
) -> DataFrame:
    """Corpus rows whose (repo, commit) is not yet committed.

    An empty catalog has nothing committed, so ``corpus`` comes back
    unchanged: no count probe, no join. That keeps the plan free of an
    exchange, so ``ops.widen_if_narrow`` still widens a narrow scan and
    a first build parses on every core.

    Otherwise a left_anti join; the committed set is lineage-derived
    and usually small relative to the corpus → broadcast it. Size-aware
    like link.rewrite (ADVICE r1 pattern): at 10^12 files the committed
    set approaches 10^9 units, past any broadcast limit — above the
    threshold the anti-join becomes a plain shuffle join and AQE picks
    the strategy. The count probe reads only the (tiny, columnar)
    lineage table.
    """
    if catalog.latest_snapshot_id() is None:
        return corpus
    committed = catalog.committed_units()
    if committed.count() <= broadcast_threshold:
        committed = F.broadcast(committed)
    return corpus.join(
        committed,
        on=[corpus.repo == committed.repo, corpus.commit == committed.commit],
        how="left_anti",
    )
