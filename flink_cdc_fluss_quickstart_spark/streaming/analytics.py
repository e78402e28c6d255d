"""Building blocks of the continuously maintained revenue view (the
reference's hard core: revenue-analytics.sql:46-65 + SURVEY.md A11/J1).

The view itself is the SQL front-end's `IncrementalAggView`, built from the
reference's own `INSERT INTO movie_revenue_realtime SELECT ...` statement and
refreshed inside each source's replication micro-batch, after the batch is
merged into its staging table. Its semantics (Flink's retraction machinery):
at every point the view equals the batch aggregation of the CURRENT staging
snapshots -- upstream UPDATEs retract from old groups, movie-title edits
rewrite previously-emitted rows, deletes can empty a group entirely.

This module holds what that view's per-micro-batch refresh shares:

- `affected_keys`: the group keys a changelog micro-batch touches, from both
  the after- and the before-image, so a group-key-moving update refreshes
  the old group too;
- `commit_refresh`: the commit discipline that lets the two source streams
  (tickets, movies) refresh one view concurrently and serializes only the
  view merge: one build and one pin per commit, rebuilt under the lock
  only when both a staging input and the view moved during the build;
- `revenue_aggregate`: the batch form of the analytics query, the tests'
  reference oracle.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from flink_cdc_fluss_quickstart_spark.streaming.pk_table import (
    PinnedBatch,
    PKTable,
    _commit_lock,
)

# movie_revenue_realtime schema (revenue-analytics.sql:23-43)
REVENUE_STATUSES = ("scheduled", "live", "finished")


def affected_keys(batch_df: DataFrame, key: str, out_key: str | None = None) -> DataFrame:
    """The group keys a changelog micro-batch touches: every after-image key
    UNION every before-image key (when the envelope carries `before`, the
    full pre-update row -- REPLICA IDENTITY FULL parity, osb.py envelope).

    The before side is what makes a group-key-MOVING update correct: a
    ticket exchanged from movie A to movie B arrives as one U row with
    after.movie_id=B and before.movie_id=A, and BOTH aggregates must
    refresh. An after-image-only frame would leave A stale until next
    touched.
    """
    out_key = out_key or key
    keys = batch_df.select(F.col(key).alias(out_key))
    if "before" in batch_df.columns:
        keys = keys.unionByName(
            batch_df.select(F.col(f"before.{key}").alias(out_key)).where(
                F.col(out_key).isNotNull()
            )
        )
    return keys


def commit_refresh(target: PKTable, inputs: Sequence[PKTable],
                   build: Callable[[], DataFrame],
                   batch_id: int, writer_id: str) -> tuple[PinnedBatch, bool] | None:
    """Commit one refresh of a view maintained from the staging tables
    ``inputs`` into ``target``, serializing only the commit.

    ``build`` reads the inputs' current snapshots and returns the view's
    U/D changes, at most one row per view key. The target's manifest
    version is recorded first, then each input's; the changes are then
    built and pinned (`PKTable.pin`) outside the target's commit lock.
    Under the lock they are rebuilt only if an input moved AND the target
    moved since; either way the one pinned batch merges.

    Why committing a build that missed a staging merge M is sound: M
    committed after the inputs' versions were recorded, and M's own
    refresh starts after M and covers every group M touched. If that
    refresh has already committed, the target's version moved, so this
    refresh rebuilds from a state that includes M. If it has not, it
    commits after this one and overwrites every group this build could
    have got wrong; groups M did not touch have the same inputs in both
    states. So a build never lands after a refresh that read a staging
    state the build missed: that refresh committed after the target's
    version was recorded. Recording the target first matters: a refresh
    committing between the two reads would otherwise go unseen. A
    data-free txn commit does not move the version, but it happens only
    when a refresh has no affected keys, and then it covers no group.

    A (writer_id, batch_id) the target already applied (a replayed batch)
    returns None before building. Otherwise returns the committed pinned
    changes and whether they were rebuilt under the lock."""
    if target.last_batch_id(writer_id) >= batch_id:
        return None
    seen_target = target.current_version()
    seen_inputs = [t.current_version() for t in inputs]
    changes = target.pin(build())
    with _commit_lock(target.path):
        rebuilt = (target.current_version() != seen_target
                   and [t.current_version() for t in inputs] != seen_inputs)
        if rebuilt:
            changes = target.pin(build())
        target.merge(changes, batch_id=batch_id, writer_id=writer_id)
    return changes, rebuilt


def revenue_aggregate(tickets: DataFrame, movies: DataFrame) -> DataFrame:
    """The batch form of the analytics query: the reference oracle the
    SQL front-end's maintained view is checked against.

    Matches revenue-analytics.sql:46-65 column-for-column, including the
    DECIMAL(15,2)/(10,2) result types the reference's DDL pins.
    """
    t = tickets.filter(F.col("purchased_at").isNotNull())
    m = movies.select("movie_id", "title", "start_date", "duration_minutes")
    joined = t.join(m, "movie_id")
    zero = F.lit(0).cast("decimal(10,2)")
    status_counts = [
        F.sum(F.when(F.col("status") == s, 1).otherwise(0)).alias(f"{s}_tickets")
        for s in REVENUE_STATUSES
    ]
    status_revs = [
        F.sum(F.when(F.col("status") == s, F.col("cost")).otherwise(zero))
        .cast("decimal(15,2)")
        .alias(f"{s}_revenue")
        for s in REVENUE_STATUSES
    ]
    return joined.groupBy("movie_id", "title", "start_date", "duration_minutes").agg(
        F.sum("cost").cast("decimal(15,2)").alias("total_revenue"),
        F.count(F.lit(1)).alias("ticket_count"),
        F.avg("cost").cast("decimal(10,2)").alias("avg_ticket_price"),
        *status_counts,
        *status_revs,
        F.max("purchased_at").alias("last_ticket_purchased"),
    ).select(
        "movie_id",
        F.col("title").alias("movie_title"),
        "total_revenue",
        "ticket_count",
        "avg_ticket_price",
        "scheduled_tickets",
        "live_tickets",
        "finished_tickets",
        "scheduled_revenue",
        "live_revenue",
        "finished_revenue",
        "start_date",
        "duration_minutes",
        "last_ticket_purchased",
    )

