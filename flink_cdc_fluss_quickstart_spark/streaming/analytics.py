"""Continuously-maintained revenue materialized view (the reference's hard
core: revenue-analytics.sql:46-65 + SURVEY.md A11/J1).

Semantics to match (Flink retraction machinery): the view equals, at every
point, the batch aggregation of the CURRENT staging snapshots -- upstream
UPDATEs retract from old groups, movie-title edits rewrite previously-emitted
rows, deletes can empty a group entirely.

Spark-first realization: per micro-batch, (1) merge the changelog batch into
the staging PK table, (2) re-aggregate ONLY the affected movie_ids from the
staging snapshots, (3) merge the fresh rows into the serving PK table,
emitting deletes for groups that vanished. Exact (not approximate
incremental), and scale-correct: work per batch is proportional to the
affected keys' data, not the table size; the affected-key set joins
broadcast-side against the big staging table (left-semi, no shuffle of the
fact side beyond its bucket pruning).

The two source streams (tickets, movies) run concurrently: each holds only
its own staging table's commit lock for step (1), builds step (3)'s
changes outside the serving table's lock, and serializes just the serving
merge through `commit_refresh` -- the one commit discipline the SQL
front-end's incremental views share.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from flink_cdc_fluss_quickstart_spark.streaming.pk_table import PKTable, _commit_lock

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


def strip_before(batch_df: DataFrame) -> DataFrame:
    """Drop the before-image before a staging merge: the PK snapshot is
    after-images only (before is refresh-scoping metadata, not state)."""
    return batch_df.drop("before") if "before" in batch_df.columns else batch_df


def commit_refresh(target: PKTable, inputs: Sequence[PKTable],
                   build: Callable[[], DataFrame | None],
                   batch_id: int, writer_id: str) -> bool:
    """Commit one refresh of a view maintained from the staging tables
    ``inputs`` into ``target``, serializing only the commit.

    ``build`` reads the inputs' current snapshots and returns the view's
    U/D changes (None: nothing to merge). Each input's manifest version is
    recorded first; the changes are then built and pinned outside the
    target's commit lock. Under the lock, if any input's version moved
    meanwhile, they are rebuilt there; then they merge.

    Invariant: every committed refresh was built from staging state that
    was current at some moment after its own batch's staging merge, and
    any later staging merge is followed by its own refresh, which reads at
    least that merge's state and commits after this one. So a refresh
    built from an older snapshot -- a stale movie title -- never commits
    after one that saw a newer state.

    A (writer_id, batch_id) the target already applied (a replayed batch)
    returns before building. Returns whether a refresh was committed."""
    if target.last_batch_id(writer_id) >= batch_id:
        return False

    def pinned() -> DataFrame | None:
        changes = build()
        return None if changes is None else changes.localCheckpoint(eager=True)

    seen = [t.current_version() for t in inputs]
    changes = pinned()
    with _commit_lock(target.path):
        if [t.current_version() for t in inputs] != seen:
            changes = pinned()
        if changes is not None:
            target.merge(changes, batch_id=batch_id, writer_id=writer_id)
    return True


def revenue_aggregate(tickets: DataFrame, movies: DataFrame) -> DataFrame:
    """The batch form of the analytics query -- the single source of truth
    shared by the streaming refresh and the test oracle.

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


class ContinuousRevenueView:
    """Maintains `movie_revenue_realtime` over ticket/movie staging tables."""

    def __init__(self, spark: SparkSession, tickets: PKTable, movies: PKTable,
                 revenue: PKTable) -> None:
        self.spark = spark
        self.tickets = tickets
        self.movies = movies
        self.revenue = revenue

    def refresh(self, affected: DataFrame, batch_id: int, writer_id: str) -> None:
        """Re-aggregate the given movie_ids from current snapshots and merge
        into the serving table (upserts + deletes for emptied groups)."""
        commit_refresh(self.revenue, (self.tickets, self.movies),
                       lambda: self.changes(affected, batch_id), batch_id, writer_id)

    def changes(self, affected: DataFrame, batch_id: int) -> DataFrame | None:
        """The serving table's U/D changes for the affected movie_ids, from
        the staging tables' current snapshots (None: nothing to retract)."""
        affected = affected.select("movie_id").distinct().localCheckpoint(eager=True)
        t = self.tickets.snapshot()
        m = self.movies.snapshot()
        if t is None or m is None:
            fresh = None
        else:
            scoped = t.join(F.broadcast(affected), "movie_id", "left_semi")
            fresh = revenue_aggregate(scoped, m).localCheckpoint(eager=True)

        if fresh is not None:
            upserts = fresh.withColumn("op", F.lit("U"))
            gone = affected.join(fresh.select("movie_id"), "movie_id", "left_anti")
        else:
            upserts = None
            gone = affected
        # deletes need the full schema; pad with typed nulls
        if upserts is not None:
            pad_cols = [
                F.lit(None).cast(f.dataType).alias(f.name)
                for f in upserts.schema.fields
                if f.name not in ("movie_id", "op")
            ]
            deletes = gone.select("movie_id", *pad_cols).withColumn("op", F.lit("D"))
            changes = upserts.unionByName(deletes)
        else:
            # a staging side is EMPTY (every row deleted), so every affected
            # group leaves the view -- the deletes must still be merged or
            # the serving table keeps stale aggregates forever ("deletes can
            # empty a group entirely" is this module's contract). Pad the D
            # rows from the SERVING schema; if the serving table has never
            # materialized either, there is truly nothing to retract.
            served = self.revenue.snapshot()
            if served is None:
                return None
            pad_cols = [
                F.lit(None).cast(f.dataType).alias(f.name)
                for f in served.schema.fields
                if f.name not in ("movie_id", "op", "seq")
            ]
            changes = gone.select("movie_id", *pad_cols).withColumn("op", F.lit("D"))
        return changes.withColumn("seq", F.lit(batch_id).cast("long"))

    # -- streaming entry points ------------------------------------------

    def start_tickets_pipeline(self, changelog: DataFrame, checkpoint_dir: str,
                               trigger: dict | None = None) -> StreamingQuery:
        """tickets changelog -> staging merge + view refresh (one job)."""

        def fb(batch_df: DataFrame, batch_id: int) -> None:
            batch_df = batch_df.localCheckpoint(eager=True)
            # Only the serving merge serializes against the OTHER side's
            # pipeline (both streams update one serving table): the staging
            # merge holds the staging table's own lock, and commit_refresh
            # rebuilds a refresh whose staging inputs moved while it was
            # built -- without that, a refresh computed from a pre-update
            # movies snapshot could commit AFTER the movie-side refresh that
            # already saw the edit, leaving a stale title in the view. This
            # is the micro-batch analogue of Flink serializing both input
            # streams through one join-operator state, narrowed to the
            # state update itself.
            self.tickets.merge(
                strip_before(batch_df), batch_id=batch_id, writer_id="tickets-cdc"
            )
            self.refresh(
                affected_keys(batch_df, "movie_id"), batch_id, "rev-from-tickets"
            )

        return (
            changelog.writeStream.foreachBatch(fb)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(**(trigger or {"availableNow": True}))
            .start()
        )

    def start_movies_pipeline(self, changelog: DataFrame, checkpoint_dir: str,
                              trigger: dict | None = None) -> StreamingQuery:
        """movies changelog -> staging merge + view refresh, so dimension-side
        updates (title edits) rewrite previously-emitted groups (J1)."""

        def fb(batch_df: DataFrame, batch_id: int) -> None:
            batch_df = batch_df.localCheckpoint(eager=True)
            # locking as in start_tickets_pipeline
            self.movies.merge(
                strip_before(batch_df), batch_id=batch_id, writer_id="movies-cdc"
            )
            self.refresh(
                affected_keys(batch_df, "movie_id"), batch_id, "rev-from-movies"
            )

        return (
            changelog.writeStream.foreachBatch(fb)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(**(trigger or {"availableNow": True}))
            .start()
        )
