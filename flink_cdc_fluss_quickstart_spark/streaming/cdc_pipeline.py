"""CDC replication pipelines: changelog stream -> PK staging table.

Mirrors users/movies/tickets-cdc.sql: each reference job is
`INSERT INTO <staging> SELECT <cols> FROM <pg_cdc_source>` with a watermark
and exactly-once checkpoints. Spark-first: readStream -> withWatermark ->
project -> foreachBatch merge into a PKTable (SURVEY.md 2.2 K1, 2.7 T1-T7).

The merge is idempotent per (writer_id, batch_id) -- together with the
streaming checkpoint this gives exactly-once table state over Spark's
at-least-once foreachBatch, which is the same contract Flink's EXACTLY_ONCE
checkpointing provides the reference (tickets-cdc.sql:2-5).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from flink_cdc_fluss_quickstart_spark.streaming.pk_table import PKTable

Refresh = Callable[[DataFrame, int], None]


def replicate(
    changelog: DataFrame,
    target: PKTable,
    checkpoint_dir: str,
    select_cols: Sequence[str] | None = None,
    watermark: tuple[str, str] | None = None,
    writer_id: str = "cdc",
    refreshes: Callable[[], list[Refresh]] | None = None,
) -> StreamingQuery:
    """Start a replication job that drains the changelog available now;
    returns the StreamingQuery (T7: a running INSERT INTO statement).

    ``refreshes`` yields, per micro-batch, what else consumes the batch
    once it is merged: each is called with the batch (``before`` image
    included when the changelog carries it) and its batch id. It is asked
    after the merge, so a consumer registered while the merge ran still
    gets the batch; it is also asked before, and a batch nothing consumes
    is not pinned."""
    df = changelog
    if watermark is not None:
        # T1: bounded out-of-orderness; gates state retention for any
        # downstream event-time operator in the same stream. Spark watermarks
        # require instant-semantics TIMESTAMP; the session runs UTC so the
        # cast from NTZ is lossless.
        col, delay = watermark
        declared = df.schema[col].dataType
        df = df.withColumn(col, F.col(col).cast("timestamp")).withWatermark(col, delay)
        # restore the source-declared type so the STORED staging schema
        # matches the changelog schema (NTZ in, NTZ stored); the watermark
        # gates nothing in a foreachBatch-only pipeline -- it is the T1
        # bounded-out-of-orderness declaration
        df = df.withColumn(col, F.col(col).cast(declared))
    if select_cols is not None:
        # the columns the merge itself consumes lead: the op column, then the
        # TARGET's ordering columns (not a hardcoded 'seq' -- a table ordered
        # by e.g. 'ts' would otherwise lose its ordering column to the
        # projection and kill the query at first merge); the before-image
        # trails for the refreshes
        lead = [c for c in ("op", *target.order_by) if c not in select_cols]
        extra = ["before"] if "before" in df.columns and "before" not in select_cols else []
        df = df.select(*lead, *select_cols, *extra)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if refreshes is not None and refreshes():
            # one read of the changelog feeds the merge and every refresh
            batch_df = batch_df.localCheckpoint(eager=True)
        # the staging snapshot holds after-images only: the before-image is
        # refresh-scoping metadata, and persisting a full pre-update row per
        # row would roughly double stored width for nothing
        target.merge(batch_df.drop("before"), batch_id=batch_id, writer_id=writer_id)
        for refresh in refreshes() if refreshes is not None else ():
            refresh(batch_df, batch_id)

    return (
        df.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
