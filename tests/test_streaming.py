"""Streaming end-to-end tests (SURVEY.md section 5 items 3-4): replay a
deterministic CDC workload modeled on the reference's generator and assert
the continuously-maintained view equals the batch re-aggregation of the final
snapshots -- the invariant Flink's retraction machinery guarantees."""

from __future__ import annotations

from pathlib import Path

import pyspark.sql.functions as F
import pytest

from flink_cdc_fluss_quickstart_spark.sources import osb
from flink_cdc_fluss_quickstart_spark.streaming.analytics import (
    ContinuousRevenueView,
    revenue_aggregate,
)
from flink_cdc_fluss_quickstart_spark.streaming.cdc_pipeline import replicate
from flink_cdc_fluss_quickstart_spark.streaming.pk_table import PKTable


@pytest.fixture(scope="module")
def workload(tmp_path_factory):
    out = tmp_path_factory.mktemp("osb_workload")
    dirs = osb.generate_workload(str(out), epochs=6, seed=42)
    return dirs


def test_pk_table_merge_upsert_delete(spark, tmp_path):
    t = PKTable(spark, str(tmp_path / "pk"), keys=["k"], order_by=["seq"])
    b1 = spark.createDataFrame(
        [("I", 1, 1, "a"), ("I", 2, 2, "b")], "op string, seq long, k long, v string"
    )
    t.merge(b1, batch_id=0)
    b2 = spark.createDataFrame(
        [("U", 3, 1, "a2"), ("D", 4, 2, None), ("I", 5, 3, "c")],
        "op string, seq long, k long, v string",
    )
    t.merge(b2, batch_id=1)
    got = {r["k"]: r["v"] for r in t.snapshot().collect()}
    assert got == {1: "a2", 3: "c"}


def test_pk_table_merge_idempotent_replay(spark, tmp_path):
    t = PKTable(spark, str(tmp_path / "pk2"), keys=["k"], order_by=["seq"])
    b = spark.createDataFrame([("I", 1, 1, "a")], "op string, seq long, k long, v string")
    t.merge(b, batch_id=0)
    stale = spark.createDataFrame(
        [("U", 0, 1, "STALE")], "op string, seq long, k long, v string"
    )
    t.merge(stale, batch_id=0)  # replay of applied batch -> no-op
    assert [r["v"] for r in t.snapshot().collect()] == ["a"]


def test_pk_table_bucket_pruning(spark, tmp_path):
    t = PKTable(spark, str(tmp_path / "pk3"), keys=["k"], order_by=["seq"], n_buckets=8)
    big = spark.range(100).select(
        F.lit("I").alias("op"), F.col("id").alias("seq"), F.col("id").alias("k")
    )
    t.merge(big, batch_id=0)
    v_before = t._read_manifest()["version"]
    dirs_before = dict(t._read_manifest()["buckets"])
    one = spark.createDataFrame([("U", 1000, 5)], "op string, seq long, k long")
    t.merge(one, batch_id=1)
    m = t._read_manifest()
    changed = [b for b, d in m["buckets"].items() if dirs_before.get(b) != d]
    assert len(changed) == 1  # only the touched bucket was rewritten
    assert m["version"] == v_before + 1
    assert t.snapshot().count() == 100


def test_cdc_replication_pipeline(spark, workload, tmp_path):
    users = PKTable(spark, str(tmp_path / "users_staging"),
                    keys=["user_id"], order_by=["seq"])
    stream = osb.changelog_stream(spark, workload["users"], osb.USERS_SCHEMA)
    q = replicate(
        stream, users, str(tmp_path / "ckpt_users"),
        select_cols=["user_id", "username", "email", "full_name", "created_at"],
        watermark=("created_at", "5 seconds"),
    )
    q.awaitTermination(120)
    snap = users.snapshot()
    assert snap.count() == 6  # one insert per epoch, no deletes
    assert {r["username"] for r in snap.collect()} == {f"user_{i}" for i in range(1, 7)}


def test_continuous_revenue_view_matches_batch_oracle(spark, workload, tmp_path):
    tickets = PKTable(spark, str(tmp_path / "tickets_staging"),
                      keys=["ticket_id"], order_by=["seq"])
    movies = PKTable(spark, str(tmp_path / "movies_staging"),
                     keys=["movie_id"], order_by=["seq"])
    revenue = PKTable(spark, str(tmp_path / "movie_revenue_realtime"),
                      keys=["movie_id"], order_by=["seq"])
    view = ContinuousRevenueView(spark, tickets, movies, revenue)

    # movies first (dimension inserts+updates), then tickets -- each epoch a
    # separate micro-batch (maxFilesPerTrigger=1)
    qm = view.start_movies_pipeline(
        osb.changelog_stream(spark, workload["movies"], osb.MOVIES_SCHEMA),
        str(tmp_path / "ckpt_movies"),
    )
    qm.awaitTermination(180)
    qt = view.start_tickets_pipeline(
        osb.changelog_stream(spark, workload["tickets"], osb.TICKETS_SCHEMA),
        str(tmp_path / "ckpt_tickets"),
    )
    qt.awaitTermination(180)

    served = revenue.snapshot().drop("seq")
    oracle = revenue_aggregate(tickets.snapshot(), movies.snapshot())

    s_rows = sorted([tuple(r) for r in served.select(*oracle.columns).collect()])
    o_rows = sorted([tuple(r) for r in oracle.collect()])
    assert s_rows == o_rows
    # sanity: retractions happened (some tickets transitioned / were deleted)
    statuses = {r["status"] for r in tickets.snapshot().collect()}
    assert {"live", "finished"} <= statuses
    # movie-title updates are reflected in the served view (J1 dim update)
    titles = {r["movie_title"] for r in served.collect()}
    assert any("director's cut" in t for t in titles)


def test_revenue_view_recovers_from_checkpoint_restart(spark, tmp_path):
    """Exactly-once across a process restart (T4, the recovery half): run the
    flagship view over the FIRST half of the workload, let the queries
    terminate, then resume over the second half from the SAME checkpoints and
    table paths with freshly constructed PKTable/view objects -- a new
    "process". The served view must equal the batch oracle of the full
    snapshots: the file-source checkpoint must not re-deliver the first
    half's epochs (the pk-table idempotence markers absorb the at-most-one
    uncommitted-batch replay), and the second half's group-key-moving
    exchanges must retract from aggregates built BEFORE the restart -- which
    only works if the recovered staging state, not the stream history, feeds
    the refresh."""
    import shutil

    full = osb.generate_workload(str(tmp_path / "all"), epochs=6, seed=42)
    live = {t: tmp_path / "live" / t for t in ("movies", "tickets")}
    for d in live.values():
        d.mkdir(parents=True)

    def expose(table: str, lo: int, hi: int) -> None:
        for e in range(lo, hi):
            name = f"epoch_{e:04d}.parquet"
            shutil.copy(Path(full[table]) / name, live[table] / name)

    def run_process():
        # fresh objects over the SAME storage + checkpoints = restart
        tickets = PKTable(spark, str(tmp_path / "tickets_staging"),
                          keys=["ticket_id"], order_by=["seq"])
        movies = PKTable(spark, str(tmp_path / "movies_staging"),
                         keys=["movie_id"], order_by=["seq"])
        revenue = PKTable(spark, str(tmp_path / "movie_revenue_realtime"),
                          keys=["movie_id"], order_by=["seq"])
        view = ContinuousRevenueView(spark, tickets, movies, revenue)
        qm = view.start_movies_pipeline(
            osb.changelog_stream(spark, str(live["movies"]), osb.MOVIES_SCHEMA),
            str(tmp_path / "ckpt_movies"),
        )
        qm.awaitTermination(180)
        qt = view.start_tickets_pipeline(
            osb.changelog_stream(spark, str(live["tickets"]), osb.TICKETS_SCHEMA),
            str(tmp_path / "ckpt_tickets"),
        )
        qt.awaitTermination(180)
        return tickets, movies, revenue

    def assert_view_matches_oracle(tickets, movies, revenue):
        served = revenue.snapshot().drop("seq")
        oracle = revenue_aggregate(tickets.snapshot(), movies.snapshot())
        s_rows = sorted(tuple(r) for r in served.select(*oracle.columns).collect())
        o_rows = sorted(tuple(r) for r in oracle.collect())
        assert s_rows == o_rows
        return s_rows

    expose("movies", 0, 3)
    expose("tickets", 0, 3)
    first_half = assert_view_matches_oracle(*run_process())

    expose("movies", 3, 6)
    expose("tickets", 3, 6)
    final = assert_view_matches_oracle(*run_process())

    # the resumed process actually advanced the view (epochs 4-6 carry new
    # tickets and at least one exchange), it did not just re-serve half one
    assert final != first_half


def test_revenue_view_invariants(spark, workload, tmp_path):
    """Property checks from SURVEY.md section 5 item 5: per-status counts sum
    to ticket_count, per-status revenues sum to total_revenue."""
    tickets = PKTable(spark, str(tmp_path / "t2"), keys=["ticket_id"], order_by=["seq"])
    movies = PKTable(spark, str(tmp_path / "m2"), keys=["movie_id"], order_by=["seq"])
    # batch-apply the whole changelog at once
    t_log = spark.read.schema(osb.TICKETS_SCHEMA).parquet(workload["tickets"])
    m_log = spark.read.schema(osb.MOVIES_SCHEMA).parquet(workload["movies"])
    tickets.merge(t_log, batch_id=0)
    movies.merge(m_log, batch_id=0)
    agg = revenue_aggregate(tickets.snapshot(), movies.snapshot())
    bad = agg.filter(
        (F.col("scheduled_tickets") + F.col("live_tickets") + F.col("finished_tickets")
         != F.col("ticket_count"))
        | (F.col("scheduled_revenue") + F.col("live_revenue") + F.col("finished_revenue")
           != F.col("total_revenue"))
    )
    assert bad.count() == 0
    assert agg.count() > 0


def test_refresh_deletes_groups_when_staging_empties(spark, tmp_path):
    """A batch that deletes EVERY remaining ticket empties the staging table
    (snapshot() -> None); the refresh must still merge the deletes for the
    affected groups, or the serving table keeps the stale aggregates
    forever -- the r8 review's emptied-staging regression."""
    from datetime import datetime
    from decimal import Decimal

    tickets = PKTable(spark, str(tmp_path / "t"), keys=["ticket_id"], order_by=["seq"])
    movies = PKTable(spark, str(tmp_path / "m"), keys=["movie_id"], order_by=["seq"])
    revenue = PKTable(spark, str(tmp_path / "rev"), keys=["movie_id"], order_by=["seq"])
    view = ContinuousRevenueView(spark, tickets, movies, revenue)
    ts0 = datetime(2025, 6, 1, 12, 0, 0)
    movies.merge(
        spark.createDataFrame(
            [("I", 1, 1, "Movie 1", "d", 90, ts0, ts0)],
            "op string, seq long, movie_id long, title string, description string,"
            " duration_minutes int, start_date timestamp_ntz, created_at timestamp_ntz",
        ),
        batch_id=0,
    )
    ticket_schema = (
        "op string, seq long, ticket_id long, movie_id long, user_id long,"
        " cost decimal(10,2), status string, purchased_at timestamp_ntz"
    )
    tickets.merge(
        spark.createDataFrame(
            [("I", 2, 1, 1, 1, Decimal("10.00"), "scheduled", ts0)], ticket_schema
        ),
        batch_id=0,
    )
    affected = spark.createDataFrame([(1,)], "movie_id long")
    view.refresh(affected, 0, "w")
    assert {r.movie_id for r in revenue.snapshot().collect()} == {1}

    # the ONLY ticket is deleted -> staging empties -> snapshot() is None
    tickets.merge(
        spark.createDataFrame(
            [("D", 3, 1, 1, 1, Decimal("10.00"), "scheduled", ts0)], ticket_schema
        ),
        batch_id=1,
    )
    assert tickets.snapshot() is None
    view.refresh(affected, 1, "w")
    served = revenue.snapshot()
    assert served is None or served.filter(F.col("movie_id") == 1).count() == 0


def test_pk_table_bucket_count_is_a_creation_property(spark, tmp_path):
    """Reopening an existing table with a different n_buckets ctor value must
    adopt the manifest's stored count -- re-routing keys to new bucket
    numbers would leave each key's old row alive in its old bucket
    (duplicate PKs with no error)."""
    path = str(tmp_path / "pk")
    t1 = PKTable(spark, path, keys=["k"], order_by=["seq"], n_buckets=4)
    t1.merge(
        spark.createDataFrame(
            [("I", 1, i, "a") for i in range(20)], "op string, seq long, k long, v string"
        ),
        batch_id=0,
    )
    t2 = PKTable(spark, path, keys=["k"], order_by=["seq"], n_buckets=8)
    assert t2.n_buckets == 4  # stored property wins
    t2.merge(
        spark.createDataFrame(
            [("U", 2, i, "b") for i in range(20)], "op string, seq long, k long, v string"
        ),
        batch_id=1,
    )
    got = {r["k"]: r["v"] for r in t2.snapshot().collect()}
    assert got == {i: "b" for i in range(20)}  # no duplicate keys, all updated


def test_overwrite_resets_txn_watermarks(spark, tmp_path):
    """overwrite() is a re-seed: a stream restarted afterwards with a fresh
    checkpoint delivers batch ids from 0 again, so the per-writer txn
    high-watermarks must reset or every post-seed merge silently no-ops."""
    t = PKTable(spark, str(tmp_path / "pk"), keys=["k"], order_by=["seq"])
    t.merge(
        spark.createDataFrame([("I", 1, 1, "a")], "op string, seq long, k long, v string"),
        batch_id=57,
        writer_id="cdc",
    )
    # ... and so must the per-source sequence marks: the restarted source's
    # seqs may sit below the mark the pre-seed stream left
    t.merge(
        spark.createDataFrame([("U", 100, 2, "x")], "op string, seq long, k long, v string"),
        batch_id=0,
        writer_id="src-writer",
        source="src",
    )
    assert t._read_manifest()["marks"] == {"src": 100}
    t.overwrite(spark.createDataFrame([(1, "seeded", 0)], "k long, v string, seq long"))
    assert "marks" not in t._read_manifest()
    t.merge(
        spark.createDataFrame([("U", 2, 1, "post-seed")], "op string, seq long, k long, v string"),
        batch_id=0,
        writer_id="cdc",
    )
    t.merge(
        spark.createDataFrame([("I", 3, 2, "post-seed")], "op string, seq long, k long, v string"),
        batch_id=0,
        writer_id="src-writer",
        source="src",
    )
    got = {r["k"]: r["v"] for r in t.snapshot().collect()}
    assert got == {1: "post-seed", 2: "post-seed"}  # both post-seed batches applied


def test_merge_default_batch_id_auto_increments(spark, tmp_path):
    """Two distinct batches merged WITHOUT explicit batch ids must both
    apply (an omitted id auto-increments; it must not silently no-op)."""
    from flink_cdc_fluss_quickstart_spark.streaming.pk_table import PKTable

    t = PKTable(spark, str(tmp_path / "t"), keys=["k"], order_by=["seq"])
    mk = lambda rows: spark.createDataFrame(rows, "op string, seq long, k long, v string")  # noqa: E731
    t.merge(mk([("I", 1, 1, "a")]))
    t.merge(mk([("I", 2, 2, "b")]))
    snap = {(r.k, r.v) for r in t.snapshot().collect()}
    assert snap == {(1, "a"), (2, "b")}


def test_concurrent_merges_serialize(spark, tmp_path):
    """Concurrent writers into one table must not lose manifest updates
    (commits serialize per table path)."""
    import threading

    from flink_cdc_fluss_quickstart_spark.streaming.pk_table import PKTable

    t = PKTable(spark, str(tmp_path / "t"), keys=["k"], order_by=["seq"], n_buckets=4)

    def writer(wid: int) -> None:
        for b in range(3):
            df = spark.createDataFrame(
                [("I", b, wid * 100 + b, f"w{wid}b{b}")],
                "op string, seq long, k long, v string",
            )
            t.merge(df, batch_id=b, writer_id=f"w{wid}")

    threads = [threading.Thread(target=writer, args=(w,)) for w in range(3)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    snap = t.snapshot()
    # 3 writers x 3 batches, all distinct keys -> all 9 rows present
    assert snap.count() == 9
    for w in range(3):
        assert t.last_batch_id(f"w{w}") == 2


def test_drop_table_purges_store(spark, tmp_path):
    """Reference dialect: DROP TABLE + CREATE TABLE yields an EMPTY table
    (the old store's rows must not resurrect)."""
    from flink_cdc_fluss_quickstart_spark.sql_frontend import Engine

    ddl = """
    CREATE TABLE t1 (
        id BIGINT NOT NULL,
        v STRING,
        PRIMARY KEY (id) NOT ENFORCED
    ) WITH ('bucket.num' = '2');
    """
    eng = Engine(spark, warehouse=str(tmp_path / "wh"))
    eng.execute(ddl)
    eng.store_for("t1").merge(
        spark.createDataFrame([("I", 1, 10, "x")], "op string, seq long, id long, v string")
    )
    assert eng.snapshot("t1").count() == 1
    eng.execute("DROP TABLE t1;")
    eng.execute(ddl)
    assert eng.snapshot("t1") is None


def test_concurrent_two_sided_updates_converge(spark, workload, tmp_path):
    """Changelog-mode J1 parity under CONCURRENT two-sided updates: the
    movies pipeline (dimension inserts + title edits, gen_data.py:118-133
    semantics) and the tickets pipeline (inserts / status transitions /
    deletes) run at the same time, so dimension edits land mid-ticket-stream.
    The serving table must still converge to the batch re-aggregation of the
    final snapshots -- the invariant Flink's retraction machinery guarantees
    when both join inputs update."""
    tickets = PKTable(spark, str(tmp_path / "tickets_staging"),
                      keys=["ticket_id"], order_by=["seq"])
    movies = PKTable(spark, str(tmp_path / "movies_staging"),
                     keys=["movie_id"], order_by=["seq"])
    revenue = PKTable(spark, str(tmp_path / "movie_revenue_realtime"),
                      keys=["movie_id"], order_by=["seq"])
    view = ContinuousRevenueView(spark, tickets, movies, revenue)

    # both pipelines start together; epoch files become interleaved
    # micro-batches on two driver threads
    qm = view.start_movies_pipeline(
        osb.changelog_stream(spark, workload["movies"], osb.MOVIES_SCHEMA),
        str(tmp_path / "ckpt_movies"),
    )
    qt = view.start_tickets_pipeline(
        osb.changelog_stream(spark, workload["tickets"], osb.TICKETS_SCHEMA),
        str(tmp_path / "ckpt_tickets"),
    )
    qm.awaitTermination(300)
    qt.awaitTermination(300)

    served = revenue.snapshot().drop("seq")
    oracle = revenue_aggregate(tickets.snapshot(), movies.snapshot())
    s_rows = sorted([tuple(r) for r in served.select(*oracle.columns).collect()])
    o_rows = sorted([tuple(r) for r in oracle.collect()])
    assert s_rows == o_rows
    # the run really exercised two-sided churn: title edits present in the
    # final dimension AND reflected in the served view
    titles = {r["movie_title"] for r in served.collect()}
    assert any("director's cut" in t for t in titles)
    statuses = {r["status"] for r in tickets.snapshot().collect()}
    assert {"live", "finished"} <= statuses


def _write_ticket_epoch(dir_path, epoch: int, rows: list[dict]) -> None:
    """One changelog epoch file in the osb envelope (incl. before struct)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    payload = [
        ("ticket_id", pa.int64()), ("movie_id", pa.int64()), ("user_id", pa.int64()),
        ("cost", pa.decimal128(10, 2)), ("status", pa.string()),
        ("purchased_at", pa.timestamp("us")),
    ]
    schema = pa.schema(
        [pa.field("op", pa.string()), pa.field("seq", pa.int64())]
        + [pa.field(n, t) for n, t in payload]
        + [pa.field("before", pa.struct([pa.field(n, t) for n, t in payload]))]
    )
    cols = {f.name: [r.get(f.name) for r in rows] for f in schema}
    pq.write_table(
        pa.Table.from_pydict(cols, schema=schema),
        str(Path(dir_path) / f"epoch_{epoch:04d}.parquet"),
    )


def test_group_key_moving_update_refreshes_both_groups(spark, tmp_path):
    """REPLICA IDENTITY FULL semantics (01-init.sql:56-59): a ticket
    EXCHANGED from movie 1 to movie 2 arrives as one U row whose before
    struct carries the old movie_id. After that single micro-batch, movie
    1's aggregate must have retracted the ticket (here: the group empties
    and is DELETED from the serving table) and movie 2's must include it --
    an after-image-only consumer would leave movie 1 stale forever, since
    nothing else ever touches it."""
    from datetime import datetime
    from decimal import Decimal

    t_dir = tmp_path / "wal" / "tickets"
    m_dir = tmp_path / "wal" / "movies"
    t_dir.mkdir(parents=True)
    m_dir.mkdir(parents=True)

    ts0 = datetime(2025, 6, 1, 12, 0, 0)
    base = {"user_id": 1, "cost": Decimal("10.00"), "purchased_at": ts0}
    old = {"ticket_id": 1, "movie_id": 1, "status": "scheduled", **base}
    # epoch 0: one ticket for movie 1; epoch 1: it moves to movie 2
    _write_ticket_epoch(t_dir, 0, [{"op": "I", "seq": 1, **old}])
    _write_ticket_epoch(
        t_dir, 1,
        [{"op": "U", "seq": 2, **{**old, "movie_id": 2}, "before": old}],
    )
    # movies: both inserted in epoch 0, never touched again
    import pyarrow as pa
    import pyarrow.parquet as pq

    mpayload = [
        ("movie_id", pa.int64()), ("title", pa.string()), ("description", pa.string()),
        ("duration_minutes", pa.int32()), ("start_date", pa.timestamp("us")),
        ("created_at", pa.timestamp("us")),
    ]
    mschema = pa.schema(
        [pa.field("op", pa.string()), pa.field("seq", pa.int64())]
        + [pa.field(n, t) for n, t in mpayload]
        + [pa.field("before", pa.struct([pa.field(n, t) for n, t in mpayload]))]
    )
    mrows = [
        {"op": "I", "seq": 1, "movie_id": i, "title": f"Movie {i}",
         "description": "d", "duration_minutes": 90, "start_date": ts0,
         "created_at": ts0}
        for i in (1, 2)
    ]
    pq.write_table(
        pa.Table.from_pydict(
            {f.name: [r.get(f.name) for r in mrows] for f in mschema}, schema=mschema
        ),
        str(m_dir / "epoch_0000.parquet"),
    )

    from flink_cdc_fluss_quickstart_spark.streaming.pk_table import PKTable

    tickets = PKTable(spark, str(tmp_path / "t"), keys=["ticket_id"], order_by=["seq"])
    movies = PKTable(spark, str(tmp_path / "m"), keys=["movie_id"], order_by=["seq"])
    revenue = PKTable(spark, str(tmp_path / "rev"), keys=["movie_id"], order_by=["seq"])
    view = ContinuousRevenueView(spark, tickets, movies, revenue)

    # awaitTermination(timeout) returns False if the query hasn't drained
    # (observed under full-suite CPU contention) -- assert it, so a slow
    # machine reports "didn't drain" instead of a bogus semantic failure
    qm = view.start_movies_pipeline(
        osb.changelog_stream(spark, str(m_dir), osb.MOVIES_SCHEMA),
        str(tmp_path / "ckpt_m"),
    )
    assert qm.awaitTermination(300), "movies pipeline did not drain"
    qt = view.start_tickets_pipeline(
        osb.changelog_stream(spark, str(t_dir), osb.TICKETS_SCHEMA),
        str(tmp_path / "ckpt_t"),
    )
    assert qt.awaitTermination(300), "tickets pipeline did not drain"

    served = {r.movie_id: r for r in revenue.snapshot().collect()}
    # movie 1's group emptied -> deleted from the serving table
    assert 1 not in served, "stale aggregate left for the OLD group after the move"
    assert served[2].ticket_count == 1
    assert served[2].total_revenue == Decimal("10.00")


def test_heavy_exchange_workload_parity(spark, tmp_path):
    """Stress the before-image path: a workload where group-key-moving
    updates are as frequent as status transitions (5 exchanges per epoch)
    must still hold the streaming == batch invariant -- every exchange
    leaves a stale OLD group behind unless the refresh consumed the
    before-image."""
    dirs = osb.generate_workload(
        str(tmp_path / "wl"), epochs=6, seed=99, moves_per_epoch=5
    )
    tickets = PKTable(spark, str(tmp_path / "t"), keys=["ticket_id"], order_by=["seq"])
    movies = PKTable(spark, str(tmp_path / "m"), keys=["movie_id"], order_by=["seq"])
    revenue = PKTable(spark, str(tmp_path / "rev"), keys=["movie_id"], order_by=["seq"])
    view = ContinuousRevenueView(spark, tickets, movies, revenue)

    qm = view.start_movies_pipeline(
        osb.changelog_stream(spark, dirs["movies"], osb.MOVIES_SCHEMA),
        str(tmp_path / "ckpt_m"),
    )
    qm.awaitTermination(180)
    qt = view.start_tickets_pipeline(
        osb.changelog_stream(spark, dirs["tickets"], osb.TICKETS_SCHEMA),
        str(tmp_path / "ckpt_t"),
    )
    qt.awaitTermination(180)

    # the workload really contains moves (guard against a generator change
    # silently defeating the point of this test)
    log = spark.read.schema(osb.TICKETS_SCHEMA).parquet(dirs["tickets"])
    n_moves = log.filter(
        (F.col("op") == "U") & (F.col("before.movie_id") != F.col("movie_id"))
    ).count()
    assert n_moves >= 15  # 5 moves/epoch from epoch 2 (candidate-limited)

    served = revenue.snapshot().drop("seq")
    oracle = revenue_aggregate(tickets.snapshot(), movies.snapshot())
    s_rows = sorted(tuple(r) for r in served.select(*oracle.columns).collect())
    o_rows = sorted(tuple(r) for r in oracle.collect())
    assert s_rows == o_rows and len(s_rows) > 0


def _jobs(spark, fn):
    """(fn's result, the number of Spark jobs fn ran), by job group."""
    sc = spark.sparkContext
    group = f"commit-refresh-{id(fn)}"
    sc.setJobGroup(group, "commit_refresh job count")
    try:
        out = fn()
        job_ids = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(job_ids)


def test_commit_refresh_rebuilds_when_a_staging_input_moved(spark, tmp_path):
    """The optimistic view commit, with a deterministic interleaving: a
    tickets refresh builds its changes from the old movie title; before
    that build returns, a title edit and the edit's own refresh commit. The
    tickets refresh must notice the moved movies version under the view's
    commit lock and rebuild there -- committing the first build would put
    the stale title back after the newer one. A replayed (writer, batch)
    then returns before building: no Spark job at all."""
    from datetime import datetime
    from decimal import Decimal

    from flink_cdc_fluss_quickstart_spark.streaming.analytics import commit_refresh

    tickets = PKTable(spark, str(tmp_path / "t"), keys=["ticket_id"], order_by=["seq"])
    movies = PKTable(spark, str(tmp_path / "m"), keys=["movie_id"], order_by=["seq"])
    revenue = PKTable(spark, str(tmp_path / "rev"), keys=["movie_id"], order_by=["seq"])
    view = ContinuousRevenueView(spark, tickets, movies, revenue)
    ts0 = datetime(2025, 6, 1, 12, 0, 0)

    def movie(seq, title):
        return spark.createDataFrame(
            [("U", seq, 1, title, 90, ts0)],
            "op string, seq long, movie_id long, title string,"
            " duration_minutes int, start_date timestamp_ntz")

    def ticket(seq, tid):
        return spark.createDataFrame(
            [("I", seq, tid, 1, Decimal("10.00"), "scheduled", ts0)],
            "op string, seq long, ticket_id long, movie_id long,"
            " cost decimal(10,2), status string, purchased_at timestamp_ntz")

    def served():
        return {r.movie_id: (r.movie_title, r.ticket_count)
                for r in revenue.snapshot().collect()}

    affected = spark.createDataFrame([(1,)], "movie_id long")
    movies.merge(movie(1, "Old"), batch_id=0, writer_id="movies-cdc")
    tickets.merge(ticket(2, 1), batch_id=0, writer_id="tickets-cdc")
    view.refresh(affected, 0, "rev-from-tickets")
    assert served() == {1: ("Old", 1)}

    tickets.merge(ticket(3, 2), batch_id=1, writer_id="tickets-cdc")
    built = []

    def build():
        changes = view.changes(affected, 1).localCheckpoint(eager=True)
        built.append({r.movie_title for r in changes.collect()})
        if len(built) == 1:
            # the edit and its refresh land while the first build is out
            movies.merge(movie(4, "New"), batch_id=1, writer_id="movies-cdc")
            view.refresh(affected, 1, "rev-from-movies")
            assert served() == {1: ("New", 2)}
        return changes

    assert commit_refresh(revenue, (tickets, movies), build, 1, "rev-from-tickets")
    assert built == [{"Old"}, {"New"}], "the first build must be rebuilt under the lock"
    assert served() == {1: ("New", 2)}

    n_built = len(built)
    committed, n = _jobs(
        spark, lambda: commit_refresh(revenue, (tickets, movies), build, 1,
                                      "rev-from-tickets"))
    assert not committed and n == 0 and len(built) == n_built
    _, n = _jobs(spark, lambda: view.refresh(affected, 1, "rev-from-movies"))
    assert n == 0, f"a replayed refresh ran {n} jobs"
    assert served() == {1: ("New", 2)}


def test_concurrent_refreshes_converge_under_stress(spark, tmp_path):
    """More writer threads than cores: title edits and ticket inserts for
    the same movies merge into their staging tables and refresh the view
    concurrently, each thread through its own writer ids. Only the view
    merges serialize, so a refresh committing a staging state older than
    one an earlier commit saw would leave a stale title or count behind;
    the view must equal the batch aggregation of the final snapshots."""
    import sys
    import threading
    from datetime import datetime
    from decimal import Decimal

    tickets = PKTable(spark, str(tmp_path / "t"), keys=["ticket_id"], order_by=["seq"])
    movies = PKTable(spark, str(tmp_path / "m"), keys=["movie_id"], order_by=["seq"])
    revenue = PKTable(spark, str(tmp_path / "rev"), keys=["movie_id"], order_by=["seq"])
    view = ContinuousRevenueView(spark, tickets, movies, revenue)
    ts0 = datetime(2025, 6, 1, 12, 0, 0)
    movie_schema = ("op string, seq long, movie_id long, title string,"
                    " duration_minutes int, start_date timestamp_ntz")
    ticket_schema = ("op string, seq long, ticket_id long, movie_id long,"
                     " cost decimal(10,2), status string, purchased_at timestamp_ntz")
    movie_ids = (1, 2)
    movies.merge(spark.createDataFrame(
        [("I", 0, m, f"Movie {m}", 90, ts0) for m in movie_ids], movie_schema),
        batch_id=0, writer_id="seed")
    errors: list[BaseException] = []

    def editor(w: int) -> None:
        for b in range(2):
            rows = [("U", 100 * w + b, m, f"Movie {m} w{w}b{b}", 90 + b, ts0)
                    for m in movie_ids]
            movies.merge(spark.createDataFrame(rows, movie_schema),
                         batch_id=b, writer_id=f"movies-{w}")
            view.refresh(spark.createDataFrame([(m,) for m in movie_ids], "movie_id long"),
                         b, f"rev-from-movies-{w}")

    def seller(w: int) -> None:
        for b in range(2):
            rows = [("I", 100 * w + b, 1000 * w + 10 * b + m, m, Decimal("5.00"),
                     "scheduled", ts0) for m in movie_ids]
            tickets.merge(spark.createDataFrame(rows, ticket_schema),
                          batch_id=b, writer_id=f"tickets-{w}")
            view.refresh(spark.createDataFrame([(m,) for m in movie_ids], "movie_id long"),
                         b, f"rev-from-tickets-{w}")

    def run(fn, w):
        try:
            fn(w)
        except BaseException as e:  # noqa: BLE001 -- re-raised in the test thread
            errors.append(e)

    threads = [threading.Thread(target=run, args=(editor if w % 2 else seller, w))
               for w in range(6)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=600)
    finally:
        sys.setswitchinterval(interval)
    assert not any(th.is_alive() for th in threads), "writers did not finish"
    assert not errors, errors

    served = revenue.snapshot().drop("seq")
    oracle = revenue_aggregate(tickets.snapshot(), movies.snapshot())
    s_rows = sorted(tuple(r) for r in served.select(*oracle.columns).collect())
    o_rows = sorted(tuple(r) for r in oracle.collect())
    assert s_rows == o_rows
    assert sum(r.ticket_count for r in served.collect()) == 12
