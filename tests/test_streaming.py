"""Streaming end-to-end tests (SURVEY.md section 5 items 3-4): replay a
deterministic CDC workload modeled on the reference's generator through the
reference scripts (tests/fixtures/*.sql on the SQL front-end) and assert the
continuously-maintained view equals the batch re-aggregation of the final
snapshots -- the invariant Flink's retraction machinery guarantees."""

from __future__ import annotations

import os
import threading
from datetime import datetime
from decimal import Decimal

import pyspark.sql.functions as F
import pytest
from pyspark.sql import types as T
from conftest import count_jobs
from test_sql_frontend import FIXTURES, _engine_over_epochs, _view_matches_oracle

from flink_cdc_fluss_quickstart_spark.sources import osb
from flink_cdc_fluss_quickstart_spark.sql_frontend import Engine
from flink_cdc_fluss_quickstart_spark.streaming.analytics import revenue_aggregate
from flink_cdc_fluss_quickstart_spark.streaming.cdc_pipeline import replicate
from flink_cdc_fluss_quickstart_spark.streaming.pk_table import PKTable

REVENUE_SCRIPTS = ("movies-cdc", "tickets-cdc", "revenue-analytics")
TS0 = datetime(2025, 6, 1, 12, 0, 0)


def _run_scripts(eng: Engine) -> None:
    """Execute the revenue pipeline's scripts -- every stream starts before
    any is awaited, as a deployment submits them -- and drain them."""
    for name in REVENUE_SCRIPTS:
        eng.execute((FIXTURES / f"{name}.sql").read_text())
    eng.await_all()


def _revenue_engine(spark, tmp_path):
    """An Engine whose movies/tickets changelogs are bound to empty dirs,
    and those dirs: tests fill them with `osb.write_epoch` (one micro-batch
    per epoch file) and drain them with `_run_scripts`."""
    dirs = {t: tmp_path / "changelog" / t for t in ("movies", "tickets")}
    for d in dirs.values():
        d.mkdir(parents=True)
    eng = Engine(spark, warehouse=str(tmp_path / "wh"))
    eng.bind_source("pg_osb_movies", str(dirs["movies"]), osb.MOVIES_SCHEMA)
    eng.bind_source("pg_osb_tickets", str(dirs["tickets"]), osb.TICKETS_SCHEMA)
    return eng, {t: str(d) for t, d in dirs.items()}


def _movie(movie_id: int, title: str | None = None) -> dict:
    return {"movie_id": movie_id, "title": title or f"Movie {movie_id}",
            "description": "d", "duration_minutes": 90, "start_date": TS0,
            "created_at": TS0}


def _ticket(ticket_id: int, movie_id: int, cost: str = "10.00") -> dict:
    return {"ticket_id": ticket_id, "movie_id": movie_id, "user_id": 1,
            "cost": Decimal(cost), "status": "scheduled", "purchased_at": TS0}


def _staging_batch(spark, envelope: T.StructType, rows: list[dict]):
    """Staging-merge input: changelog rows without the before-image."""
    return spark.createDataFrame(
        rows, T.StructType([f for f in envelope.fields if f.name != "before"]))


def _served(eng: Engine) -> dict:
    snap = eng.snapshot("movie_revenue_realtime")
    return {} if snap is None else {r.movie_id: r for r in snap.collect()}


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


def _workload_engine(spark, tmp_path, wl: dict) -> Engine:
    eng = Engine(spark, warehouse=str(tmp_path / "wh"))
    eng.bind_source("pg_osb_movies", wl["movies"], osb.MOVIES_SCHEMA)
    eng.bind_source("pg_osb_tickets", wl["tickets"], osb.TICKETS_SCHEMA)
    return eng


def _assert_view_tracks_two_sided_churn(eng: Engine) -> None:
    """Served view == batch re-aggregation of the final staging snapshots,
    and the run really exercised both sides: tickets retracted past
    'scheduled', and title edits reached the served view (J1 dim update)."""
    assert _view_matches_oracle(eng)
    statuses = {r.status for r in eng.snapshot("tickets_staging").collect()}
    assert {"live", "finished"} <= statuses
    assert any("director's cut" in r.movie_title for r in _served(eng).values())


def test_continuous_revenue_view_matches_batch_oracle(spark, workload, tmp_path):
    """Movies first (dimension inserts + updates), then tickets -- each epoch
    file a separate micro-batch -- with the view maintained by the
    reference revenue-analytics script."""
    eng = _workload_engine(spark, tmp_path, workload)
    eng.execute((FIXTURES / "movies-cdc.sql").read_text())
    eng.await_all()
    eng.execute((FIXTURES / "tickets-cdc.sql").read_text())
    eng.execute((FIXTURES / "revenue-analytics.sql").read_text())
    eng.await_all()
    _assert_view_tracks_two_sided_churn(eng)


def test_concurrent_two_sided_updates_converge(spark, workload, tmp_path):
    """Changelog-mode J1 parity under CONCURRENT two-sided updates: every
    stream starts before any is awaited, so the movies side (dimension
    inserts + title edits, gen_data.py:118-133 semantics) and the tickets
    side (inserts / status transitions / deletes) merge and refresh the
    view at the same time, and dimension edits land mid-ticket-stream. The
    serving table must still converge to the batch re-aggregation of the
    final snapshots -- the invariant Flink's retraction machinery guarantees
    when both join inputs update."""
    eng = _workload_engine(spark, tmp_path, workload)
    _run_scripts(eng)
    _assert_view_tracks_two_sided_churn(eng)


def test_heavy_exchange_workload_parity(spark, tmp_path):
    """Stress the before-image path: a workload where group-key-moving
    updates are as frequent as status transitions (5 exchanges per epoch)
    must hold the streaming == batch invariant after EVERY epoch. An
    exchange whose before-image the refresh dropped leaves its OLD group
    stale only until a later micro-batch touches that group, so a check
    after the last epoch alone can miss it. In seed 99's workload every
    exchange's old movie also gets another ticket or movie row in the same
    epoch, which refreshes it anyway; seed 4's has epochs where it does
    not, so a dropped before-image fails there."""
    epochs = 6
    for seed in (99, 4):
        eng, expose = _engine_over_epochs(spark, tmp_path / f"seed{seed}",
                                          epochs=epochs, seed=seed,
                                          moves_per_epoch=5)
        for e in range(epochs):
            expose(e, e + 1)
            _run_scripts(eng)
            assert _view_matches_oracle(eng), f"seed {seed}: view diverged after epoch {e}"

        # the workload really contains moves (guard against a generator
        # change silently defeating the point of this test)
        log = spark.read.schema(osb.TICKETS_SCHEMA).parquet(
            eng.bound_sources["pg_osb_tickets"][0])
        n_moves = log.filter(
            (F.col("op") == "U") & (F.col("before.movie_id") != F.col("movie_id"))
        ).count()
        assert n_moves >= 15  # 5 moves/epoch from epoch 2 (candidate-limited)


def test_revenue_view_recovers_from_checkpoint_restart(spark, tmp_path):
    """Exactly-once across a process restart (T4, the recovery half): run the
    reference scripts over the FIRST half of the workload, then resume over
    the second half with a fresh Engine over the SAME warehouse -- a new
    "process" that finds the tables and stream checkpoints on disk. The
    served view must equal the batch oracle of the full snapshots: the
    file-source checkpoints must not re-deliver the first half's epochs
    (the PK tables' idempotence markers absorb the at-most-one uncommitted
    batch replay), and the second half's group-key-moving exchanges must
    retract from aggregates built BEFORE the restart -- which only works if
    the recovered staging state, not the stream history, feeds the
    refresh.

    Each half also checks changelog-mode J1 parity under CONCURRENT
    two-sided updates: all of a process's streams run at once, so the
    movies side (dimension inserts + title edits, gen_data.py:118-133
    semantics) and the tickets side (inserts / status transitions /
    exchanges / deletes) merge into their staging tables and refresh the
    view at the same time, and dimension edits land mid-ticket-stream."""
    eng, expose = _engine_over_epochs(spark, tmp_path, epochs=6)

    def run(engine: Engine) -> list[tuple]:
        _run_scripts(engine)
        assert _view_matches_oracle(engine)
        return sorted(map(tuple, engine.snapshot("movie_revenue_realtime")
                          .drop("seq").collect()))

    expose(0, 3)
    first_half = run(eng)

    restarted = Engine(spark, warehouse=eng.warehouse)
    for name, (path, schema) in eng.bound_sources.items():
        restarted.bind_source(name, path, schema)
    expose(3, 6)
    final = run(restarted)
    # the view is refreshed inside the replication streams: only their
    # checkpoints exist
    assert sorted(os.listdir(os.path.join(eng.warehouse, "_ckpt"))) == [
        "movies_staging_from_pg_osb_movies", "tickets_staging_from_pg_osb_tickets"]

    # the resumed process actually advanced the view (epochs 4-6 carry new
    # tickets and at least one exchange), it did not just re-serve half one
    assert final != first_half
    # the run really exercised two-sided churn: title edits present in the
    # final dimension AND reflected in the served view
    assert any("director's cut" in r.movie_title for r in _served(restarted).values())
    statuses = {r.status for r in restarted.snapshot("tickets_staging").collect()}
    assert {"live", "finished"} <= statuses


def test_view_registered_mid_stream_converges(spark, tmp_path, monkeypatch):
    """A view registered while the replication streams run misses no batch.
    The revenue script runs inside the tickets stream's last micro-batch,
    after its staging commit and before it looks the views up. While the
    view's initial refresh commits, a movies micro-batch carrying a title
    edit merges and looks the views up: it must already find the view, or
    nothing refreshes the edited group (the initial refresh was built
    before the edit). Re-executing the script on the maintained view then
    runs no Spark job and no refresh."""
    eng, dirs = _revenue_engine(spark, tmp_path)
    movies = [[{"op": "I", "seq": i, **_movie(i)} for i in (1, 2)],
              [{"op": "I", "seq": 3, **_movie(3)}],
              [{"op": "U", "seq": 6, **_movie(1, "Movie 1 (edited)"), "before": _movie(1)}]]
    tickets = [[{"op": "I", "seq": 4, **_ticket(1, movie_id=1)}],
               [{"op": "I", "seq": 5, **_ticket(2, movie_id=2)}]]
    for epoch, rows in enumerate(movies):
        osb.write_epoch(dirs["movies"], epoch, rows, osb.MOVIES_SCHEMA)
    for epoch, rows in enumerate(tickets):
        osb.write_epoch(dirs["tickets"], epoch, rows, osb.TICKETS_SCHEMA)
    revenue = (FIXTURES / "revenue-analytics.sql").read_text()
    initial_commit, edit_merged, edit_looked_up = (threading.Event() for _ in range(3))
    merge, lookup = PKTable.merge, eng._view_refreshes

    def staged_merge(store, changes, batch_id=None, writer_id="default", **kw):
        table = os.path.basename(store.path)
        edit = table == "movies_staging" and batch_id == len(movies) - 1
        if edit:
            initial_commit.wait(300)
        elif writer_id.endswith("-init"):
            initial_commit.set()
            edit_looked_up.wait(300)
        merge(store, changes, batch_id, writer_id, **kw)
        if edit:
            edit_merged.set()
        if table == "tickets_staging" and batch_id == len(tickets) - 1:
            eng.execute(revenue)

    def watched_lookup(staging, src):
        out = lookup(staging, src)
        if staging == "movies_staging" and edit_merged.is_set():
            edit_looked_up.set()
        return out

    monkeypatch.setattr(PKTable, "merge", staged_merge)
    monkeypatch.setattr(eng, "_view_refreshes", watched_lookup)
    for name in ("movies-cdc", "tickets-cdc"):
        eng.execute((FIXTURES / f"{name}.sql").read_text())
    eng.await_all()
    assert edit_looked_up.is_set(), "the edit did not merge during the initial refresh"
    assert _view_matches_oracle(eng)
    assert _served(eng)[1].movie_title == "Movie 1 (edited)"

    view = eng.views["movie_revenue_realtime"]
    n_stats = len(view.refresh_stats)
    _, n_jobs = count_jobs(spark, lambda: eng.execute(revenue))
    assert (n_jobs, len(view.refresh_stats), eng.queries) == (0, n_stats, [])


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
    """A changelog batch that deletes EVERY remaining ticket empties the
    staging table (snapshot() -> None); the view's refresh must still merge
    the deletes for the affected groups, or the serving table keeps the
    stale aggregates forever."""
    eng, dirs = _revenue_engine(spark, tmp_path)
    ticket = _ticket(1, movie_id=1)
    osb.write_epoch(dirs["movies"], 0, [{"op": "I", "seq": 1, **_movie(1)}],
                    osb.MOVIES_SCHEMA)
    osb.write_epoch(dirs["tickets"], 0, [{"op": "I", "seq": 2, **ticket}],
                    osb.TICKETS_SCHEMA)
    _run_scripts(eng)
    assert set(_served(eng)) == {1}

    # the ONLY ticket is deleted -> staging empties -> snapshot() is None
    osb.write_epoch(dirs["tickets"], 1,
                    [{"op": "D", "seq": 3, **ticket, "before": ticket}],
                    osb.TICKETS_SCHEMA)
    _run_scripts(eng)
    assert eng.snapshot("tickets_staging") is None
    assert 1 not in _served(eng)


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
    t.overwrite(spark.createDataFrame([(1, "seeded", 0)], "k long, v string, seq long"))
    t.merge(
        spark.createDataFrame([("U", 2, 1, "post-seed")], "op string, seq long, k long, v string"),
        batch_id=0,
        writer_id="cdc",
    )
    got = {r["k"]: r["v"] for r in t.snapshot().collect()}
    assert got == {1: "post-seed"}  # the post-seed batch applied


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


def test_group_key_moving_update_refreshes_both_groups(spark, tmp_path):
    """REPLICA IDENTITY FULL semantics (01-init.sql:56-59): a ticket
    EXCHANGED from movie 1 to movie 2 arrives as one U row whose before
    struct carries the old movie_id. After that micro-batch, movie 1's
    aggregate must have retracted the ticket (here: the group empties and
    is DELETED from the serving table) and movie 2's must include it -- an
    after-image-only consumer would leave movie 1 stale forever, since
    nothing else ever touches it."""
    eng, dirs = _revenue_engine(spark, tmp_path)
    old = _ticket(1, movie_id=1)
    osb.write_epoch(dirs["movies"], 0,
                    [{"op": "I", "seq": i, **_movie(i)} for i in (1, 2)],
                    osb.MOVIES_SCHEMA)
    osb.write_epoch(dirs["tickets"], 0, [{"op": "I", "seq": 3, **old}],
                    osb.TICKETS_SCHEMA)
    _run_scripts(eng)
    assert {m: r.ticket_count for m, r in _served(eng).items()} == {1: 1}

    osb.write_epoch(dirs["tickets"], 1,
                    [{"op": "U", "seq": 4, **old, "movie_id": 2, "before": old}],
                    osb.TICKETS_SCHEMA)
    _run_scripts(eng)
    served = _served(eng)
    # movie 1's group emptied -> deleted from the serving table
    assert 1 not in served, "stale aggregate left for the OLD group after the move"
    assert served[2].ticket_count == 1
    assert served[2].total_revenue == Decimal("10.00")


def _refresh_around(spark, tmp_path, mid_build):
    """A deterministic interleaving on the view the Engine built from
    revenue-analytics.sql. Movie 1 ("Old") and ticket 1 are merged and
    refreshed; ticket 2 is merged, and its refresh (writer
    rev-from-tickets, batch 1) runs ``mid_build(eng, view)`` once, after
    its first build is pinned and before it takes the view's commit lock.
    Returns the engine, the view and the movie titles each of that
    refresh's builds read."""
    eng, _ = _revenue_engine(spark, tmp_path)
    _run_scripts(eng)
    view = eng.views["movie_revenue_realtime"]
    tickets, movies = eng.store_for("tickets_staging"), eng.store_for("movies_staging")
    movies.merge(_title_edit(spark, 1, "Old"), batch_id=0, writer_id="movies-cdc")
    tickets.merge(_new_ticket(spark, 2, 1), batch_id=0, writer_id="tickets-cdc")
    view.refresh(_movie_one(spark), 0, "rev-from-tickets")
    assert _titles_and_counts(eng) == {1: ("Old", 1)}
    tickets.merge(_new_ticket(spark, 3, 2), batch_id=1, writer_id="tickets-cdc")

    build, built, nested = view._changes, [], []

    def interleaved(keys, batch_id):
        changes = build(keys, batch_id).localCheckpoint(eager=True)
        if not nested:
            built.append({r.movie_title for r in changes.collect()})
            if len(built) == 1:
                nested.append(True)
                mid_build(eng, view)
                nested.clear()
        return changes

    view._changes = interleaved
    view.refresh(_movie_one(spark), 1, "rev-from-tickets")
    del view._changes
    assert view.refresh_stats[-1]["writer"] == "rev-from-tickets"
    return eng, view, built


def _title_edit(spark, seq, title):
    return _staging_batch(spark, osb.MOVIES_SCHEMA,
                          [{"op": "U", "seq": seq, **_movie(1, title)}])


def _new_ticket(spark, seq, tid):
    return _staging_batch(spark, osb.TICKETS_SCHEMA,
                          [{"op": "I", "seq": seq, **_ticket(tid, movie_id=1)}])


def _movie_one(spark):
    return spark.createDataFrame([(1,)], "movie_id long")


def _titles_and_counts(eng):
    return {m: (r.movie_title, r.ticket_count) for m, r in _served(eng).items()}


def test_commit_refresh_rebuilds_when_a_staging_input_moved(spark, tmp_path):
    """A title edit and the edit's own refresh commit while a tickets
    refresh's build (from the old title) is out. Both a staging input and
    the view moved, so the tickets refresh must rebuild under the view's
    commit lock -- committing the first build would put the stale title
    back after the newer one. A replayed (writer, batch) then returns
    before building: no Spark job at all."""
    def edit_and_refresh(eng, view):
        eng.store_for("movies_staging").merge(
            _title_edit(spark, 4, "New"), batch_id=1, writer_id="movies-cdc")
        view.refresh(_movie_one(spark), 1, "rev-from-movies")
        assert _titles_and_counts(eng) == {1: ("New", 2)}

    eng, view, built = _refresh_around(spark, tmp_path, edit_and_refresh)
    assert built == [{"Old"}, {"New"}], "the first build must be rebuilt under the lock"
    assert view.refresh_stats[-1]["rebuilt"] is True
    assert _titles_and_counts(eng) == {1: ("New", 2)}

    n_stats = len(view.refresh_stats)
    for writer in ("rev-from-tickets", "rev-from-movies"):
        _, n = count_jobs(spark, lambda w=writer: view.refresh(_movie_one(spark), 1, w))
        assert n == 0, f"a replayed refresh ran {n} jobs"
    assert len(view.refresh_stats) == n_stats
    assert _titles_and_counts(eng) == {1: ("New", 2)}


def test_commit_refresh_keeps_its_build_when_only_a_staging_input_moved(spark, tmp_path):
    """A title edit merges while a tickets refresh's build (from the old
    title) is out, but the edit's own refresh has not committed. The view
    did not move, so the build commits as it is: one build. The edit's
    refresh then commits after it and fixes the group both touched."""
    def edit_only(eng, view):
        eng.store_for("movies_staging").merge(
            _title_edit(spark, 4, "New"), batch_id=1, writer_id="movies-cdc")

    eng, view, built = _refresh_around(spark, tmp_path, edit_only)
    assert built == [{"Old"}], "a build no later refresh saw the edit of was rebuilt"
    assert view.refresh_stats[-1]["rebuilt"] is False
    assert _titles_and_counts(eng) == {1: ("Old", 2)}

    view.refresh(_movie_one(spark), 1, "rev-from-movies")
    assert _titles_and_counts(eng) == {1: ("New", 2)}
    assert _view_matches_oracle(eng)


def test_commit_refresh_keeps_its_build_when_only_the_view_moved(spark, tmp_path):
    """Another writer's refresh commits to the view while a tickets
    refresh's build is out, and no staging input moves: the build read the
    current staging state, so it commits without a rebuild."""
    def other_refresh(eng, view):
        view.refresh(_movie_one(spark), 0, "rev-other")

    eng, view, built = _refresh_around(spark, tmp_path, other_refresh)
    assert built == [{"Old"}], "a build of the current staging state was rebuilt"
    assert view.refresh_stats[-1]["rebuilt"] is False
    assert view.refresh_stats[-2]["writer"] == "rev-other"
    assert _titles_and_counts(eng) == {1: ("Old", 2)}
    assert _view_matches_oracle(eng)


def test_concurrent_refreshes_converge_under_stress(spark, tmp_path):
    """More writer threads than cores: title edits and ticket inserts for
    the same movies merge into the Engine's staging tables and refresh its
    revenue view concurrently, each thread through its own writer ids.
    Only the view merges serialize, so a refresh committing a staging state
    older than one an earlier commit saw would leave a stale title or count
    behind; the view must equal the batch aggregation of the final
    snapshots."""
    import sys
    import threading

    eng, _ = _revenue_engine(spark, tmp_path)
    _run_scripts(eng)
    view = eng.views["movie_revenue_realtime"]
    tickets, movies = eng.store_for("tickets_staging"), eng.store_for("movies_staging")
    movie_ids = (1, 2)
    seed = [{"op": "I", "seq": 0, **_movie(m)} for m in movie_ids]
    movies.merge(_staging_batch(spark, osb.MOVIES_SCHEMA, seed),
                 batch_id=0, writer_id="seed")
    errors: list[BaseException] = []

    def affected():
        return spark.createDataFrame([(m,) for m in movie_ids], "movie_id long")

    def editor(w: int) -> None:
        for b in range(2):
            rows = [{"op": "U", "seq": 100 * w + b,
                     **_movie(m, f"Movie {m} w{w}b{b}"), "duration_minutes": 90 + b}
                    for m in movie_ids]
            movies.merge(_staging_batch(spark, osb.MOVIES_SCHEMA, rows),
                         batch_id=b, writer_id=f"movies-{w}")
            view.refresh(affected(), b, f"rev-from-movies-{w}")

    def seller(w: int) -> None:
        for b in range(2):
            rows = [{"op": "I", "seq": 100 * w + b,
                     **_ticket(1000 * w + 10 * b + m, m, "5.00")} for m in movie_ids]
            tickets.merge(_staging_batch(spark, osb.TICKETS_SCHEMA, rows),
                          batch_id=b, writer_id=f"tickets-{w}")
            view.refresh(affected(), b, f"rev-from-tickets-{w}")

    def run_writer(fn, w):
        try:
            fn(w)
        except BaseException as e:  # noqa: BLE001 -- re-raised in the test thread
            errors.append(e)

    threads = [threading.Thread(target=run_writer, args=(editor if w % 2 else seller, w))
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

    assert _view_matches_oracle(eng)
    assert sum(r.ticket_count for r in _served(eng).values()) == 12
