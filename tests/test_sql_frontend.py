"""End-to-end test of the reference-dialect SQL front-end: run the adapted
reference scripts (examples/*.sql) against a replayed CDC workload and check
the materialized view against the engine's native batch aggregation."""

from __future__ import annotations

from pathlib import Path

import pytest

from flink_cdc_fluss_quickstart_spark.sources import osb
from flink_cdc_fluss_quickstart_spark.sql_frontend import Engine, _split_statements
from flink_cdc_fluss_quickstart_spark.streaming.analytics import revenue_aggregate

FIXTURES = Path(__file__).resolve().parent / "fixtures"


def test_split_statements_handles_quotes_and_comments():
    script = """
    -- a comment; with a semicolon
    SET 'a;b' = 'c';
    SELECT 1; SELECT 2
    """
    stmts = _split_statements(script)
    assert stmts == ["SET 'a;b' = 'c'", "SELECT 1", "SELECT 2"]


@pytest.fixture(scope="module")
def workload(tmp_path_factory):
    out = tmp_path_factory.mktemp("sql_workload")
    return osb.generate_workload(str(out), epochs=5, seed=11)


def test_reference_scripts_end_to_end(spark, workload, tmp_path):
    eng = Engine(spark, warehouse=str(tmp_path / "wh"))
    eng.bind_source("pg_osb_tickets", workload["tickets"], osb.TICKETS_SCHEMA)
    eng.bind_source("pg_osb_movies", workload["movies"], osb.MOVIES_SCHEMA)
    eng.bind_source("pg_osb_users", workload["users"], osb.USERS_SCHEMA)

    eng.execute((FIXTURES / "users-cdc.sql").read_text())
    eng.execute((FIXTURES / "movies-cdc.sql").read_text())
    eng.execute((FIXTURES / "tickets-cdc.sql").read_text())
    eng.await_all()

    # staging tables replicated with upsert semantics
    movies = eng.snapshot("movies_staging")
    tickets = eng.snapshot("tickets_staging")
    assert movies.count() == 10  # 2 inserts x 5 epochs, updates collapse
    assert tickets.count() > 0

    # users pipeline (reference users-cdc.sql) through the same front-end:
    # 1 insert per epoch, no updates -> one row per user
    users = eng.snapshot("users_staging")
    urows = {r.user_id: r for r in users.collect()}
    assert sorted(urows) == [1, 2, 3, 4, 5]
    assert urows[3].username == "user_3"
    assert urows[3].email == "user_3@example.com"

    eng.execute((FIXTURES / "revenue-analytics.sql").read_text())
    eng.await_all()
    served = eng.snapshot("movie_revenue_realtime")

    oracle = revenue_aggregate(
        tickets.select("ticket_id", "movie_id", "user_id", "cost", "status", "purchased_at"),
        movies.select("movie_id", "title", "start_date", "duration_minutes"),
    )
    s = sorted(tuple(r) for r in served.select(*oracle.columns).collect())
    o = sorted(tuple(r) for r in oracle.collect())
    assert s == o
    assert len(s) > 0

    # session config captured (reference SET statements)
    assert eng.conf["table.optimizer.agg-phase-strategy"] == "TWO_PHASE"

    # re-running the analytics job resumes from its checkpoint: no new
    # changelog files -> zero refreshes, view unchanged (idempotent)
    eng.execute((FIXTURES / "revenue-analytics.sql").read_text())
    eng.await_all()
    again = eng.snapshot("movie_revenue_realtime")
    assert sorted(tuple(r) for r in again.select(*oracle.columns).collect()) == o


def test_incremental_view_work_scales_with_batch_keys(spark, tmp_path):
    """The affected-keys routing contract (the scale property): after the
    initial replay, a delta micro-batch touching ONE movie refreshes exactly
    one group key -- per-batch work tracks the batch's keys, not the staging
    table size -- and the view still equals the full batch aggregation."""
    from datetime import datetime
    from decimal import Decimal

    import pyarrow as pa
    import pyarrow.parquet as pq

    wl = osb.generate_workload(str(tmp_path / "wl"), epochs=5, seed=13)
    eng = Engine(spark, warehouse=str(tmp_path / "wh"))
    eng.bind_source("pg_osb_tickets", wl["tickets"], osb.TICKETS_SCHEMA)
    eng.bind_source("pg_osb_movies", wl["movies"], osb.MOVIES_SCHEMA)
    eng.execute((FIXTURES / "movies-cdc.sql").read_text())
    eng.execute((FIXTURES / "tickets-cdc.sql").read_text())
    eng.await_all()
    eng.execute((FIXTURES / "revenue-analytics.sql").read_text())
    eng.await_all()

    view = eng.views["movie_revenue_realtime"]
    assert view.refresh_stats, "the statement should route to the incremental path"
    n_initial = len(view.refresh_stats)

    # delta epoch: two new tickets, both for movie 1 (one affected group key)
    tbl = pa.table(
        {
            "op": ["I", "I"],
            "seq": [10_000, 10_001],
            "ticket_id": [9_001, 9_002],
            "movie_id": [1, 1],
            "user_id": [1, 1],
            "cost": [Decimal("12.50"), Decimal("8.00")],
            "status": ["scheduled", "scheduled"],
            "purchased_at": [datetime(2025, 6, 2, 9, 0, 0)] * 2,
        },
        schema=pa.schema(
            [
                pa.field("op", pa.string()),
                pa.field("seq", pa.int64()),
                pa.field("ticket_id", pa.int64()),
                pa.field("movie_id", pa.int64()),
                pa.field("user_id", pa.int64()),
                pa.field("cost", pa.decimal128(10, 2)),
                pa.field("status", pa.string()),
                pa.field("purchased_at", pa.timestamp("us")),
            ]
        ),
    )
    pq.write_table(tbl, str(Path(wl["tickets"]) / "epoch_9999.parquet"))

    eng.execute((FIXTURES / "tickets-cdc.sql").read_text())
    eng.await_all()
    eng.execute((FIXTURES / "revenue-analytics.sql").read_text())
    eng.await_all()

    delta_stats = view.refresh_stats[n_initial:]
    # only the tickets stream saw a new file; it refreshed exactly 1 group
    assert [s["n_affected"] for s in delta_stats] == [1]
    # ... while the staging side holds every movie ever replicated
    assert eng.snapshot("movies_staging").count() == 10
    assert eng.snapshot("tickets_staging").count() >= 40

    served = eng.snapshot("movie_revenue_realtime")
    oracle = revenue_aggregate(
        eng.snapshot("tickets_staging").select(
            "ticket_id", "movie_id", "user_id", "cost", "status", "purchased_at"
        ),
        eng.snapshot("movies_staging").select(
            "movie_id", "title", "start_date", "duration_minutes"
        ),
    )
    s = sorted(tuple(r) for r in served.select(*oracle.columns).collect())
    o = sorted(tuple(r) for r in oracle.collect())
    assert s == o and len(s) > 0

    # dim-side delta (J1 through the SQL layer): a movie title edit must
    # rewrite the already-emitted group, again refreshing exactly one key
    mtbl = pa.table(
        {
            "op": ["U"],
            "seq": [10_002],
            "movie_id": [1],
            "title": ["Movie 1 (remastered)"],
            "description": ["Description of movie 1"],
            "duration_minutes": [91],
            "start_date": [datetime(2025, 6, 1, 12, 0, 10)],
            "created_at": [datetime(2025, 6, 2, 10, 0, 0)],
        },
        schema=pa.schema(
            [
                pa.field("op", pa.string()),
                pa.field("seq", pa.int64()),
                pa.field("movie_id", pa.int64()),
                pa.field("title", pa.string()),
                pa.field("description", pa.string()),
                pa.field("duration_minutes", pa.int32()),
                pa.field("start_date", pa.timestamp("us")),
                pa.field("created_at", pa.timestamp("us")),
            ]
        ),
    )
    pq.write_table(mtbl, str(Path(wl["movies"]) / "epoch_9999.parquet"))
    n_before = len(view.refresh_stats)
    eng.execute((FIXTURES / "movies-cdc.sql").read_text())
    eng.await_all()
    eng.execute((FIXTURES / "revenue-analytics.sql").read_text())
    eng.await_all()
    assert [st["n_affected"] for st in view.refresh_stats[n_before:]] == [1]
    row = (
        eng.snapshot("movie_revenue_realtime")
        .filter("movie_id = 1")
        .collect()[0]
    )
    assert row.movie_title == "Movie 1 (remastered)"
    assert row.duration_minutes == 91

    # group-key-moving delta (REPLICA IDENTITY FULL): ticket 9001 exchanges
    # movie 1 -> movie 2; the U row's before struct must put BOTH movie
    # keys in the refresh frame (n_affected = 2), retracting from movie 1
    # and adding to movie 2 in the same micro-batch
    old_ticket = {
        "ticket_id": 9_001, "movie_id": 1, "user_id": 1,
        "cost": Decimal("12.50"), "status": "scheduled",
        "purchased_at": datetime(2025, 6, 2, 9, 0, 0),
    }
    payload_fields = [
        pa.field("ticket_id", pa.int64()), pa.field("movie_id", pa.int64()),
        pa.field("user_id", pa.int64()), pa.field("cost", pa.decimal128(10, 2)),
        pa.field("status", pa.string()), pa.field("purchased_at", pa.timestamp("us")),
    ]
    move_schema = pa.schema(
        [pa.field("op", pa.string()), pa.field("seq", pa.int64())]
        + payload_fields
        + [pa.field("before", pa.struct(payload_fields))]
    )
    moved = {**old_ticket, "movie_id": 2}
    mv_tbl = pa.Table.from_pydict(
        {
            "op": ["U"], "seq": [10_003],
            **{k: [v] for k, v in moved.items()},
            "before": [old_ticket],
        },
        schema=move_schema,
    )
    pq.write_table(mv_tbl, str(Path(wl["tickets"]) / "epoch_9998.parquet"))
    rev1_before_move = eng.snapshot("movie_revenue_realtime").filter("movie_id = 1").collect()[0]
    n_before = len(view.refresh_stats)
    eng.execute((FIXTURES / "tickets-cdc.sql").read_text())
    eng.await_all()
    eng.execute((FIXTURES / "revenue-analytics.sql").read_text())
    eng.await_all()
    assert [st["n_affected"] for st in view.refresh_stats[n_before:]] == [2]
    rev = {r.movie_id: r for r in eng.snapshot("movie_revenue_realtime").collect()}
    # old group retracted the moved ticket, new group gained it -- and the
    # whole view still equals the batch oracle
    assert rev[1].ticket_count == rev1_before_move.ticket_count - 1
    oracle2 = revenue_aggregate(
        eng.snapshot("tickets_staging").select(
            "ticket_id", "movie_id", "user_id", "cost", "status", "purchased_at"
        ),
        eng.snapshot("movies_staging").select(
            "movie_id", "title", "start_date", "duration_minutes"
        ),
    )
    served2 = eng.snapshot("movie_revenue_realtime")
    s2 = sorted(tuple(r) for r in served2.select(*oracle2.columns).collect())
    o2 = sorted(tuple(r) for r in oracle2.collect())
    assert s2 == o2


def test_init_catalogs_betting_dialect(spark, tmp_path):
    """S4: the generated init-catalogs.sql dialect end-to-end -- 18-column
    betting tickets over CDC + kinesis JSON events, exercising TIMESTAMP WITH
    LOCAL TIME ZONE, BOOLEAN, and nullable BIGINT amounts."""
    from pyspark.sql import types as T

    from flink_cdc_fluss_quickstart_spark.sources import betting

    dirs = betting.generate_betting_workload(str(tmp_path / "wl"), epochs=6, seed=7)
    eng = Engine(spark, warehouse=str(tmp_path / "wh"))
    eng.bind_source("cdc_tickets", dirs["tickets"], betting.BETTING_TICKETS_SCHEMA)
    eng.bind_source("kinesis_events", dirs["events"], betting.KINESIS_EVENTS_SCHEMA)

    eng.execute((FIXTURES / "init-catalogs.sql").read_text())
    eng.await_all()

    snap = eng.snapshot("tickets")
    sch = {f.name: f.dataType for f in snap.schema.fields}
    # type round-trip through the dialect's type map
    assert isinstance(sch["accept_odds_change"], T.BooleanType)
    assert isinstance(sch["created_at"], T.TimestampType)  # WITH LOCAL TIME ZONE
    assert isinstance(sch["winning_amount"], T.LongType)

    rows = snap.collect()
    assert len(rows) > 0
    # 6 epochs x 8 inserts, minus the 4 hard-deleted tickets (epochs 2-5)
    assert len(rows) == 6 * 8 - 4
    for r in rows:
        # nullable amount semantics follow the lifecycle
        if r.status == "WON":
            assert r.winning_amount == r.entry_amount * 185 // 100
        else:
            assert r.winning_amount is None
        if r.status == "CANCELLED":
            assert r.cancel_reason is not None
            assert r.transactions_cancel_transaction is not None

    # kinesis events replicated into staging; watermark metadata retained
    ev = eng.snapshot("events_staging")
    assert ev.count() == 6 * 8
    assert eng.tables["kinesis_events"].watermark == ("event_time", "5 seconds")


def test_agg_view_shape_parser_accepts_reference_and_rejects_arbitrary():
    """The affected-keys router must accept exactly the revenue-analytics
    statement family and return None (-> full-requery fallback) for anything
    it cannot scope soundly -- never raise."""
    from pyspark.sql import types as T

    from flink_cdc_fluss_quickstart_spark.sql_frontend import (
        TableSpec,
        _parse_agg_view_shape,
    )

    spec = TableSpec(
        name="movie_revenue_realtime",
        schema=T.StructType(
            [
                T.StructField("movie_id", T.LongType()),
                T.StructField("total", T.LongType()),
            ]
        ),
        primary_key=["movie_id"],
    )
    ok = _parse_agg_view_shape(
        "SELECT t.movie_id, SUM(t.cost) FROM tickets_staging t "
        "JOIN movies_staging m ON t.movie_id = m.movie_id "
        "GROUP BY t.movie_id",
        spec,
        "movie_revenue_realtime",
    )
    assert ok is not None
    assert ok.anchor_table == "tickets_staging"
    assert ok.key_by_table == {
        "tickets_staging": "movie_id",
        "movies_staging": "movie_id",
    }
    assert "__ivw_movie_revenue_realtime_tickets_staging" in ok.rewritten_sql
    assert "FROM tickets_staging" not in ok.rewritten_sql
    assert "JOIN movies_staging" not in ok.rewritten_sql

    rejects = [
        # no join
        "SELECT movie_id, SUM(cost) FROM tickets_staging GROUP BY movie_id",
        # no GROUP BY
        "SELECT t.movie_id, m.title FROM tickets_staging t "
        "JOIN movies_staging m ON t.movie_id = m.movie_id",
        # PK position is not the join key
        "SELECT m.title, SUM(t.cost) FROM tickets_staging t "
        "JOIN movies_staging m ON t.movie_id = m.movie_id GROUP BY m.title",
        # join key absent from GROUP BY
        "SELECT t.movie_id, SUM(t.cost) FROM tickets_staging t "
        "JOIN movies_staging m ON t.movie_id = m.movie_id GROUP BY t.status",
        # theta join
        "SELECT t.movie_id, SUM(t.cost) FROM tickets_staging t "
        "JOIN movies_staging m ON t.movie_id < m.movie_id GROUP BY t.movie_id",
        # 3-table join: the third table would be left unscoped/unstreamed
        "SELECT t.movie_id, SUM(t.cost) FROM tickets_staging t "
        "JOIN movies_staging m ON t.movie_id = m.movie_id "
        "JOIN users_staging u ON t.user_id = u.user_id GROUP BY t.movie_id",
        # self-join: one staging table cannot anchor two roles
        "SELECT a.movie_id, SUM(a.cost) FROM tickets_staging a "
        "JOIN tickets_staging b ON a.movie_id = b.user_id GROUP BY a.movie_id",
        # anchor key appears only past the GROUP BY list (ORDER BY), not in it
        "SELECT t.movie_id, SUM(t.cost) FROM tickets_staging t "
        "JOIN movies_staging m ON t.movie_id = m.movie_id "
        "GROUP BY t.status ORDER BY t.movie_id",
        # subquery source hidden behind a matching outer join
        "SELECT t.movie_id, SUM(t.cost) FROM tickets_staging t "
        "JOIN movies_staging m ON t.movie_id = m.movie_id "
        "WHERE t.user_id IN (SELECT user_id FROM users_staging) "
        "GROUP BY t.movie_id",
        "",
        "SELECT 1",
    ]
    for sql in rejects:
        assert _parse_agg_view_shape(sql, spec, "x") is None, sql


def test_batch_aggregate_directly_over_connector_source(spark, workload, tmp_path):
    """An aggregate INSERT reading a connector-backed source with no staging
    hop must still run: the front-end snapshots the bound changelog batch-side
    (latest per PK, deletes dropped) and refreshes the target as a batch MV."""
    eng = Engine(spark, warehouse=str(tmp_path / "wh"))
    eng.bind_source("pg_osb_tickets", workload["tickets"], osb.TICKETS_SCHEMA)
    eng.execute(
        """
        CREATE TEMPORARY TABLE pg_osb_tickets (
          ticket_id BIGINT, movie_id BIGINT, user_id BIGINT,
          cost DECIMAL(10,2), status STRING, purchased_at TIMESTAMP(3),
          PRIMARY KEY (ticket_id) NOT ENFORCED
        ) WITH ('connector' = 'postgres-cdc');
        CREATE TABLE status_summary (
          status STRING, n BIGINT,
          PRIMARY KEY (status) NOT ENFORCED
        ) WITH ('bucket.num' = '2');
        INSERT INTO status_summary
        SELECT status, COUNT(*) AS n FROM pg_osb_tickets GROUP BY status;
        """
    )
    got = {r.status: r.n for r in eng.snapshot("status_summary").collect()}
    # independent fold of the changelog
    import pyspark.sql.functions as F

    log = spark.read.schema(osb.TICKETS_SCHEMA).parquet(workload["tickets"])
    from flink_cdc_fluss_quickstart_spark.operators.changelog import latest_by_key

    cur = latest_by_key(log, ["ticket_id"], ["seq"]).filter(F.col("op") != "D")
    want = {r.status: r.n for r in cur.groupBy("status").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got == want and sum(got.values()) > 0


def test_single_table_agg_routes_to_incremental_path(spark, tmp_path):
    """A GROUP BY over ONE staging table (no join) keyed by the target's PK
    must also take the affected-keys path -- including when the grouping
    column is MUTABLE (ticket status): the changelog before-image puts the
    old status in the refresh frame, so a scheduled->live transition
    refreshes both groups, and the per-batch key count stays bounded by the
    batch's touched statuses, never the table size."""
    import pyspark.sql.functions as F

    from flink_cdc_fluss_quickstart_spark.operators.changelog import latest_by_key

    wl = osb.generate_workload(str(tmp_path / "wl"), epochs=5, seed=17)
    eng = Engine(spark, warehouse=str(tmp_path / "wh"))
    eng.bind_source("pg_osb_tickets", wl["tickets"], osb.TICKETS_SCHEMA)
    eng.execute((FIXTURES / "tickets-cdc.sql").read_text())
    eng.await_all()
    eng.execute(
        """
        CREATE TABLE status_counts (
          status STRING, n BIGINT, total_cost DECIMAL(15,2),
          PRIMARY KEY (status) NOT ENFORCED
        ) WITH ('bucket.num' = '2');
        INSERT INTO status_counts
        SELECT status, COUNT(*) AS n, SUM(cost) AS total_cost
        FROM tickets_staging GROUP BY status;
        """
    )
    eng.await_all()

    view = eng.views["status_counts"]
    assert view.refresh_stats, "single-table aggregate should route incrementally"
    # every refresh was scoped: statuses per batch <= 3 distinct values + moves
    assert all(s["n_affected"] <= 4 for s in view.refresh_stats)

    got = {(r.status, r.n, r.total_cost) for r in eng.snapshot("status_counts").collect()}
    cur = (
        latest_by_key(
            spark.read.schema(osb.TICKETS_SCHEMA).parquet(wl["tickets"]),
            ["ticket_id"], ["seq"],
        )
        .filter(F.col("op") != "D")
    )
    want = {
        (r.status, r.n, r.total_cost)
        for r in cur.groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cost").cast("decimal(15,2)").alias("total_cost"),
        )
        .collect()
    }
    assert got == want and len(got) > 0


def test_single_table_agg_on_betting_schema(spark, tmp_path):
    """The single-table affected-keys route on the S4 (betting) schema:
    grouping by the MUTABLE lifecycle status (PENDING -> WON/LOST/
    CANCELLED, plus hard deletes) across TIMESTAMP WITH LOCAL TIME ZONE /
    BOOLEAN / nullable BIGINT columns. Every settlement moves a ticket
    between groups; the before-image refresh must retract it from PENDING
    in the same batch, and the final view must equal the batch fold."""
    import pyspark.sql.functions as F

    from flink_cdc_fluss_quickstart_spark.operators.changelog import latest_by_key
    from flink_cdc_fluss_quickstart_spark.sources import betting

    dirs = betting.generate_betting_workload(str(tmp_path / "wl"), epochs=6, seed=3)
    eng = Engine(spark, warehouse=str(tmp_path / "wh"))
    eng.bind_source("cdc_tickets", dirs["tickets"], betting.BETTING_TICKETS_SCHEMA)
    eng.execute(
        """
        CREATE TEMPORARY TABLE cdc_tickets (
          id STRING NOT NULL, user_id STRING NOT NULL, status STRING NOT NULL,
          cancel_reason STRING, entry_amount BIGINT NOT NULL,
          winning_amount BIGINT,
          transactions_entry_transaction STRING,
          transactions_winning_transaction STRING,
          transactions_cancel_transaction STRING,
          status_updated_at TIMESTAMP(3) WITH LOCAL TIME ZONE NOT NULL,
          created_at TIMESTAMP(3) WITH LOCAL TIME ZONE NOT NULL,
          updated_at TIMESTAMP(3) WITH LOCAL TIME ZONE NOT NULL,
          deleted_at TIMESTAMP(3) WITH LOCAL TIME ZONE,
          free_ticket_promotion_id STRING, booster_promotion_id STRING,
          booster_promotion_change_reason STRING,
          accept_odds_change BOOLEAN, promo_id STRING,
          PRIMARY KEY (id) NOT ENFORCED
        ) WITH ('connector' = 'postgres-cdc');
        CREATE TABLE tickets_staging (
          id STRING NOT NULL, user_id STRING NOT NULL, status STRING NOT NULL,
          cancel_reason STRING, entry_amount BIGINT NOT NULL,
          winning_amount BIGINT,
          transactions_entry_transaction STRING,
          transactions_winning_transaction STRING,
          transactions_cancel_transaction STRING,
          status_updated_at TIMESTAMP(3) WITH LOCAL TIME ZONE NOT NULL,
          created_at TIMESTAMP(3) WITH LOCAL TIME ZONE NOT NULL,
          updated_at TIMESTAMP(3) WITH LOCAL TIME ZONE NOT NULL,
          deleted_at TIMESTAMP(3) WITH LOCAL TIME ZONE,
          free_ticket_promotion_id STRING, booster_promotion_id STRING,
          booster_promotion_change_reason STRING,
          accept_odds_change BOOLEAN, promo_id STRING,
          PRIMARY KEY (id) NOT ENFORCED
        ) WITH ('bucket.num' = '4');
        INSERT INTO tickets_staging SELECT id, user_id, status,
          cancel_reason, entry_amount, winning_amount,
          transactions_entry_transaction, transactions_winning_transaction,
          transactions_cancel_transaction, status_updated_at, created_at,
          updated_at, deleted_at, free_ticket_promotion_id,
          booster_promotion_id, booster_promotion_change_reason,
          accept_odds_change, promo_id FROM cdc_tickets;
        """
    )
    eng.await_all()
    eng.execute(
        """
        CREATE TABLE settlement_summary (
          status STRING, n BIGINT, total_entry BIGINT, total_winnings BIGINT,
          PRIMARY KEY (status) NOT ENFORCED
        ) WITH ('bucket.num' = '2');
        INSERT INTO settlement_summary
        SELECT status, COUNT(*) AS n, SUM(entry_amount) AS total_entry,
               SUM(COALESCE(winning_amount, 0)) AS total_winnings
        FROM tickets_staging GROUP BY status;
        """
    )
    eng.await_all()

    view = eng.views["settlement_summary"]
    assert view.refresh_stats, "should route to the incremental path"
    # <= 4 statuses + before-image retractions per batch, never table-sized
    assert all(s["n_affected"] <= 5 for s in view.refresh_stats)

    got = {
        (r.status, r.n, r.total_entry, r.total_winnings)
        for r in eng.snapshot("settlement_summary").collect()
    }
    log = spark.read.schema(betting.BETTING_TICKETS_SCHEMA).parquet(dirs["tickets"])
    cur = latest_by_key(log, ["id"], ["seq"]).filter(F.col("op") != "D")
    want = {
        tuple(r)
        for r in cur.groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("entry_amount").alias("total_entry"),
            F.sum(F.coalesce(F.col("winning_amount"), F.lit(0))).alias("total_winnings"),
        )
        .collect()
    }
    assert got == want and len(got) >= 3  # PENDING + several settled states


def test_filtered_insert_routes_to_view_path_not_identity_replication(spark, tmp_path):
    """A WHERE on a single-source non-aggregate INSERT must NOT take the
    streaming identity-replication fast path (which would silently discard
    the filter): it routes to the materialized-view path and the target
    contains only the filtered rows -- the r8 review regression."""
    import pandas as pd

    src = tmp_path / "src"
    src.mkdir()
    pd.DataFrame(
        [("I", 1, 1, "live"), ("I", 2, 2, "finished"), ("I", 3, 3, "live")],
        columns=["op", "seq", "k", "status"],
    ).to_parquet(str(src / "epoch_0000.parquet"), index=False)
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("op", T.StringType()),
            T.StructField("seq", T.LongType()),
            T.StructField("k", T.LongType()),
            T.StructField("status", T.StringType()),
        ]
    )
    eng = Engine(spark, warehouse=str(tmp_path / "wh"))
    eng.execute(
        "CREATE TEMPORARY TABLE src_tbl (k BIGINT, status STRING,"
        " PRIMARY KEY (k) NOT ENFORCED) WITH ('connector' = 'postgres-cdc');"
        "CREATE TABLE live_only (k BIGINT, status STRING, PRIMARY KEY (k) NOT ENFORCED);"
    )
    eng.bind_source("src_tbl", str(src), schema)
    eng.execute("INSERT INTO live_only SELECT k, status FROM src_tbl WHERE status = 'live'")
    eng.await_all()
    got = {r.k for r in eng.snapshot("live_only").collect()}
    assert got == {1, 3}  # the finished row is filtered OUT


def test_malformed_statements_raise_value_errors(spark, tmp_path):
    """Malformed dialect statements fail loudly with ValueError (not a bare
    AttributeError from a None regex match)."""
    eng = Engine(spark, warehouse=str(tmp_path / "wh"))
    for bad in (
        "CREATE CATALOG nowith",
        "INSERT INTO t VALUES (1)",
        "CREATE TABLE t (k BIGINT, WATERMARK FOR ts AS ts, PRIMARY KEY (k) NOT ENFORCED)",
    ):
        with pytest.raises(ValueError):
            eng.execute(bad)


def test_alias_colliding_with_table_name_rejected_by_view_parser():
    """`FROM a_staging b JOIN b c` -- the alias of the first table equals the
    second table's name; the first-token rewrite would corrupt the FROM span,
    so the shape parser must return None (full-requery fallback)."""
    from pyspark.sql import types as T

    from flink_cdc_fluss_quickstart_spark.sql_frontend import (
        TableSpec,
        _parse_agg_view_shape,
    )

    spec = TableSpec(
        name="v",
        schema=T.StructType(
            [T.StructField("k", T.LongType()), T.StructField("total", T.LongType())]
        ),
        primary_key=["k"],
    )
    shape = _parse_agg_view_shape(
        "SELECT b.k, SUM(b.x) FROM a_staging b JOIN b c ON b.k = c.k GROUP BY b.k",
        spec,
        "v",
    )
    assert shape is None


def test_parse_type_is_anchored_and_knows_timestamp_ltz():
    """fullmatch semantics: TIMESTAMP_LTZ(3) is the session-zone timestamp
    (the unanchored prefix match read it as NTZ, shifting every event time),
    and suffixed garbage raises instead of silently parsing as the prefix."""
    import pyspark.sql.types as T

    from flink_cdc_fluss_quickstart_spark.sql_frontend import _parse_type

    assert _parse_type("TIMESTAMP_LTZ(3)") == T.TimestampType()
    assert _parse_type("TIMESTAMP_LTZ") == T.TimestampType()
    assert _parse_type("TIMESTAMP(3)") == T.TimestampNTZType()
    assert _parse_type("TIMESTAMP(3) WITH LOCAL TIME ZONE") == T.TimestampType()
    for bad in ("TIMESTAMPFOO", "VARCHAR2", "DECIMAL(10,2) ZONED"):
        with pytest.raises(ValueError):
            _parse_type(bad)


def test_agg_shape_rejects_second_mention_of_staging_table():
    """A second mention of a staging table (self-subquery or extra join)
    must fall back to full requery -- the set-based source check accepted it
    while the rewrite left the second span unstreamed, so every refresh died
    on the raw table name."""
    import pyspark.sql.types as T

    from flink_cdc_fluss_quickstart_spark.sql_frontend import (
        TableSpec,
        _parse_agg_view_shape,
        _parse_single_table_agg_shape,
    )

    spec = TableSpec(
        name="v",
        schema=T.StructType(
            [
                T.StructField("movie_id", T.LongType()),
                T.StructField("n", T.LongType()),
            ]
        ),
        primary_key=["movie_id"],
    )
    good_join = (
        "SELECT t.movie_id, COUNT(*) AS n FROM tickets t JOIN movies m"
        " ON t.movie_id = m.movie_id GROUP BY t.movie_id"
    )
    assert _parse_agg_view_shape(good_join, spec, "v") is not None
    dup_join = (
        "SELECT t.movie_id, COUNT(*) AS n FROM tickets t JOIN movies m"
        " ON t.movie_id = m.movie_id JOIN tickets t2 ON t2.ticket_id = t.ticket_id"
        " GROUP BY t.movie_id"
    )
    assert _parse_agg_view_shape(dup_join, spec, "v") is None
    spec1 = TableSpec(
        name="v",
        schema=T.StructType(
            [
                T.StructField("status", T.StringType()),
                T.StructField("n", T.LongType()),
            ]
        ),
        primary_key=["status"],
    )
    good_single = "SELECT status, COUNT(*) AS n FROM tickets GROUP BY status"
    assert _parse_single_table_agg_shape(good_single, spec1, "v") is not None
    self_sub = (
        "SELECT status, COUNT(*) AS n FROM tickets WHERE cost >"
        " (SELECT AVG(cost) FROM tickets) GROUP BY status"
    )
    assert _parse_single_table_agg_shape(self_sub, spec1, "v") is None


def test_create_table_without_primary_key_raises(spark, tmp_path):
    eng = Engine(spark, warehouse=str(tmp_path / "wh"))
    with pytest.raises(ValueError, match="PRIMARY KEY"):
        eng.execute("CREATE TABLE clicks (user_id BIGINT, url STRING) WITH ('bucket.num'='2');")


def test_unbound_connector_source_fails_fast(spark, tmp_path):
    """A declared-but-never-bound connector source must raise, not snapshot
    empty -- an empty snapshot made the MV refresh retract every existing
    row of the target."""
    eng = Engine(spark, warehouse=str(tmp_path / "wh"))
    with pytest.raises(ValueError, match="no bound data"):
        eng.execute(
            """
            CREATE TABLE src (id BIGINT, v STRING, PRIMARY KEY (id) NOT ENFORCED)
            WITH ('connector' = 'postgres-cdc');
            CREATE TABLE tgt (id BIGINT, v STRING, PRIMARY KEY (id) NOT ENFORCED)
            WITH ('bucket.num' = '2');
            INSERT INTO tgt SELECT id, v FROM src;
            """
        )


def test_identifier_ending_in_from_does_not_shadow_source(spark, workload, tmp_path):
    """`SELECT ... valid_from FROM t`: the unanchored FROM/JOIN scan matched
    the identifier's own tail and captured the keyword as the source name,
    crashing the batch path with KeyError('from')."""
    eng = Engine(spark, warehouse=str(tmp_path / "wh"))
    eng.bind_source("pg_osb_users", workload["users"], osb.USERS_SCHEMA)
    eng.execute(
        """
        CREATE TABLE pg_osb_users (
          user_id BIGINT, username STRING, email STRING, created_at TIMESTAMP(3),
          PRIMARY KEY (user_id) NOT ENFORCED
        ) WITH ('connector' = 'postgres-cdc');
        CREATE TABLE user_valid (
          user_id BIGINT, valid_from STRING,
          PRIMARY KEY (user_id) NOT ENFORCED
        ) WITH ('bucket.num' = '2');
        INSERT INTO user_valid SELECT user_id, username AS valid_from FROM pg_osb_users;
        """
    )
    eng.await_all()
    rows = {r.user_id: r.valid_from for r in eng.snapshot("user_valid").collect()}
    assert rows[3] == "user_3"


def test_drop_table_clears_streaming_checkpoints(spark, workload, tmp_path):
    """DROP + recreate + re-INSERT must rebuild the full table: a surviving
    checkpoint made the new stream resume past the already-consumed epochs,
    silently losing those rows."""
    import os

    eng = Engine(spark, warehouse=str(tmp_path / "wh"))
    eng.bind_source("pg_osb_users", workload["users"], osb.USERS_SCHEMA)
    ddl = """
        CREATE TABLE pg_osb_users (
          user_id BIGINT, username STRING, email STRING, created_at TIMESTAMP(3),
          PRIMARY KEY (user_id) NOT ENFORCED
        ) WITH ('connector' = 'postgres-cdc');
        CREATE TABLE users_copy (
          user_id BIGINT, username STRING, email STRING, created_at TIMESTAMP(3),
          PRIMARY KEY (user_id) NOT ENFORCED
        ) WITH ('bucket.num' = '2');
        INSERT INTO users_copy SELECT * FROM pg_osb_users;
    """
    eng.execute(ddl)
    eng.await_all()
    n_first = eng.snapshot("users_copy").count()
    assert n_first == 5
    # a sibling table literally NAMED users_copy_from_... must keep its
    # checkpoint across the DROP (a `users_copy_from_*` glob wiped it)
    decoy = os.path.join(
        str(tmp_path / "wh"), "_ckpt", "users_copy_from_kafka_from_pg_osb_users"
    )
    os.makedirs(decoy)
    eng.execute("DROP TABLE users_copy;")
    ckpt_dir = os.path.join(str(tmp_path / "wh"), "_ckpt")
    remaining = os.listdir(ckpt_dir) if os.path.isdir(ckpt_dir) else []
    assert "users_copy_from_pg_osb_users" not in remaining
    assert os.path.isdir(decoy)  # the sibling's resume state survives
    eng.execute(
        """
        CREATE TABLE users_copy (
          user_id BIGINT, username STRING, email STRING, created_at TIMESTAMP(3),
          PRIMARY KEY (user_id) NOT ENFORCED
        ) WITH ('bucket.num' = '2');
        INSERT INTO users_copy SELECT * FROM pg_osb_users;
        """
    )
    eng.await_all()
    assert eng.snapshot("users_copy").count() == n_first


def test_drop_table_clears_checkpoints_across_engine_restart(spark, workload, tmp_path):
    """The checkpoint registry must survive an Engine restart (it is
    persisted next to the warehouse): a FRESH Engine over the same warehouse
    that DROPs a table created by a previous session must still purge that
    table's streaming checkpoints, or the recreate+re-INSERT silently
    resumes past the already-consumed changelog epochs (r8 advice: the
    in-memory-only registry left the bug alive across restarts)."""
    import os

    wh = str(tmp_path / "wh")
    ddl = """
        CREATE TABLE pg_osb_users (
          user_id BIGINT, username STRING, email STRING, created_at TIMESTAMP(3),
          PRIMARY KEY (user_id) NOT ENFORCED
        ) WITH ('connector' = 'postgres-cdc');
        CREATE TABLE users_copy (
          user_id BIGINT, username STRING, email STRING, created_at TIMESTAMP(3),
          PRIMARY KEY (user_id) NOT ENFORCED
        ) WITH ('bucket.num' = '2');
        INSERT INTO users_copy SELECT * FROM pg_osb_users;
    """
    eng1 = Engine(spark, warehouse=wh)
    eng1.bind_source("pg_osb_users", workload["users"], osb.USERS_SCHEMA)
    eng1.execute(ddl)
    eng1.await_all()
    assert eng1.snapshot("users_copy").count() == 5
    ckpt = os.path.join(wh, "_ckpt", "users_copy_from_pg_osb_users")
    assert os.path.isdir(ckpt)

    # simulate a restart: a brand-new Engine over the same warehouse
    eng2 = Engine(spark, warehouse=wh)
    eng2.bind_source("pg_osb_users", workload["users"], osb.USERS_SCHEMA)
    eng2.execute("DROP TABLE IF EXISTS users_copy;")
    assert not os.path.isdir(ckpt), "restarted engine must purge the old checkpoint"
    # ... and the on-disk STORE: recreating before any INSERT must yield an
    # EMPTY table, not resurrect the old manifest+rows (r9 review: the
    # in-memory stores dict alone left the data behind across restarts)
    store_dir = os.path.join(wh, "default_catalog", "default", "users_copy")
    assert not os.path.isdir(store_dir), "restarted engine must purge the store data"
    eng2.execute(ddl.replace(
        "CREATE TABLE pg_osb_users",
        "CREATE TABLE IF NOT EXISTS pg_osb_users",
    ).split("INSERT INTO")[0])
    assert eng2.snapshot("users_copy") is None, "recreated table must start empty"
    eng2.execute("INSERT INTO users_copy SELECT * FROM pg_osb_users;")
    eng2.await_all()
    assert eng2.snapshot("users_copy").count() == 5


def test_ckpt_registry_shape_detection_is_structural(spark, tmp_path):
    """A PRE-r9 flat registry ({table: [ckpt dirs]}) that happens to contain
    a table literally named 'ckpts' must still load as the flat shape --
    key-presence sniffing silently dropped every OTHER table's checkpoint
    dirs from DROP purging (r9 advice). The new shape is detected by
    structure, not by the presence of one key."""
    import json
    import os

    wh = str(tmp_path / "wh")
    os.makedirs(wh)
    legacy = {"ckpts": ["/tmp/ck-a"], "users_copy": ["/tmp/ck-b"]}
    with open(os.path.join(wh, "_ckpt_registry.json"), "w") as f:
        json.dump(legacy, f)
    eng = Engine(spark, warehouse=wh)
    assert eng.ckpts == {"ckpts": {"/tmp/ck-a"}, "users_copy": {"/tmp/ck-b"}}
    assert eng.store_paths == {}

    # the v2 shape round-trips through save/load unchanged
    eng._register_ckpt("t1", "/tmp/ck-1")
    eng._register_store("t1", "/tmp/store-1")
    eng2 = Engine(spark, warehouse=wh)
    assert eng2.ckpts["t1"] == {"/tmp/ck-1"}
    assert eng2.store_paths == {"t1": "/tmp/store-1"}


def test_sql_time_travel_version_as_of(spark, tmp_path):
    """The lakehouse batch-query surface at SQL level (reference
    README.md:81-95): `FROM t VERSION AS OF n` reads the state recorded
    right after manifest version n -- the r10 Python snapshot(version=)
    API exposed in the dialect (r10 verdict item 6)."""
    from flink_cdc_fluss_quickstart_spark.streaming.pk_table import PKTable

    eng = Engine(spark, warehouse=str(tmp_path / "wh"))
    t = PKTable(spark, str(tmp_path / "t"), keys=["k"], order_by=["seq"])
    t.merge(spark.createDataFrame(
        [("I", 1, 1, "a"), ("I", 2, 2, "b")],
        "op string, seq long, k long, v string"), batch_id=0)
    oracle_v1 = {1: "a", 2: "b"}
    t.merge(spark.createDataFrame(
        [("U", 3, 1, "a2"), ("I", 4, 3, "c"), ("D", 5, 2, "b")],
        "op string, seq long, k long, v string"), batch_id=1)
    oracle_v2 = {1: "a2", 3: "c"}
    eng.stores["serving"] = t

    got_v1 = {r.k: r.v for r in
              eng.query("SELECT k, v FROM serving VERSION AS OF 1").collect()}
    assert got_v1 == oracle_v1
    got_now = {r.k: r.v for r in
               eng.query("SELECT k, v FROM serving").collect()}
    assert got_now == oracle_v2
    # Iceberg-dialect synonym
    got_sv = {r.k: r.v for r in eng.query(
        "SELECT k, v FROM serving FOR SYSTEM_VERSION AS OF 1").collect()}
    assert got_sv == oracle_v1

    # past-vs-current in ONE statement: keys whose value changed or vanished
    diff = eng.query(
        "SELECT old.k FROM serving VERSION AS OF 1 old "
        "LEFT JOIN serving cur ON old.k = cur.k "
        "WHERE cur.v IS NULL OR cur.v <> old.v ORDER BY old.k"
    ).collect()
    assert [r.k for r in diff] == [1, 2]

    # contract errors surface through the SQL path too
    import pytest as _pytest
    with _pytest.raises(ValueError, match="unknown version"):
        eng.query("SELECT * FROM serving VERSION AS OF 99")
    with _pytest.raises(ValueError, match="empty"):
        eng.query("SELECT * FROM serving VERSION AS OF 0")
    with _pytest.raises(ValueError, match="unknown table"):
        eng.query("SELECT * FROM nope VERSION AS OF 1")


def test_sql_time_travel_system_time_as_of(spark, tmp_path):
    """Timestamp time travel (r11 verdict item 4): `FROM t FOR SYSTEM_TIME
    AS OF TIMESTAMP '<ts>'` resolves through the manifest's commit
    wall-clocks to the version a reader at that instant saw -- including
    the between-commits edge (earlier version wins), the exactly-at edge
    (that commit wins), and the before-first-commit edge (defined error:
    the table was empty, there is no schema to read)."""
    import json as _json
    from datetime import datetime as _dt

    from flink_cdc_fluss_quickstart_spark.streaming.pk_table import PKTable

    eng = Engine(spark, warehouse=str(tmp_path / "wh"))
    t = PKTable(spark, str(tmp_path / "t"), keys=["k"], order_by=["seq"])
    t.merge(spark.createDataFrame(
        [("I", 1, 1, "a"), ("I", 2, 2, "b")],
        "op string, seq long, k long, v string"), batch_id=0)
    t.merge(spark.createDataFrame(
        [("U", 3, 1, "a2"), ("I", 4, 3, "c"), ("D", 5, 2, "b")],
        "op string, seq long, k long, v string"), batch_id=1)
    eng.stores["serving"] = t

    hist = t._read_manifest()["history"]
    ts1, ts2 = hist[0]["ts"], hist[1]["ts"]
    assert ts2 >= ts1  # monotonic by construction

    def lit(ts: float) -> str:
        return _dt.fromtimestamp(ts).isoformat(sep=" ")

    # between the two commits -> the EARLIER state (v1)
    mid = lit((ts1 + ts2) / 2)
    got = {r.k: r.v for r in eng.query(
        f"SELECT k, v FROM serving FOR SYSTEM_TIME AS OF TIMESTAMP '{mid}'"
    ).collect()}
    assert got == {1: "a", 2: "b"}
    # at the second commit -> that commit's state; TIMESTAMP keyword
    # optional (Iceberg spelling). Probed 10ms after: the ISO literal has
    # microsecond resolution, so a bit-exact float probe can round BELOW
    # the stored commit instant -- sub-microsecond exactness is not part
    # of the surface (SQL timestamps aren't either)
    got2 = {r.k: r.v for r in eng.query(
        f"SELECT k, v FROM serving FOR SYSTEM_TIME AS OF '{lit(ts2 + 0.01)}'"
    ).collect()}
    assert got2 == {1: "a2", 3: "c"}
    # after every commit -> current state
    got3 = {r.k: r.v for r in eng.query(
        f"SELECT k, v FROM serving FOR SYSTEM_TIME AS OF '{lit(ts2 + 3600)}'"
    ).collect()}
    assert got3 == {1: "a2", 3: "c"}
    # past-vs-current in one statement, timestamp spelling
    diff = eng.query(
        f"SELECT old.k FROM serving FOR SYSTEM_TIME AS OF '{mid}' old "
        "LEFT JOIN serving cur ON old.k = cur.k "
        "WHERE cur.v IS NULL OR cur.v <> old.v ORDER BY old.k"
    ).collect()
    assert [r.k for r in diff] == [1, 2]

    import pytest as _pytest
    # before the first commit ever: version 0, the empty table -> defined error
    with _pytest.raises(ValueError, match="empty at"):
        eng.query(
            f"SELECT * FROM serving FOR SYSTEM_TIME AS OF '{lit(ts1 - 10)}'")
    with _pytest.raises(ValueError, match="unparseable SYSTEM_TIME"):
        eng.query("SELECT * FROM serving FOR SYSTEM_TIME AS OF 'not a ts'")
    with _pytest.raises(ValueError, match="unknown table"):
        eng.query("SELECT * FROM nope FOR SYSTEM_TIME AS OF '2026-01-01 00:00:00'")

    # truncated history: drop the v1 entry (as HISTORY_KEEP pruning would)
    # -- a pre-first-commit timestamp is now UNRESOLVABLE, not "empty":
    # the manifest can no longer prove the table was empty then
    mpath = t._manifest_path
    with open(mpath) as f:
        man = _json.load(f)
    man["history"] = man["history"][1:]
    man["history_floor"] = 1
    with open(mpath, "w") as f:
        _json.dump(man, f)
    with _pytest.raises(ValueError, match="no commit history resolves"):
        t.version_at(ts1 - 10)


def test_commit_timestamps_monotonic_under_clock_stepback(spark, tmp_path):
    """A wall-clock step-back between commits (NTP correction) must not
    produce a later commit with an earlier timestamp -- version_at's
    'largest version at-or-before ts' contract depends on monotonic ts.
    Simulated by forging a future ts on the first commit; the second
    commit must clamp to it, and version_at at that instant must resolve
    to the LATEST version."""
    import json as _json

    from flink_cdc_fluss_quickstart_spark.streaming.pk_table import PKTable

    t = PKTable(spark, str(tmp_path / "t"), keys=["k"], order_by=["seq"])
    t.merge(spark.createDataFrame(
        [("I", 1, 1, "a")], "op string, seq long, k long, v string"), batch_id=0)
    mpath = t._manifest_path
    with open(mpath) as f:
        man = _json.load(f)
    future = man["history"][0]["ts"] + 10_000  # forge: clock was 10ks ahead
    man["history"][0]["ts"] = future
    with open(mpath, "w") as f:
        _json.dump(man, f)

    t.merge(spark.createDataFrame(
        [("U", 2, 1, "b")], "op string, seq long, k long, v string"), batch_id=1)
    hist = t._read_manifest()["history"]
    assert hist[1]["ts"] >= hist[0]["ts"]  # clamped, not stepped back
    assert t.version_at(future) == 2  # both commits are at-or-before 'future'
    assert {r.k: r.v for r in t.snapshot(version=t.version_at(future)).collect()} == {1: "b"}


def _engine_over_epochs(spark, tmp_path, epochs: int):
    """An Engine over the reference scripts whose sources are live dirs an
    ``expose(lo, hi)`` call publishes changelog epochs into, one file per
    source per epoch, with increasing modification times so the file
    sources deliver them in epoch (``seq``) order."""
    import os
    import shutil

    full = osb.generate_workload(str(tmp_path / "full"), epochs=epochs, seed=7)
    live = {t: tmp_path / "live" / t for t in full}
    for d in live.values():
        d.mkdir(parents=True)

    def expose(lo: int, hi: int) -> None:
        for e in range(lo, hi):
            for t in full:
                name = f"epoch_{e:04d}.parquet"
                shutil.copy(Path(full[t]) / name, live[t] / name)
                os.utime(live[t] / name, (1e9 + e, 1e9 + e))

    eng = Engine(spark, warehouse=str(tmp_path / "wh"))
    eng.bind_source("pg_osb_users", str(live["users"]), osb.USERS_SCHEMA)
    eng.bind_source("pg_osb_movies", str(live["movies"]), osb.MOVIES_SCHEMA)
    eng.bind_source("pg_osb_tickets", str(live["tickets"]), osb.TICKETS_SCHEMA)
    return eng, expose


def _view_matches_oracle(eng) -> bool:
    tickets, movies = eng.snapshot("tickets_staging"), eng.snapshot("movies_staging")
    oracle = revenue_aggregate(tickets, movies)
    served = eng.snapshot("movie_revenue_realtime").select(*oracle.columns)
    return sorted(map(tuple, served.collect())) == sorted(map(tuple, oracle.collect()))


def test_engine_round_merges_each_staging_table_once(spark, tmp_path):
    """The replication stream and the view stream both merge each staging
    table's micro-batch; the per-source sequence mark makes the second of
    the two free. So one reference-volume round (one changelog epoch per
    source, every script re-executed as a deployment does) commits exactly
    one version per staging table, and a view stream whose staging merge
    the replication stream already applied writes nothing there. Also
    pins the view stream's per-micro-batch Spark job count (its query's
    job group) and checks that a replayed view refresh runs no job."""
    eng, expose = _engine_over_epochs(spark, tmp_path, epochs=5)
    scripts = [(FIXTURES / f"{n}.sql").read_text()
               for n in ("users-cdc", "movies-cdc", "tickets-cdc", "revenue-analytics")]
    staging = ("movies_staging", "tickets_staging")

    def versions():
        return {n: eng.store_for(n).current_version() for n in staging}

    def run(texts):
        for text in texts:
            eng.execute(text)
        started = list(eng.queries)
        eng.await_all()
        return started

    expose(0, 3)
    run(scripts)
    assert _view_matches_oracle(eng)

    before = versions()
    expose(3, 4)
    run(scripts)
    assert versions() == {n: v + 1 for n, v in before.items()}
    assert _view_matches_oracle(eng)

    # replication first, then the view: the view streams' staging merges
    # are replays of applied rows -- no version -- and the view stream's
    # micro-batch cost is deterministic
    expose(4, 5)
    run(scripts[:3])
    before = versions()
    view_queries = run(scripts[3:])
    assert versions() == before
    assert _view_matches_oracle(eng)
    tracker = spark.sparkContext.statusTracker()
    for q in view_queries:
        assert [p["numInputRows"] > 0 for p in q.recentProgress] == [True]
        n = len(tracker.getJobIdsForGroup(str(q.runId)))
        assert n <= 17, f"a view-stream micro-batch ran {n} Spark jobs"

    view = eng.views["movie_revenue_realtime"]
    last = view.refresh_stats[-1]
    sc = spark.sparkContext
    sc.setJobGroup("replayed-view-refresh", "replayed view refresh")
    try:
        view.refresh(spark.createDataFrame([(1,)], "movie_id long"),
                     last["batch_id"], last["writer"])
        n = len(tracker.getJobIdsForGroup("replayed-view-refresh"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert n == 0, f"a replayed view refresh ran {n} Spark jobs"
    assert view.refresh_stats[-1] is last


def test_await_all_keeps_unfinished_handles_when_a_query_fails(spark, tmp_path):
    """A source whose micro-batch fails makes await_all raise -- and the
    handles it had not awaited yet stay in Engine.queries, so they can
    still be awaited or stopped."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    bad = tmp_path / "bad_movies"
    bad.mkdir()
    # seq as a string: the bound schema's BIGINT cannot read it
    pq.write_table(pa.table({"op": ["I"], "seq": ["one"], "movie_id": [1]}),
                   str(bad / "epoch_0000.parquet"))
    wl = osb.generate_workload(str(tmp_path / "wl"), epochs=2, seed=3)
    eng = Engine(spark, warehouse=str(tmp_path / "wh"))
    eng.bind_source("pg_osb_movies", str(bad), osb.MOVIES_SCHEMA)
    eng.bind_source("pg_osb_users", wl["users"], osb.USERS_SCHEMA)
    eng.execute((FIXTURES / "movies-cdc.sql").read_text())
    eng.execute((FIXTURES / "users-cdc.sql").read_text())
    failing, healthy = eng.queries

    with pytest.raises(Exception, match="epoch_0000"):
        eng.await_all()
    assert eng.queries == [healthy]
    assert not failing.isActive
    eng.await_all()
    assert eng.queries == []
    assert eng.snapshot("users_staging").count() == 2


def test_query_registers_no_temp_views(spark, tmp_path):
    """Engine.query binds the lakehouse tables for the one call: current and
    time-travel reads leave the session's temp views as they were, while
    qualified column references, a leading WITH and braces in the text
    keep working."""
    from flink_cdc_fluss_quickstart_spark.streaming.pk_table import PKTable

    eng = Engine(spark, warehouse=str(tmp_path / "wh"))
    t = PKTable(spark, str(tmp_path / "t"), keys=["k"], order_by=["seq"])
    t.merge(spark.createDataFrame([("I", 1, 1, "a"), ("I", 2, 2, "{b}")],
                                  "op string, seq long, k long, v string"), batch_id=0)
    t.merge(spark.createDataFrame([("U", 3, 1, "a2")],
                                  "op string, seq long, k long, v string"), batch_id=1)
    eng.stores["serving"] = t

    def temp_views():
        return sorted(x.name for x in spark.catalog.listTables() if x.isTemporary)

    before = temp_views()
    assert {r.k: r.v for r in eng.query("SELECT k, v FROM serving").collect()} == {
        1: "a2", 2: "{b}"}
    assert temp_views() == before
    assert {r.k: r.v for r in eng.query(
        "SELECT k, v FROM serving VERSION AS OF 1").collect()} == {1: "a", 2: "{b}"}
    assert temp_views() == before
    assert [r.k for r in eng.query(
        "SELECT serving.k FROM serving WHERE serving.v = '{b}'").collect()] == [2]
    assert [r.k for r in eng.query(
        "WITH old AS (SELECT k, v FROM serving VERSION AS OF 1) "
        "SELECT old.k FROM old JOIN serving cur ON old.k = cur.k "
        "WHERE old.v <> cur.v").collect()] == [1]
    assert temp_views() == before
