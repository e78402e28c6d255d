"""The benchmark's workloads, each driven by one closed-loop client.

Every workload has ``setup(ctx)`` (inputs, seeding, warm-up) and
``measure(ctx, tracer)``, which runs timed operations for ``ctx.seconds``
and returns a ``Phase``: latency samples by kind of operation and the work
done. Outputs are checked against DuckDB oracles outside the timed regions;
an operation that raises or whose output mismatches counts as failed.
"""

from __future__ import annotations

import os
import random
import sys
import time
from collections import defaultdict
from dataclasses import dataclass, field

from changelog import ChangelogGenerator, EpochMix, Publisher, SCHEMAS
from oracle import STAGING, BatchOracle, CdcOracle, same_rows, spark_rows
from stats import tail_timing, timing
from tracing import NullTracer, codegen_ms, manifest, plan_ms

from flink_cdc_fluss_quickstart_spark.plans.registry import all_specs
from flink_cdc_fluss_quickstart_spark.sql_frontend import Engine

SCRIPTS = ("users-cdc", "movies-cdc", "tickets-cdc", "revenue-analytics")
SOURCES = {"users": "pg_osb_users", "movies": "pg_osb_movies", "tickets": "pg_osb_tickets"}
VIEW = "movie_revenue_realtime"
# the table whose commit makes a source table's epoch visible to readers
SERVING = {"users": "users_staging", "movies": VIEW, "tickets": VIEW}


@dataclass
class Phase:
    # latency samples by operation kind: "freshness", a read kind of
    # CdcPipeline.reads, or one batch query's name
    samples: dict[str, list[float]] = field(default_factory=lambda: defaultdict(list))
    work: float = 0.0     # units of work done: rounds, changelog rows or queries
    work_s: float = 0.0   # wall time that work took
    ops: int = 0          # client operations completed
    epochs: int = 0       # changelog epoch files published

    @property
    def latencies(self) -> list[float]:
        return [x for xs in self.samples.values() for x in xs]


@dataclass
class Ctx:
    spark: object
    root: str
    work: str
    seed: int
    seconds: float
    attempted: int = 0
    failed: int = 0

    @property
    def fixtures(self) -> str:
        return os.path.join(self.root, "tests", "fixtures")

    def attempt(self, what: str, fn):
        """One client operation; returns fn's result, or None when it
        raised (then the operation is already counted as failed)."""
        self.attempted += 1
        try:
            return fn()
        except Exception as e:  # noqa: BLE001 -- every failure is counted
            self.fail(f"{what}: {type(e).__name__}: {e}")
            return None

    def verify(self, ok: bool, what: str) -> bool:
        """Count a completed operation whose output is wrong as failed."""
        if not ok:
            self.fail(what)
        return ok

    def fail(self, what: str) -> None:
        self.failed += 1
        print(f"perfbench: FAILED {what}", file=sys.stderr)


class CdcPipeline:
    """The reference deployment end to end. Set-up replicates a seeded
    initial snapshot (the reference's snapshot-then-stream start) through
    the reference scripts. The timed part drains a queued backlog of one
    1000x-reference epoch in one round, then runs live rounds of one
    second of gen_data.py traffic; after each round the client reads the
    served tables: k-key PKTable lookups and Engine.query aggregate,
    time-travel and view-scan reads. A round publishes the epoch files
    into the dirs bound to the scripts' connector tables, re-executes the
    scripts in deploy order and awaits them. Everything served is checked
    against the DuckDB oracle."""

    snapshot_size = (1000, 150, 5000)  # users, movies, tickets
    backlog_scale = 1000
    lookup_keys = 8
    min_rounds = 1
    QUERY_KINDS = ("aggregate", "time_travel", "view_scan")
    # every kind three times a round, so each has a median of its own that
    # is not the first read after the round's commit, which is slower
    reads = ("lookup", *QUERY_KINDS) * 3
    AGG = ("SELECT status, COUNT(*) AS tickets, SUM(cost) AS revenue "
           "FROM tickets_staging{} GROUP BY status")

    def setup(self, ctx: Ctx) -> None:
        base = os.path.join(ctx.work, "cdc")
        self.gen = ChangelogGenerator(ctx.seed)
        self.rng = random.Random(ctx.seed)
        self.pub = Publisher(base)
        self.eng = Engine(ctx.spark, os.path.join(base, "warehouse"))
        for table, src in SOURCES.items():
            self.eng.bind_source(src, self.pub.source_dirs[table], SCHEMAS[table])
        self.scripts = []
        for name in SCRIPTS:
            with open(os.path.join(ctx.fixtures, f"{name}.sql")) as f:
                self.scripts.append(f.read())
        self.oracle = CdcOracle(ctx.fixtures)
        snapshot = self.pub.write(self.gen.snapshot(*self.snapshot_size))
        if ctx.attempt("snapshot", lambda: self.apply(snapshot)) is None:
            raise RuntimeError("the initial snapshot did not deploy")
        self.oracle.load(self.published())
        ctx.verify(self.view_ok() and self.staging_ok(), "snapshot: served state")
        self.tickets = self.eng.store_for("tickets_staging")
        self.v0 = self.tickets.version_at(time.time())
        self.at_v0 = self.oracle.query(self.AGG.format(""))
        self.serve(ctx, NullTracer(), Phase(), dict.fromkeys(self.reads))  # warm-up

    def apply(self, pending) -> tuple[float, float]:
        """Publish written epoch files and re-deploy the scripts until they
        are drained; returns (publish time, end time)."""
        t_pub = time.time()
        self.pub.publish(pending)
        for script in self.scripts:
            self.eng.execute(script)
        self.eng.await_all()
        return t_pub, time.time()

    def measure(self, ctx: Ctx, tracer, max_ops: int | None = None) -> Phase:
        """The drain, then live rounds until ``ctx.seconds`` of drain,
        rounds and reads have passed (at least ``min_rounds`` rounds), or
        exactly ``max_ops`` rounds."""
        ph = Phase()
        backlog = self.pub.write(self.gen.next_epoch(EpochMix().scaled(self.backlog_scale)))
        with tracer.op("drain"):
            res = ctx.attempt("drain", lambda: self.apply(backlog))
        busy = 0.0
        if res is not None:
            ph.ops, ph.epochs = 1, len(backlog)
            ph.work, ph.work_s = sum(n for _, _, n in backlog), res[1] - res[0]
            busy = ph.work_s
            self.oracle.load(self.published())
            ctx.verify(self.view_ok() and self.staging_ok(), "drain: served state")
        rounds = 0
        while (rounds < max_ops if max_ops is not None
               else rounds < self.min_rounds or busy < ctx.seconds):
            rounds += 1
            t0 = time.time()
            self.live_round(ctx, tracer, ph, rounds)
            busy += self.serve(ctx, tracer, ph, self.reads) + (time.time() - t0)
        ctx.verify(self.staging_ok(), "staging tables after the last round")
        return ph

    def live_round(self, ctx: Ctx, tracer, ph: Phase, n: int) -> None:
        pending = self.pub.write(self.gen.next_epoch(EpochMix()))
        with tracer.op("round"):
            res = ctx.attempt("round", lambda: self.apply(pending))
        self.oracle.load(self.published())
        if res is None:
            return
        ph.ops += 1
        ph.epochs += len(pending)
        commits = self.commit_times(res[0], pending)
        if ctx.verify(None not in commits.values() and self.view_ok(),
                      f"round {n}: an epoch is missing from the served view"):
            # the epoch is visible once every table's serving commit landed
            ph.samples["freshness"].append(max(commits.values()) - res[0])

    def commit_times(self, t_pub: float, pending) -> dict[str, float | None]:
        """Per published table: the last commit at or after ``t_pub`` of the
        serving table that exposes it, by the writer fed from that source."""
        out = {}
        for table, _, _ in pending:
            m = manifest(self.eng.store_for(SERVING[table]))
            ts = [e["ts"] for e in m.get("history", [])
                  if e["ts"] >= t_pub and (e.get("writer") or "").endswith(SOURCES[table])]
            out[table] = max(ts) if ts else None
        return out

    def serve(self, ctx: Ctx, tracer, ph: Phase, reads) -> float:
        """One closed-loop read of each kind in ``reads``, checked against
        the oracle's current state; returns the time they took."""
        busy = 0.0
        for kind in reads:
            keys = self.rng.sample(range(1, self.gen.last_ticket + 1), self.lookup_keys)
            t0 = time.perf_counter()
            with tracer.op(kind):
                got = ctx.attempt(kind, lambda: self.read(kind, keys))
            dt = time.perf_counter() - t0
            busy += dt
            if got is None:
                continue
            ph.ops += 1
            ph.samples[kind].append(dt)
            ctx.verify(same_rows(*got, *self.expected(kind, keys)), f"{kind} read")
        return busy

    def read(self, kind: str, keys: list[int]):
        if kind == "lookup":
            probe = self.eng.spark.createDataFrame([(k,) for k in keys], "ticket_id BIGINT")
            return spark_rows(self.tickets.lookup(probe))
        sql = {
            "aggregate": self.AGG.format(""),
            "time_travel": self.AGG.format(f" VERSION AS OF {self.v0}"),
            "view_scan": f"SELECT * FROM {VIEW}",
        }[kind]
        return spark_rows(self.eng.query(sql))

    def expected(self, kind: str, keys: list[int]):
        """The oracle's answer to a read, with the column rows pair up by."""
        o = self.oracle
        if kind == "lookup":
            ids = ", ".join(map(str, keys))
            return (*o.query(f"SELECT * FROM tickets_staging WHERE ticket_id IN ({ids})"),
                    "ticket_id")
        if kind == "view_scan":
            return (*o.view(), "movie_id")
        return (*(self.at_v0 if kind == "time_travel" else o.query(self.AGG.format(""))),
                "status")

    def published(self) -> dict[str, list[str]]:
        return {t: [os.path.join(d, n) for n in os.listdir(d)]
                for t, d in self.pub.source_dirs.items()}

    def view_ok(self) -> bool:
        return same_rows(*spark_rows(self.eng.snapshot(VIEW)), *self.oracle.view(),
                         key="movie_id")

    def staging_ok(self) -> bool:
        return all(
            same_rows(*spark_rows(self.eng.snapshot(name)), *self.oracle.staging(name),
                      key=key)
            for name, (_, key, _) in STAGING.items()
        )

    def named(self, ph: Phase) -> dict:
        out = {"backfill_events_per_s": {
            "value": ph.work / ph.work_s if ph.work_s else None, "unit": "events/s"}}
        queries = [x for k in self.QUERY_KINDS for x in ph.samples.get(k, ())]
        for name, xs in (("cdc_freshness", ph.samples.get("freshness", [])),
                         ("serve_lookup", ph.samples.get("lookup", [])),
                         ("serve_query", queries)):
            out[f"{name}_p50_s"] = timing(xs)
            out[f"{name}_tail_s"] = tail_timing(xs)
        return out


class BatchHeadline:
    """One HEADLINE query per ``plans`` module, materialized as a parquet
    write (the reference's INSERT INTO a lake table) in a warmed session;
    the seed sets only the query order."""

    # module -> its cheapest oracle-checked HEADLINE query at these tables
    # (cold and warm, local[4]), so that a warm-up pass fits in set-up
    QUERIES = {
        "relational": "q1_pricing_summary",
        "changelog_queries": "upsert_latest_snapshot",
        "text_queries": "bpe_token_stats",
        "pipeline_queries": "token_stats_by_lang",
        "betting_queries": "betting_tickets_analytics",
        "similarity_queries": "pq_incremental_codes",
        "multimodal_queries": "multimodal_feature_extract",
        "temporal_queries": "range_join_price_bands",
    }
    TABLES = ("documents", "embeddings", "events", "lineitem", "orders")
    # the session's speed drifts within a run, so every query is timed in
    # at least four passes and reported by its median
    min_passes = 4

    def setup(self, ctx: Ctx) -> None:
        from bench import HEADLINE

        missing = set(self.QUERIES.values()) - set(HEADLINE)
        if missing:
            raise ValueError(f"not in bench.HEADLINE: {sorted(missing)}")
        self.data = os.path.join(ctx.root, "perfbench", "data")
        self.out = os.path.join(ctx.work, "out")
        self.specs = all_specs()
        self.oracle = BatchOracle(self.data, self.TABLES)
        self.expected = {q: self.oracle.expected(self.specs[q].oracle)
                         for q in self.QUERIES.values()}
        self.rng = random.Random(ctx.seed)
        for q in self.QUERIES.values():  # warm-up: every query once
            self.run(ctx, q, None)

    def run(self, ctx: Ctx, query: str, tracer) -> float | None:
        path = os.path.join(self.out, query)
        spark = ctx.spark
        stats = tracer.query_stats[query] if tracer is not None else None

        def materialize():
            t0 = time.perf_counter()
            df = self.specs[query].builder(spark, self.data)
            if stats is not None:
                c0 = codegen_ms(spark)
                stats["plan_s"] += plan_ms(df) / 1e3
            df.write.mode("overwrite").parquet(path)
            dt = time.perf_counter() - t0
            if stats is not None:
                stats["compile_s"] += max(0.0, codegen_ms(spark) - c0) / 1e3
            return dt

        dt = ctx.attempt(query, materialize)
        spark.catalog.clearCache()
        if dt is not None:
            ctx.verify(same_rows(*self.oracle.output(path), *self.expected[query]),
                       f"{query}: output differs from its oracle")
        return dt

    def measure(self, ctx: Ctx, tracer, max_ops: int | None = None) -> Phase:
        ph = Phase()
        queries = list(self.QUERIES.values())
        t_end = time.perf_counter() + ctx.seconds
        passes = 0
        while (passes < max_ops if max_ops is not None
               else passes < self.min_passes or time.perf_counter() < t_end):
            passes += 1
            for q in self.rng.sample(queries, len(queries)):
                with tracer.op(q):
                    dt = self.run(ctx, q, tracer if tracer.active else None)
                if dt is not None:
                    ph.ops += 1
                    ph.samples[q].append(dt)
                    ph.work += 1
                    ph.work_s += dt
        return ph

    def named(self, ph: Phase) -> dict:
        # a pass is every query once, so this is the mean sum of one pass
        total = ph.work_s * len(self.QUERIES) / ph.work if ph.work else None
        return {"batch_total_s": {"value": total, "unit": "s", "queries": len(self.QUERIES)}}


WORKLOADS = {
    "cdc_pipeline": CdcPipeline,
    "batch_headline": BatchHeadline,
}
