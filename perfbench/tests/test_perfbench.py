"""Tests of the benchmark itself, at tiny sizes.

    python3 -m pytest perfbench/tests -q

Each workload passes its oracle, a planted wrong answer is counted as a
failure, seeds give different (and repeatable) changelogs, and the traced
path serves exactly what the untraced one does.
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
for p in (ROOT, BENCH):
    if p not in sys.path:
        sys.path.insert(0, p)

os.environ.setdefault("SPARK_GRAFT_CPUS", "2")

from changelog import ChangelogGenerator, EpochMix, Publisher  # noqa: E402
from oracle import spark_rows  # noqa: E402
from run import stop_processes  # noqa: E402
from tracing import NullTracer, Tracer  # noqa: E402
from workloads import VIEW, BatchHeadline, CdcPipeline, Ctx  # noqa: E402

from flink_cdc_fluss_quickstart_spark.session import get_spark  # noqa: E402

TINY_SNAPSHOT = (30, 4, 60)
TINY_QUERIES = {"relational": "q1_pricing_summary",
                "changelog_queries": "upsert_latest_snapshot"}


@pytest.fixture(scope="module")
def spark():
    s = get_spark("perfbench-tests", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    stop_processes()  # and wait for the JVM, so none outlives the tests


def ctx_for(spark, tmp_path, name: str, seed: int = 3) -> Ctx:
    work = tmp_path / name
    work.mkdir()
    return Ctx(spark, ROOT, str(work), seed, seconds=0.0)


def tiny_cdc() -> CdcPipeline:
    w = CdcPipeline()
    w.snapshot_size = TINY_SNAPSHOT
    w.backlog_scale = 3
    return w


def tiny_batch() -> BatchHeadline:
    w = BatchHeadline()
    w.QUERIES = TINY_QUERIES
    return w


def published_bytes(seed: int, root: str) -> dict[str, bytes]:
    gen, pub = ChangelogGenerator(seed), Publisher(root)
    pub.publish(pub.write(gen.snapshot(*TINY_SNAPSHOT)))
    for _ in range(3):
        pub.publish(pub.write(gen.next_epoch(EpochMix())))
    pub.publish(pub.write(gen.next_epoch(EpochMix().scaled(4))))
    out = {}
    for table, d in pub.source_dirs.items():
        for name in sorted(os.listdir(d)):
            with open(os.path.join(d, name), "rb") as f:
                out[f"{table}/{name}"] = f.read()
    return out


def test_same_seed_same_files_other_seed_other_changelog(tmp_path):
    a = published_bytes(1, str(tmp_path / "a"))
    assert a == published_bytes(1, str(tmp_path / "b"))
    c = published_bytes(2, str(tmp_path / "c"))
    assert a.keys() == c.keys()
    assert a != c


def test_generator_emits_every_change_kind():
    gen = ChangelogGenerator(5)
    gen.snapshot(*TINY_SNAPSHOT)
    rows = [r for _ in range(4) for t in gen.next_epoch(EpochMix()).values() for r in t]
    assert {r["op"] for r in rows} == {"I", "U", "D"}
    assert all(r["before"] is not None for r in rows if r["op"] in "UD")
    seqs = [r["seq"] for r in rows]
    assert len(set(seqs)) == len(seqs)


def test_cdc_pipeline_tiny_passes_oracle(spark, tmp_path):
    ctx = ctx_for(spark, tmp_path, "cdc")
    w = tiny_cdc()
    w.setup(ctx)
    ph = w.measure(ctx, NullTracer(), max_ops=1)
    assert ph.ops == 2 + len(w.reads) and ph.work > 0
    assert all(ph.samples[k] for k in ("freshness", *w.reads))
    assert ctx.attempted > 0 and ctx.failed == 0


def test_batch_tiny_passes_oracle(spark, tmp_path):
    ctx = ctx_for(spark, tmp_path, "batch")
    w = tiny_batch()
    w.setup(ctx)
    ph = w.measure(ctx, NullTracer(), max_ops=1)
    assert ph.ops == len(TINY_QUERIES)
    assert ctx.attempted > 0 and ctx.failed == 0


def test_planted_wrong_batch_answer_is_counted(spark, tmp_path):
    ctx = ctx_for(spark, tmp_path, "planted-batch")
    w = tiny_batch()
    w.setup(ctx)
    assert ctx.failed == 0
    cols, rows = w.expected["q1_pricing_summary"]
    w.expected["q1_pricing_summary"] = (cols, rows[1:])
    w.measure(ctx, NullTracer(), max_ops=1)
    assert ctx.failed == 1


def test_planted_wrong_lookup_is_counted(spark, tmp_path, monkeypatch):
    ctx = ctx_for(spark, tmp_path, "planted-lookup")
    w = tiny_cdc()
    w.setup(ctx)
    real = w.read

    def wrong_cost(kind, keys):
        cols, rows = real(kind, keys)
        if kind != "lookup":
            return cols, rows
        i = cols.index("cost")
        return cols, [r[:i] + (r[i] + 1,) + r[i + 1:] for r in rows]

    monkeypatch.setattr(w, "read", wrong_cost)
    w.measure(ctx, NullTracer(), max_ops=1)
    assert ctx.failed == w.reads.count("lookup")


def served(w: CdcPipeline) -> dict[str, list[tuple]]:
    """Every served table, without its engine-assigned ``seq`` column."""
    out = {}
    for name in (VIEW, "users_staging", "movies_staging", "tickets_staging"):
        cols, rows = spark_rows(w.eng.snapshot(name).drop("seq"))
        out[name] = sorted(rows, key=repr)
    return out


def test_traced_run_serves_what_untraced_run_serves(spark, tmp_path):
    results = []
    for name, tracer in (("untraced", NullTracer()), ("traced", Tracer())):
        ctx = ctx_for(spark, tmp_path, name)
        w = tiny_cdc()
        w.setup(ctx)
        if tracer.active:
            tracer.install()
        try:
            w.measure(ctx, tracer, max_ops=1)
        finally:
            if tracer.active:
                tracer.uninstall()
        assert ctx.failed == 0
        results.append(served(w))
    assert results[0] == results[1]
    assert tracer.by_name("pk_table.merge") and tracer.by_name("sql_frontend.refresh")
    assert all(s.op is not None for s in tracer.spans)


def test_traced_batch_writes_what_untraced_batch_writes(spark, tmp_path):
    outs = []
    for name, tracer in (("untraced", NullTracer()), ("traced", Tracer())):
        ctx = ctx_for(spark, tmp_path, name)
        w = tiny_batch()
        w.setup(ctx)
        w.measure(ctx, tracer, max_ops=1)
        assert ctx.failed == 0
        outs.append({q: w.oracle.output(os.path.join(w.out, q)) for q in TINY_QUERIES.values()})
    for q in TINY_QUERIES.values():
        (ca, ra), (cb, rb) = outs[0][q], outs[1][q]
        assert ca == cb and sorted(ra, key=repr) == sorted(rb, key=repr)
    assert tracer.query_stats["q1_pricing_summary"]["plan_s"] > 0


def test_benchmark_refuses_to_run_without_the_engine(tmp_path):
    """In a directory holding only the benchmark, run.py exits non-zero
    without printing a result."""
    import shutil
    import subprocess

    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "cdc_pipeline", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
