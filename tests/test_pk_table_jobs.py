"""Job-count guard for PK-table reads and writers: building a read runs no
Spark job to learn the table's schema (the manifest carries it), the writers
learn their touched buckets from the job that pins the batch, and every
writer lands one data file per bucket dir through the shared bucketed
write. A regression that brings back a footer-inference, bucket-collect or
count job, or a write that scatters a bucket over several files, fails
here."""

from __future__ import annotations

import os

from conftest import count_jobs
from flink_cdc_fluss_quickstart_spark.streaming.pk_table import PKTable


def _assert_one_file_per_bucket(t, after):
    """Every live pointer dir (base and delta) holds exactly one data file:
    the bucket co-location point reads depend on."""
    files = {
        k: [f for f in os.listdir(os.path.join(t.path, d))
            if not f.startswith(("_", "."))]
        for k, d in t._read_manifest()["buckets"].items()
    }
    assert files and all(len(f) == 1 for f in files.values()), (after, files)


def test_pk_table_reads_and_merge_job_counts(spark, tmp_path):
    t = PKTable(spark, str(tmp_path / "t"), keys=["k"], order_by=["seq"])
    seed = spark.createDataFrame(
        [(k, f"v{k}", 0) for k in range(200)], "k long, v string, seq long")
    _, n = count_jobs(spark, lambda: t.overwrite(seed))
    assert n <= 2, f"overwrite ran {n} jobs"
    _assert_one_file_per_bucket(t, "overwrite")

    snap, n = count_jobs(spark, t.snapshot)
    assert n == 0, f"building snapshot() ran {n} jobs"
    assert snap.count() == 200

    probe = spark.createDataFrame([(1,), (2,), (2,), (500,)], "k long")
    hit, n = count_jobs(spark, lambda: t.lookup(probe))
    assert n == 1, f"building lookup() ran {n} jobs (the probe pin only)"
    assert sorted((r.k, r.v) for r in hit.collect()) == [(1, "v1"), (2, "v2")]

    batch = spark.createDataFrame(
        [("U", 1, k, f"u{k}") for k in range(10)]
        + [("D", 1, k, None) for k in range(10, 15)],
        "op string, seq long, k long, v string")
    _, n = count_jobs(spark, lambda: t.merge(batch, batch_id=0))
    assert n <= 5, f"merge of a 15-row batch ran {n} jobs"
    _assert_one_file_per_bucket(t, "merge")
    state = {r.k: r.v for r in t.snapshot().collect()}
    assert len(state) == 195
    assert state[3] == "u3" and 12 not in state and state[150] == "v150"

    _, n = count_jobs(spark, lambda: t.merge(batch, batch_id=0))
    assert n == 0, f"a replayed merge ran {n} jobs"

    upd = spark.createDataFrame(
        [("U", 2, k, f"i{k}") for k in range(20, 35)] + [("D", 2, 40, None)],
        "op string, seq long, k long, v string")
    _, n = count_jobs(spark, lambda: t.ingest(upd, batch_id=1))
    assert n <= 4, f"ingest of a 16-row batch ran {n} jobs"
    _assert_one_file_per_bucket(t, "ingest")

    _, n = count_jobs(spark, t.compact)
    assert n <= 5, f"compact ran {n} jobs"
    _assert_one_file_per_bucket(t, "compact")

    _, n = count_jobs(spark, lambda: t.rescale(8))
    assert n <= 2, f"rescale ran {n} jobs"
    _assert_one_file_per_bucket(t, "rescale")
    state = {r.k: r.v for r in t.snapshot().collect()}
    assert len(state) == 194
    assert state[3] == "u3" and state[20] == "i20" and 40 not in state
