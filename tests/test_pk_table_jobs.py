"""Job-count guard for PK-table metadata: building a read runs no Spark job
to learn the table's schema (the manifest carries it) and the writers learn
their touched buckets from the job that pins the batch. A regression that
brings back a footer-inference, bucket-collect or count job fails here."""

from __future__ import annotations

import itertools

from flink_cdc_fluss_quickstart_spark.streaming.pk_table import PKTable

_GROUPS = itertools.count()


def _jobs(spark, fn):
    """(fn's result, the number of Spark jobs fn ran)."""
    sc = spark.sparkContext
    group = f"pk-table-jobs-{next(_GROUPS)}"
    sc.setJobGroup(group, "PK-table job-count guard")
    try:
        out = fn()
        job_ids = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(job_ids)


def test_pk_table_reads_and_merge_job_counts(spark, tmp_path):
    t = PKTable(spark, str(tmp_path / "t"), keys=["k"], order_by=["seq"])
    t.overwrite(spark.createDataFrame(
        [(k, f"v{k}", 0) for k in range(200)], "k long, v string, seq long"))

    snap, n = _jobs(spark, t.snapshot)
    assert n == 0, f"building snapshot() ran {n} jobs"
    assert snap.count() == 200

    probe = spark.createDataFrame([(1,), (2,), (2,), (500,)], "k long")
    hit, n = _jobs(spark, lambda: t.lookup(probe))
    assert n == 1, f"building lookup() ran {n} jobs (the probe pin only)"
    assert sorted((r.k, r.v) for r in hit.collect()) == [(1, "v1"), (2, "v2")]

    batch = spark.createDataFrame(
        [("U", 1, k, f"u{k}") for k in range(10)]
        + [("D", 1, k, None) for k in range(10, 15)],
        "op string, seq long, k long, v string")
    _, n = _jobs(spark, lambda: t.merge(batch, batch_id=0))
    assert n <= 5, f"merge of a 15-row batch ran {n} jobs"
    state = {r.k: r.v for r in t.snapshot().collect()}
    assert len(state) == 195
    assert state[3] == "u3" and 12 not in state and state[150] == "v150"
