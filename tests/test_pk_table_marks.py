"""Per-source sequence marks: a merge that names its changelog ``source``
applies only rows above the highest ``seq`` already applied from that
source, whichever writer applied it. A second writer replaying the same
changelog -- the SQL front-end's view stream re-merging what the
replication stream applied -- commits only its txn marker."""

from __future__ import annotations

import itertools
import json
import os

import pytest

from flink_cdc_fluss_quickstart_spark.streaming.pk_table import PKTable

SCHEMA = "op string, seq long, k long, v string"
_GROUPS = itertools.count()


def _jobs(spark, fn):
    """(fn's result, the number of Spark jobs fn ran)."""
    sc = spark.sparkContext
    group = f"pk-table-marks-{next(_GROUPS)}"
    sc.setJobGroup(group, "PK-table sequence-mark job count")
    try:
        out = fn()
        job_ids = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(job_ids)


def _state(t: PKTable) -> dict:
    return {r.k: r.v for r in t.snapshot().collect()}


def test_second_writer_replay_of_applied_batch_runs_no_write_job(spark, tmp_path):
    t = PKTable(spark, str(tmp_path / "t"), keys=["k"], order_by=["seq"])
    batch = spark.createDataFrame([("I", 1, 1, "a"), ("I", 2, 2, "b")], SCHEMA)
    t.merge(batch, batch_id=0, writer_id="replicate", source="src")
    m = t._read_manifest()
    assert m["marks"] == {"src": 2}

    _, pin_jobs = _jobs(spark, lambda: t._pin_batch(batch))
    dirs = sorted(os.listdir(t.path))
    _, n = _jobs(spark, lambda: t.merge(batch, batch_id=0, writer_id="view-sync",
                                        source="src"))
    assert n == pin_jobs, f"a replayed batch ran {n} jobs, pinning it runs {pin_jobs}"
    assert sorted(os.listdir(t.path)) == dirs  # no data directory written
    after = t._read_manifest()
    assert after["version"] == m["version"]
    assert after["txn"] == {"replicate": 0, "view-sync": 0}
    assert _state(t) == {1: "a", 2: "b"}


def test_older_batch_from_another_writer_does_not_roll_rows_back(spark, tmp_path):
    t = PKTable(spark, str(tmp_path / "t"), keys=["k"], order_by=["seq"])
    t.merge(spark.createDataFrame([("I", 1, 1, "a")], SCHEMA),
            batch_id=0, writer_id="replicate", source="src")
    t.merge(spark.createDataFrame([("U", 2, 1, "a2")], SCHEMA),
            batch_id=1, writer_id="replicate", source="src")
    v = t.current_version()
    # a late-started writer replays the source from its first epoch
    t.merge(spark.createDataFrame([("I", 1, 1, "a")], SCHEMA),
            batch_id=0, writer_id="late", source="src")
    assert _state(t) == {1: "a2"}
    assert t.current_version() == v
    # the same rows under ANOTHER source name are not covered by the mark
    t.merge(spark.createDataFrame([("I", 1, 1, "a")], SCHEMA),
            batch_id=1, writer_id="late", source="other")
    assert _state(t) == {1: "a"}


def test_straddling_batch_applies_only_rows_above_the_mark(spark, tmp_path):
    t = PKTable(spark, str(tmp_path / "t"), keys=["k"], order_by=["seq"])
    t.merge(spark.createDataFrame([("I", 1, 1, "a"), ("I", 2, 2, "b")], SCHEMA),
            batch_id=0, writer_id="replicate", source="src")
    t.merge(spark.createDataFrame([("U", 3, 1, "a2")], SCHEMA),
            batch_id=1, writer_id="replicate", source="src")
    # seqs 1..3 were applied; 4 and 5 were not
    straddle = spark.createDataFrame(
        [("I", 1, 1, "a"), ("I", 2, 2, "b"), ("U", 3, 1, "a2"),
         ("U", 4, 2, "b2"), ("I", 5, 3, "c")], SCHEMA)
    # a row at or below the mark that differs from the applied state shows
    # that the batch's old rows are skipped, not re-applied
    straddle = straddle.union(spark.createDataFrame([("U", 2, 9, "stale")], SCHEMA))
    v = t.current_version()
    t.merge(straddle, batch_id=0, writer_id="late", source="src")
    assert _state(t) == {1: "a2", 2: "b2", 3: "c"}
    m = t._read_manifest()
    assert m["version"] == v + 1
    assert m["marks"] == {"src": 5}


def test_manifest_without_marks_still_merges(spark, tmp_path):
    t = PKTable(spark, str(tmp_path / "t"), keys=["k"], order_by=["seq"])
    t.merge(spark.createDataFrame([("I", 5, 1, "a")], SCHEMA),
            batch_id=0, writer_id="w", source="src")
    with open(t._manifest_path) as f:
        m = json.load(f)
    del m["marks"]
    with open(t._manifest_path, "w") as f:
        json.dump(m, f)
    # with no mark, a lower seq applies exactly as a merge did before marks
    t.merge(spark.createDataFrame([("U", 3, 1, "older")], SCHEMA),
            batch_id=0, writer_id="other", source="src")
    assert _state(t) == {1: "older"}
    assert t._read_manifest()["marks"] == {"src": 3}


def test_source_mark_needs_an_integral_ordering_column(spark, tmp_path):
    t = PKTable(spark, str(tmp_path / "t"), keys=["k"], order_by=["ts"])
    batch = spark.createDataFrame(
        [("I", 1, "a")], "op string, k long, v string"
    ).selectExpr("op", "current_timestamp() AS ts", "k", "v")
    with pytest.raises(ValueError, match="integral ordering column"):
        t.merge(batch, batch_id=0, source="src")
    t.merge(batch, batch_id=0)  # without a source, any orderable column works
    assert _state(t) == {1: "a"}
