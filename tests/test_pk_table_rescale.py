"""Offline bucket rescale of PKTable -- Paimon's rescale-bucket procedure.

Bucket count is a creation-time property ('bucket.num', reference
tickets-cdc.sql:34): a table cannot change it in place because routing is
the primary-key hash. But at 100 TB the count MUST eventually change -- a
k-key lookup() reads ~1/n_buckets of the table per key, so a serving
table that grew 10x past its creation-time count serves 10x-too-coarse
point reads forever. `rescale()` is the offline rewrite that fixes this:
one commit re-hashing the resolved snapshot into the new count.

These tests pin: content parity (including pending ingest deltas, which
the rewrite folds), lookup pruning under the NEW count, time travel
across the boundary with the OLD count (versioned lookups must hash with
the count in effect at that version -- the nb history field), txn
watermark survival (unlike overwrite(), content is preserved so replays
must still dedupe), stale-handle adoption (a handle opened before the
rescale must route by the manifest's count, not its cached one), GC
grace on superseded dirs, and the model-store composition
(rescale_artifact publishes to the ledger like compact_artifact).
"""

from __future__ import annotations

import os
import re

import pytest

from flink_cdc_fluss_quickstart_spark.streaming.pk_table import PKTable, _bucket_expr


def _rows(spark, triples):
    return spark.createDataFrame(
        [("I" if v is not None else "D", seq, k, v) for (seq, k, v) in triples],
        "op string, seq long, k long, v string",
    )


def _snap(t, version=None):
    s = t.snapshot(version=version)
    return {} if s is None else {r["k"]: r["v"] for r in s.collect()}


def _touched_buckets(df):
    return {int(re.search(r"__bucket=(\d+)", f).group(1)) for f in df.inputFiles()}


def _seeded(spark, tmp_path, name="t", n_buckets=4):
    t = PKTable(spark, str(tmp_path / name), keys=["k"], order_by=["seq"],
                n_buckets=n_buckets)
    t.overwrite(spark.createDataFrame(
        [(0, k, f"base{k}") for k in range(64)], "seq long, k long, v string"))
    return t


def test_rescale_content_parity_and_delta_fold(spark, tmp_path):
    """The rescaled table reads identically -- updates, inserts and deletes
    riding in pending ingest deltas are folded into the rewrite (no delta
    keys survive), and the manifest carries the new count."""
    t = _seeded(spark, tmp_path)
    t.ingest(_rows(spark, [(1, 3, "upd3"), (1, 200, "new"), (1, 5, None)]),
             batch_id=1)
    want = _snap(t)
    assert want[3] == "upd3" and want[200] == "new" and 5 not in want

    t.rescale(16)
    m = t._read_manifest()
    assert m["n_buckets"] == 16 and t.n_buckets == 16
    assert not any("#" in k for k in m["buckets"])  # deltas folded
    assert all(int(b) < 16 for b in m["buckets"])
    assert _snap(t) == want

    # downscale is the same operation in reverse
    t.rescale(2)
    assert _snap(t) == want
    assert {int(b) for b in t._read_manifest()["buckets"]} <= {0, 1}


def test_rescale_same_count_is_noop(spark, tmp_path):
    t = _seeded(spark, tmp_path)
    v = t._read_manifest()["version"]
    t.rescale(4)
    assert t._read_manifest()["version"] == v


def test_batch_pinned_before_a_rescale_merges_under_the_new_count(spark, tmp_path):
    """A batch pinned under the old bucket count and merged after a rescale
    is re-tagged under the new one: every key keeps one row, and the batch's
    upserts and deletes land."""
    t = _seeded(spark, tmp_path)
    batch = t.pin(_rows(spark, [(1, k, f"upd{k}") for k in range(0, 64, 3)]
                       + [(1, 1, None), (1, 200, "new")]))
    t.rescale(8)
    t.merge(batch, batch_id=0)
    want = {k: f"upd{k}" if k % 3 == 0 else f"base{k}" for k in range(64) if k != 1}
    assert _snap(t) == {**want, 200: "new"}
    assert t.snapshot().count() == len(want) + 1


def test_lookup_prunes_with_new_count_and_time_travels_with_old(spark, tmp_path):
    """After a 4 -> 32 rescale a point read prunes against 32 buckets (the
    whole point: finer serving fractions); a versioned lookup at the
    pre-rescale version must hash with the OLD count -- hashing 4-bucket
    dirs with the 32-bucket expr would prune to the wrong buckets and
    silently miss rows."""
    t = _seeded(spark, tmp_path)
    pre_version = t._read_manifest()["version"]
    pre_want = _snap(t)

    t.rescale(32)
    probe = spark.createDataFrame([(7,), (23,)], "k long")
    got = t.lookup(probe)
    assert {(r["k"], r["v"]) for r in got.collect()} == {(7, "base7"), (23, "base23")}
    wanted_new = {
        r["b"] for r in probe.select(_bucket_expr(["k"], 32).alias("b"))
        .distinct().collect()
    }
    assert _touched_buckets(got) <= wanted_new
    # non-vacuous pruning: far fewer than all 32 buckets read
    assert len(_touched_buckets(got)) <= 2

    # versioned read at the pre-rescale version: old dirs, old count
    old = t.lookup(probe, version=pre_version)
    assert {(r["k"], r["v"]) for r in old.collect()} == {(7, "base7"), (23, "base23")}
    wanted_old = {
        r["b"] for r in probe.select(_bucket_expr(["k"], 4).alias("b"))
        .distinct().collect()
    }
    assert _touched_buckets(old) <= wanted_old
    assert _snap(t, version=pre_version) == pre_want


def test_rescale_preserves_txn_watermarks(spark, tmp_path):
    """Unlike overwrite() (which starts a new txn epoch because content is
    replaced), rescale preserves content -- so a replay of an
    already-applied batch after the rescale must still be a no-op."""
    t = _seeded(spark, tmp_path)
    t.merge(_rows(spark, [(1, 3, "applied")]), batch_id=7, writer_id="w")
    t.rescale(16)
    assert t.last_batch_id("w") == 7
    # replay: stale value must NOT win
    t.merge(_rows(spark, [(1, 3, "stale-replay")]), batch_id=7, writer_id="w")
    assert _snap(t)[3] == "applied"
    # and a genuinely new batch applies
    t.merge(_rows(spark, [(2, 3, "newer")]), batch_id=8, writer_id="w")
    assert _snap(t)[3] == "newer"


def test_stale_handle_adopts_rescaled_count(spark, tmp_path):
    """Handles opened BEFORE a rescale must not route by their cached
    count. Readers (which never claim a writer epoch) adopt the manifest's
    new count on their next lookup -- hashing with the stale count would
    prune the wrong buckets and silently miss rows. A stale WRITER handle
    is fenced out entirely: the rescale claims a new writer epoch, so the
    old handle's next commit raises instead of writing an orphaned
    old-count bucket file (the single-active-engine contract)."""
    from flink_cdc_fluss_quickstart_spark.streaming.pk_table import (
        StaleWriterError,
    )

    w = PKTable(spark, str(tmp_path / "t"), keys=["k"], order_by=["seq"],
                n_buckets=4)
    w.overwrite(spark.createDataFrame(
        [(0, k, f"base{k}") for k in range(16)], "seq long, k long, v string"))
    reader = PKTable(spark, str(tmp_path / "t"), keys=["k"], order_by=["seq"])
    assert reader.n_buckets == 4

    maint = PKTable(spark, str(tmp_path / "t"), keys=["k"], order_by=["seq"])
    maint.rescale(32)

    # the reader's next point read routes by the NEW count
    got = reader.lookup(spark.createDataFrame([(7,)], "k long"))
    assert [(r["k"], r["v"]) for r in got.collect()] == [(7, "base7")]
    assert reader.n_buckets == 32
    assert _touched_buckets(got) <= {
        r["b"] for r in spark.createDataFrame([(7,)], "k long")
        .select(_bucket_expr(["k"], 32).alias("b")).collect()
    }

    # the pre-rescale writer handle is fenced, not silently mis-routed
    with pytest.raises(StaleWriterError):
        w.merge(_rows(spark, [(1, 100, "stale-write")]), batch_id=1)


def test_rescale_queues_gc_and_keeps_grace(spark, tmp_path):
    """Superseded old-count dirs enter the GC ledger (not deleted while in
    grace), so pre-rescale time travel keeps working until grace expires."""
    t = _seeded(spark, tmp_path)
    pre = t._read_manifest()["version"]
    old_dirs = set(t._read_manifest()["buckets"].values())
    t.rescale(8)
    m = t._read_manifest()
    assert old_dirs <= {e["dir"] for e in m["gc"]}
    for d in old_dirs:
        assert os.path.exists(os.path.join(t.path, d))
    assert _snap(t, version=pre) == _snap(t)


def test_rescale_empty_table(spark, tmp_path):
    t = PKTable(spark, str(tmp_path / "empty"), keys=["k"], order_by=["seq"],
                n_buckets=4)
    t.rescale(16)
    assert t._read_manifest()["n_buckets"] == 16
    assert t.snapshot() is None
    with pytest.raises(ValueError, match="n_buckets"):
        t.rescale(0)


def test_rescale_artifact_publishes_and_serves(spark, tmp_path):
    """Model-store composition: rescaling the published minhash index's
    point-served subtable lands a `rescale: true` ledger entry, latest
    point reads serve identically under the new count, and the
    pre-rescale publish still resolves (old count + old dirs)."""
    import pyspark.sql.functions as F

    from flink_cdc_fluss_quickstart_spark import models
    from tests.test_index_store import _DAY1, _bands

    ipath = str(tmp_path / "mh")
    models.save_minhash_index(spark, ipath, _bands(spark, _DAY1))
    day2 = _bands(spark, [(11, "alpha beta gamma delta epsilon zeta eta theta")])
    models.upsert_minhash_index(spark, ipath, day2, batch_id=2)

    def rows(df):
        return {(r["id"], r["band_idx"], r["band_key"]) for r in df.collect()}

    ids = [1, 11]
    want = rows(models.load_minhash_index(spark, ipath)
                .filter(F.col("id").isin(ids)))

    models.rescale_artifact(spark, ipath, 64, subtables=("bands",))
    pubs = models._read_meta(ipath)["publishes"]
    assert pubs[-1].get("rescale") is True and "ingest_batch" not in pubs[-1]

    s2 = spark.newSession()
    got = models.lookup_minhash_bands(s2, ipath, ids)
    assert rows(got) == want
    assert max(_touched_buckets(got)) < 64
    # the pre-rescale publish (2 = the day-2 ingest) still point-serves
    assert rows(models.lookup_minhash_bands(s2, ipath, ids, version=2)) == want
    # replayed ingest after the rescale publish: ledger in sync, no repair
    n = len(pubs)
    models.upsert_minhash_index(spark, ipath, day2, batch_id=2)
    assert len(models._read_meta(ipath)["publishes"]) == n
