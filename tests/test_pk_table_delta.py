"""Delta-ingest (LSM) path of PKTable: `ingest()` appends per-bucket delta
files at O(|batch|) write cost, reads merge-on-read, `compact()` folds.

Why it exists (r13 measurement): `merge()` folds every affected bucket by
reading and rewriting it, and a uniformly-hashed batch touches every
bucket -- so merge cost is O(table) per batch at ANY bucket count
(ingesting a fixed 500-doc band batch into a 1.2M-row minhash index cost
exactly a full rebuild). Paimon's answer -- an LSM tree inside each
bucket -- is `ingest()` here. These tests pin: content equivalence with
merge, the structural O(|batch|) property (base dirs untouched),
exactly-once replay, delete markers through deltas, time travel across
ingest and compaction boundaries, auto-compaction, and the merge()/
overwrite() interop guards.

Reference parity: Paimon 'num-sorted-run.compaction-trigger' /
'merge-engine'='deduplicate' (reference flink-gen.sh:118-142)."""

from __future__ import annotations

import pytest

from flink_cdc_fluss_quickstart_spark.streaming.pk_table import PKTable


def _rows(spark, triples):
    return spark.createDataFrame(
        [("I" if v is not None else "D", seq, k, v) for (seq, k, v) in triples],
        "op string, seq long, k long, v string",
    )


def _snap(t):
    s = t.snapshot()
    return {} if s is None else {r["k"]: r["v"] for r in s.collect()}


def test_ingest_matches_merge_content(spark, tmp_path):
    """Ground truth: N batches applied via ingest() read identically to the
    same batches applied via merge() -- same last-writer-wins key rule."""
    batches = [
        [(1, 1, "a"), (2, 2, "b")],
        [(3, 1, "a2"), (4, 3, "c")],
        [(5, 2, None), (6, 4, "d")],  # delete k=2 through a delta marker
        [(7, 4, "d2"), (8, 5, "e")],
    ]
    ti = PKTable(spark, str(tmp_path / "ing"), keys=["k"], order_by=["seq"])
    tm = PKTable(spark, str(tmp_path / "mrg"), keys=["k"], order_by=["seq"])
    for i, b in enumerate(batches):
        ti.ingest(_rows(spark, b), batch_id=i)
        tm.merge(_rows(spark, b), batch_id=i)
    assert _snap(ti) == _snap(tm) == {1: "a2", 3: "c", 4: "d2", 5: "e"}


def test_ingest_leaves_base_untouched(spark, tmp_path):
    """The O(|batch|) structural claim: ingest adds composite delta
    pointers and never rewrites (or even repoints) a base bucket dir --
    vs merge, which repoints every affected bucket."""
    t = PKTable(spark, str(tmp_path / "base"), keys=["k"], order_by=["seq"])
    t.merge(_rows(spark, [(i, i, f"v{i}") for i in range(1, 40)]), batch_id=0)
    base_before = {
        k: v for k, v in t._read_manifest()["buckets"].items() if "#" not in k
    }
    assert base_before  # all 4 buckets populated by 39 uniform keys
    t.ingest(_rows(spark, [(100, 100, "new"), (101, 101, "new2")]), batch_id=1)
    m = t._read_manifest()
    base_after = {k: v for k, v in m["buckets"].items() if "#" not in k}
    assert base_after == base_before
    assert any("#" in k for k in m["buckets"])
    assert _snap(t)[100] == "new"


def test_ingest_idempotent_replay_and_txn(spark, tmp_path):
    t = PKTable(spark, str(tmp_path / "replay"), keys=["k"], order_by=["seq"])
    t.ingest(_rows(spark, [(1, 1, "a")]), batch_id=0, writer_id="w")
    v1 = t._read_manifest()["version"]
    t.ingest(_rows(spark, [(1, 1, "SHOULD-NOT-APPLY")]), batch_id=0, writer_id="w")
    assert t._read_manifest()["version"] == v1  # replay = no commit
    assert _snap(t) == {1: "a"}
    assert t.last_batch_id("w") == 0


def test_ingest_time_travel_and_at_batch(spark, tmp_path):
    t = PKTable(spark, str(tmp_path / "tt"), keys=["k"], order_by=["seq"])
    t.ingest(_rows(spark, [(1, 1, "a")]), batch_id=0, writer_id="w")
    t.ingest(_rows(spark, [(2, 1, "a2"), (3, 2, "b")]), batch_id=1, writer_id="w")
    assert {r["k"]: r["v"] for r in t.snapshot(version=1).collect()} == {1: "a"}
    assert {r["k"]: r["v"] for r in t.snapshot_at_batch("w", 0).collect()} == {1: "a"}
    assert _snap(t) == {1: "a2", 2: "b"}


def test_compaction_folds_and_preserves_time_travel(spark, tmp_path):
    t = PKTable(spark, str(tmp_path / "cpt"), keys=["k"], order_by=["seq"])
    t.merge(_rows(spark, [(1, 1, "a"), (2, 2, "b")]), batch_id=0)
    t.ingest(_rows(spark, [(3, 1, "a2")]), batch_id=1)
    t.ingest(_rows(spark, [(4, 2, None), (5, 3, "c")]), batch_id=2)
    pre = _snap(t)
    v_pre = t._read_manifest()["version"]
    t.compact()
    m = t._read_manifest()
    assert not any("#" in k for k in m["buckets"])  # deltas folded away
    assert _snap(t) == pre == {1: "a2", 3: "c"}
    # time travel back ACROSS the compaction boundary (grace retains dirs)
    assert {r["k"]: r["v"] for r in t.snapshot(version=v_pre).collect()} == pre
    assert {r["k"]: r["v"] for r in t.snapshot(version=2).collect()} == {
        1: "a2", 2: "b"
    }
    # compacting a delta-free table is a no-op commit-wise
    v = m["version"]
    t.compact()
    assert t._read_manifest()["version"] == v


def test_auto_compaction_at_threshold(spark, tmp_path):
    t = PKTable(spark, str(tmp_path / "auto"), keys=["k"], order_by=["seq"])
    for i in range(4):
        t.ingest(_rows(spark, [(i, 1, f"v{i}")]), batch_id=i, compact_threshold=2)
    m = t._read_manifest()
    # the 3rd delta on key 1's bucket crossed threshold 2 -> auto-compacted
    assert sum(1 for k in m["buckets"] if "#" in k) <= 2
    assert _snap(t) == {1: "v3"}


def test_merge_after_ingest_sees_delta_rows(spark, tmp_path):
    """merge() on a table with pending deltas folds them first -- a bucket
    rewrite must never lose committed delta rows."""
    t = PKTable(spark, str(tmp_path / "interop"), keys=["k"], order_by=["seq"])
    t.merge(_rows(spark, [(1, 1, "a")]), batch_id=0)
    t.ingest(_rows(spark, [(2, 2, "b")]), batch_id=1)
    t.merge(_rows(spark, [(3, 3, "c")]), batch_id=2)
    assert _snap(t) == {1: "a", 2: "b", 3: "c"}
    assert not any("#" in k for k in t._read_manifest()["buckets"])


def test_overwrite_clears_deltas(spark, tmp_path):
    t = PKTable(spark, str(tmp_path / "ow"), keys=["k"], order_by=["seq"])
    t.ingest(_rows(spark, [(1, 1, "a"), (2, 2, "b")]), batch_id=0)
    t.overwrite(spark.createDataFrame([(9, 9, "z")], "seq long, k long, v string"))
    m = t._read_manifest()
    assert not any("#" in k for k in m["buckets"])
    assert _snap(t) == {9: "z"}


def test_streaming_foreachbatch_ingest_exactly_once(spark, tmp_path):
    """The day-2 pipeline as a STREAM: a readStream feeding foreachBatch
    ingest() lands every micro-batch exactly once (batch ids from the
    checkpoint dedupe replays), and the resolved table equals the batch
    union -- the streaming serving-index maintenance loop."""
    import os

    import pandas as pd

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    os.makedirs(src)
    for name, rows in (("e1", [(1, 1, "a"), (2, 2, "b")]),
                       ("e2", [(3, 1, "a2"), (4, 3, "c")]),
                       ("e3", [(5, 4, "d"), (6, 2, None)])):
        pd.DataFrame(rows, columns=["seq", "k", "v"]).to_parquet(
            os.path.join(src, f"{name}.parquet"), index=False)

    t = PKTable(spark, str(tmp_path / "stream_ing"), keys=["k"], order_by=["seq"])

    def fb(batch_df, batch_id):
        from pyspark.sql import functions as F

        # null v = a delete marker riding the stream (op must come out 'D',
        # not a stringified boolean -- a 'false' op would silently INSERT)
        t.ingest(
            batch_df.withColumn(
                "op", F.when(F.col("v").isNotNull(), "I").otherwise("D")
            ),
            batch_id=batch_id, writer_id="stream",
        )

    q = (
        spark.readStream.schema("seq long, k long, v string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(fb)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300), "ingest stream did not drain"
    assert _snap(t) == {1: "a2", 3: "c", 4: "d"}  # key 2 deleted via null-v
    # restart the stream over the SAME checkpoint: nothing re-applies
    v = t._read_manifest()["version"]
    q2 = (
        spark.readStream.schema("seq long, k long, v string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(fb)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    assert q2.awaitTermination(300)
    assert t._read_manifest()["version"] == v
    assert _snap(t) == {1: "a2", 3: "c", 4: "d"}


def test_concurrent_ingests_serialize(spark, tmp_path):
    """Concurrent delta ingests into one table must not lose manifest
    updates or delta pointers (commits serialize per table path -- the
    merge-path guarantee extended to the LSM write path), and concurrent
    ingest + compaction must interleave safely."""
    import threading

    t = PKTable(spark, str(tmp_path / "ci"), keys=["k"], order_by=["seq"],
                n_buckets=4)
    t.overwrite(spark.createDataFrame(
        [(0, k, "base") for k in range(8)], "seq long, k long, v string"))

    def writer(wid: int) -> None:
        for b in range(3):
            t.ingest(
                spark.createDataFrame(
                    [("I", b + 1, 100 + wid * 10 + b, f"w{wid}b{b}")],
                    "op string, seq long, k long, v string",
                ),
                batch_id=b, writer_id=f"w{wid}",
                compact_threshold=4,  # let auto-compaction race the ingests
            )

    threads = [threading.Thread(target=writer, args=(w,)) for w in range(3)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    snap = {(r["k"], r["v"]) for r in t.snapshot().collect()}
    want = {(k, "base") for k in range(8)} | {
        (100 + w * 10 + b, f"w{w}b{b}") for w in range(3) for b in range(3)
    }
    assert snap == want
    for w in range(3):
        assert t._read_manifest()["txn"][f"w{w}"] == 2


def test_ingest_rejects_reserved_payload_columns(spark, tmp_path):
    """ingest() PERSISTS __op/__dv/__bucket into delta files as
    merge-on-read metadata (unlike merge()'s transient use), so a payload
    column with one of those names must be refused up front -- it would
    corrupt resolution or the partitioned write silently."""
    t = PKTable(spark, str(tmp_path / "resv"), keys=["k"], order_by=["seq"])
    bad = spark.createDataFrame(
        [("I", 1, 1, "a", 7)], "op string, seq long, k long, v string, __dv long"
    )
    with pytest.raises(ValueError, match="reserved merge-on-read"):
        t.ingest(bad, batch_id=1)
    # the named op column itself may be any name, including a reserved one
    ok = spark.createDataFrame(
        [("I", 1, 1, "a")], "__op string, seq long, k long, v string"
    )
    t.ingest(ok, batch_id=1, op_col="__op")
    assert _snap(t) == {1: "a"}


def test_ingest_orc_format(spark, tmp_path):
    """The delta path is format-agnostic like everything else behind the
    manifest: an ORC table ingests, resolves, and compacts identically
    (the K3 tiering contract extended to the LSM write path)."""
    t = PKTable(spark, str(tmp_path / "orc"), keys=["k"], order_by=["seq"],
                data_format="orc")
    t.merge(_rows(spark, [(1, 1, "a"), (2, 2, "b")]), batch_id=0)
    t.ingest(_rows(spark, [(3, 1, "a2"), (4, 3, "c")]), batch_id=1)
    assert _snap(t) == {1: "a2", 2: "b", 3: "c"}
    # the point-read path is format-agnostic too (reads through the same
    # manifest + data_format seam), with deltas pending and after the fold
    probe = spark.createDataFrame([(1,), (3,), (9,)], "k long")
    assert {(r["k"], r["v"]) for r in t.lookup(probe).collect()} == {
        (1, "a2"), (3, "c")
    }
    t.compact()
    assert _snap(t) == {1: "a2", 2: "b", 3: "c"}
    assert not any("#" in k for k in t._read_manifest()["buckets"])
    assert {(r["k"], r["v"]) for r in t.lookup(probe).collect()} == {
        (1, "a2"), (3, "c")
    }


def test_many_daily_ingests_serve_identically_across_compaction(spark, tmp_path):
    """The serving-index loop at day 10: nine daily ingests (crossing the
    auto-compaction threshold mid-sequence) resolve to exactly the union a
    single bulk publish would give, before AND after the fold -- the
    read-your-ingests contract the day-2 dedup probe depends on."""
    t = PKTable(spark, str(tmp_path / "days"), keys=["k"], order_by=["seq"])
    t.overwrite(spark.createDataFrame(
        [(0, k, f"base{k}") for k in range(20)], "seq long, k long, v string"))
    expect = {k: f"base{k}" for k in range(20)}
    for d in range(9):
        rows = [(100 + d, 1000 + 10 * d + j, f"day{d}_{j}") for j in range(3)]
        t.ingest(_rows(spark, rows), batch_id=d + 1, writer_id="daily")
        for _, k, v in rows:
            expect[k] = v
        assert _snap(t) == expect  # read-your-ingests every single day
    assert len(expect) == 20 + 27


def test_ingest_fenced_against_stale_writer(spark, tmp_path):
    from flink_cdc_fluss_quickstart_spark.streaming.pk_table import StaleWriterError

    path = str(tmp_path / "fence")
    t1 = PKTable(spark, path, keys=["k"], order_by=["seq"])
    t1.ingest(_rows(spark, [(1, 1, "a")]), batch_id=0)
    t2 = PKTable(spark, path, keys=["k"], order_by=["seq"])
    t2.ingest(_rows(spark, [(2, 2, "b")]), batch_id=0, writer_id="other")
    with pytest.raises(StaleWriterError):
        t1.ingest(_rows(spark, [(3, 3, "c")]), batch_id=1)


def test_lookup_point_read_prunes_buckets(spark, tmp_path):
    """lookup() is the Fluss PK point-read shape: it returns exactly the
    probed keys' rows (delta updates applied, deletes absent, missing keys
    absent) and READS only the probed keys' buckets -- asserted from the
    plan's actual input files, not the docstring."""
    import pyspark.sql.functions as F

    from flink_cdc_fluss_quickstart_spark.streaming.pk_table import _bucket_expr

    t = PKTable(spark, str(tmp_path / "lk"), keys=["k"], order_by=["seq"],
                n_buckets=8)
    t.overwrite(spark.createDataFrame(
        [(0, k, f"base{k}") for k in range(64)], "seq long, k long, v string"))
    # delta: update key 3, delete key 5, insert new key 100
    t.ingest(_rows(spark, [(1, 3, "upd3"), (1, 5, None), (1, 100, "new100")]),
             batch_id=1)

    # duplicated probe keys: the semi join still returns each row once
    probe = spark.createDataFrame(
        [(3,), (5,), (7,), (100,), (999,), (3,), (7,), (7,), (5,)], "k long")
    got = sorted((r["k"], r["v"]) for r in t.lookup(probe).collect())
    assert got == [(3, "upd3"), (7, "base7"), (100, "new100")]

    # pruning: every input file sits in a bucket one of the probed keys
    # hashes to (probe buckets < all 8 buckets, so the check is non-vacuous)
    wanted = {
        r["b"] for r in probe.select(_bucket_expr(["k"], 8).alias("b")).collect()
    }
    assert len(wanted) < 8
    files = t.lookup(probe).inputFiles()
    assert files
    import re

    touched = {int(re.search(r"__bucket=(\d+)", f).group(1)) for f in files}
    assert touched <= wanted, (touched, wanted)

    # time travel composes: at version 1 (pre-ingest) key 3 is still base3,
    # key 100 absent
    v1 = sorted((r["k"], r["v"]) for r in t.lookup(probe, version=1).collect())
    assert v1 == [(3, "base3"), (5, "base5"), (7, "base7")]

    # after compaction the same lookup resolves identically
    t.compact()
    assert sorted((r["k"], r["v"]) for r in t.lookup(probe).collect()) == got


def test_lookup_no_rows_shapes_and_probe_type_alignment(spark, tmp_path):
    """Two lookup() contract points (r14 ADVICE): (1) "no rows" is ALWAYS
    a zero-row frame in the table's schema -- whether the probed keys are
    absent from live buckets or hash only into empty ones -- and None is
    reserved for a table with no data dirs at all (schema unknowable);
    (2) the probe's key columns are aligned to the STORED key types before
    bucket hashing -- xxhash64 is type-sensitive (hash(int 1) !=
    hash(bigint 1)), so an int-typed probe against a bigint key would
    otherwise prune the wrong buckets and silently return nothing."""
    import pyspark.sql.functions as F

    from flink_cdc_fluss_quickstart_spark.streaming.pk_table import _bucket_expr

    t = PKTable(spark, str(tmp_path / "shapes"), keys=["k"], order_by=["seq"],
                n_buckets=8)
    probe1 = spark.createDataFrame([(1,)], "k long")
    assert t.lookup(probe1) is None  # entirely empty table

    t.overwrite(spark.createDataFrame(
        [(0, k, f"base{k}") for k in range(4)], "seq long, k long, v string"))
    live = {int(b) for b in t._read_manifest()["buckets"]}
    assert len(live) < 8  # 4 keys cannot fill all 8 buckets

    # a key hashing into an EMPTY bucket: zero-row frame, table schema
    empty_key = next(
        k for k in range(1000, 2000)
        if spark.createDataFrame([(k,)], "k long")
        .select(_bucket_expr(["k"], 8).alias("b")).first()["b"] not in live
    )
    out = t.lookup(spark.createDataFrame([(empty_key,)], "k long"))
    assert out.count() == 0 and out.columns == ["seq", "k", "v"]

    # an absent key in a LIVE bucket: same shape (already the behavior)
    miss_key = next(
        k for k in range(1000, 2000)
        if spark.createDataFrame([(k,)], "k long")
        .select(_bucket_expr(["k"], 8).alias("b")).first()["b"] in live
    )
    out2 = t.lookup(spark.createDataFrame([(miss_key,)], "k long"))
    assert out2.count() == 0 and out2.columns == ["seq", "k", "v"]

    # int-typed probe against the bigint key still serves the row
    got = t.lookup(spark.createDataFrame([(2,)], "k int")).collect()
    assert [(r["k"], r["v"]) for r in got] == [(2, "base2")]

    # ...including through the delta path (keys in deltas hash identically)
    t.ingest(_rows(spark, [(1, 2, "upd2")]), batch_id=1)
    got = t.lookup(spark.createDataFrame([(2,)], "k int")).collect()
    assert [(r["k"], r["v"]) for r in got] == [(2, "upd2")]


def test_resolve_join_strategy_follows_true_delta_size(spark, tmp_path, monkeypatch):
    """r15 audit regression guard (tools/audit_delta_read.py --wide): the
    merge-on-read anti join gates its strategy on TRUE on-disk delta bytes.
    The distinct delta-key frame is an aggregate over a pruned scan, whose
    static estimate undershoots so badly that even the AQE-final plan kept
    a 16M-key build side at 2x the broadcast threshold. Daily-sized
    backlogs broadcast (no exchange added over the compacted fast path); a
    backlog past DELTA_BROADCAST_MAX_BYTES pins sort-merge -- the only
    shape whose memory stays partition-bounded when the backlog scales
    with the table."""
    import flink_cdc_fluss_quickstart_spark.streaming.pk_table as pk

    def plan_of(df):
        qe = df._jdf.queryExecution()
        return qe.executedPlan().toString()

    t = PKTable(spark, str(tmp_path / "strat"), keys=["k"], order_by=["seq"])
    t.overwrite(spark.createDataFrame(
        [(0, k, f"base{k}") for k in range(32)], "seq long, k long, v string"))
    t.ingest(_rows(spark, [(1, 1, "u1"), (1, 100, "new")]), batch_id=1)

    import re

    daily = plan_of(t.snapshot())
    assert re.search(r"BroadcastHashJoin .*LeftAnti", daily), daily[:2000]

    # same pending delta, but past the (monkeypatched) size gate: the key
    # side must pin sort-merge
    monkeypatch.setattr(pk, "DELTA_BROADCAST_MAX_BYTES", 0)
    backlog = plan_of(t.snapshot())
    assert re.search(r"SortMergeJoin .*LeftAnti", backlog), backlog[:2000]
    assert not re.search(r"BroadcastHashJoin .*LeftAnti", backlog)
    # and the resolved rows are identical either way
    assert _snap(t) == {k: f"base{k}" for k in range(32) if k != 1} | {
        1: "u1", 100: "new"
    }


def test_every_write_path_lands_one_file_per_bucket(spark, tmp_path):
    """r15 point-serve audit regression guard: per-bucket FILE count, not
    bucket count, dominates lookup open cost (an 8-key probe against a
    64-bucket table was opening 256 files -- every shuffle partition had
    written its own sliver into every bucket dir). Every write path --
    overwrite, merge, ingest, compact, rescale -- must co-locate by
    bucket so each commit lands ONE data file per bucket dir (Paimon's
    sorted-run shape)."""
    import os

    def files_per_bucket(t):
        m = t._read_manifest()
        out = {}
        for k, d in m["buckets"].items():
            full = os.path.join(t.path, d)
            out[k] = len([f for f in os.listdir(full)
                          if not f.startswith(("_", "."))])
        return out

    t = PKTable(spark, str(tmp_path / "t"), keys=["k"], order_by=["seq"],
                n_buckets=8)
    # a seed wide enough that every bucket gets rows from many of the 32
    # source partitions -- the sliver-per-partition failure mode's setup
    t.overwrite(
        spark.range(4000).selectExpr(
            "0L as seq", "id as k", "cast(id as string) as v"
        ).repartition(32)
    )
    assert set(files_per_bucket(t).values()) == {1}, files_per_bucket(t)

    t.merge(_rows(spark, [(1, k, f"m{k}") for k in range(500)]), batch_id=1)
    assert set(files_per_bucket(t).values()) == {1}, files_per_bucket(t)

    t.ingest(_rows(spark, [(2, k, f"i{k}") for k in range(500)]), batch_id=2)
    fb = files_per_bucket(t)
    assert set(fb.values()) == {1}, fb  # delta dirs too

    t.compact()
    assert set(files_per_bucket(t).values()) == {1}, files_per_bucket(t)

    t.rescale(16)
    assert set(files_per_bucket(t).values()) == {1}, files_per_bucket(t)
    assert {r["k"]: r["v"] for r in t.snapshot().collect()}[3] == "i3"
