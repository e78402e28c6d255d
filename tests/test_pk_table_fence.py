"""Writer-epoch fence + time-travel reads for the PK table store (r9 verdict
items 3 and 7): the single-active-engine contract is ENFORCED -- two handles
racing a merge leave exactly one live writer, the stale one raises -- and
every retained manifest version is readable via snapshot(version=) /
snapshot_at_batch(), with expired versions raising instead of silently
returning a wrong state (the Iceberg expire_snapshots contract). Reference
parity: the reference delegates both to Paimon/Iceberg transactions and
snapshot reads (flink-gen.sh:118-142, deploy:316-358)."""

from __future__ import annotations

import pytest

from flink_cdc_fluss_quickstart_spark.streaming import pk_table
from flink_cdc_fluss_quickstart_spark.streaming.pk_table import (
    PKTable,
    StaleWriterError,
)


def _batch(spark, rows):
    return spark.createDataFrame(rows, "op string, seq long, k long, v string")


def _state(t, **kw):
    snap = t.snapshot(**kw)
    return {} if snap is None else {r.k: r.v for r in snap.collect()}


# --- writer-epoch fence ------------------------------------------------------


@pytest.mark.parametrize("fmt", ["parquet", "orc"])
def test_two_handles_racing_a_merge_the_loser_raises(spark, tmp_path, fmt):
    """The enforced single-active-engine contract, both lake formats: after a
    second handle's first write claims the table, the first handle's next
    commit fails fast instead of silently interleaving manifests."""
    path = str(tmp_path / fmt)
    h1 = PKTable(spark, path, keys=["k"], order_by=["seq"], data_format=fmt)
    h1.merge(_batch(spark, [("I", 1, 1, "a")]), batch_id=0)
    h2 = PKTable(spark, path, keys=["k"], order_by=["seq"], data_format=fmt)
    h2.merge(_batch(spark, [("I", 2, 2, "b")]), batch_id=1)  # claims the table
    with pytest.raises(StaleWriterError, match="superseded"):
        h1.merge(_batch(spark, [("U", 3, 1, "LOST-RACE")]), batch_id=2)
    # the winner keeps committing; the loser's failed commit changed nothing
    h2.merge(_batch(spark, [("U", 4, 1, "a2")]), batch_id=2)
    assert _state(h2) == {1: "a2", 2: "b"}


def test_stale_overwrite_also_raises(spark, tmp_path):
    path = str(tmp_path / "t")
    h1 = PKTable(spark, path, keys=["k"], order_by=["seq"])
    h1.merge(_batch(spark, [("I", 1, 1, "a")]), batch_id=0)
    h2 = PKTable(spark, path, keys=["k"], order_by=["seq"])
    h2.overwrite(spark.createDataFrame([(9, "seed", 0)], "k long, v string, seq long"))
    with pytest.raises(StaleWriterError):
        h1.overwrite(
            spark.createDataFrame([(1, "stale", 0)], "k long, v string, seq long")
        )
    assert _state(h2) == {9: "seed"}


def test_read_only_handles_never_claim_the_table(spark, tmp_path):
    """snapshot() must not fence: monitoring readers over a live table are in
    contract, and opening a reader must not invalidate the active writer."""
    path = str(tmp_path / "t")
    writer = PKTable(spark, path, keys=["k"], order_by=["seq"])
    writer.merge(_batch(spark, [("I", 1, 1, "a")]), batch_id=0)
    reader = PKTable(spark, path, keys=["k"], order_by=["seq"])
    assert _state(reader) == {1: "a"}
    writer.merge(_batch(spark, [("U", 2, 1, "a2")]), batch_id=1)  # still live
    assert _state(reader) == {1: "a2"}


def test_sequential_engine_handoff_stays_in_contract(spark, tmp_path):
    """The restart pattern (fresh handle over the same storage, old handle
    never writes again) must keep working -- the fence only bites writers
    that commit AFTER being superseded."""
    path = str(tmp_path / "t")
    h1 = PKTable(spark, path, keys=["k"], order_by=["seq"])
    h1.merge(_batch(spark, [("I", 1, 1, "a")]), batch_id=0)
    h2 = PKTable(spark, path, keys=["k"], order_by=["seq"])
    h2.merge(_batch(spark, [("I", 2, 2, "b")]), batch_id=1)
    h3 = PKTable(spark, path, keys=["k"], order_by=["seq"])
    h3.merge(_batch(spark, [("I", 3, 3, "c")]), batch_id=2)
    assert _state(h3) == {1: "a", 2: "b", 3: "c"}


# --- time travel -------------------------------------------------------------


@pytest.mark.parametrize("fmt", ["parquet", "orc"])
def test_snapshot_version_reads_every_retained_state(spark, tmp_path, fmt):
    """Each manifest version reads back exactly the state recorded right
    after its commit -- including a pre-merge state after later upserts,
    deletes, and a bucket emptied entirely."""
    t = PKTable(spark, str(tmp_path / fmt), keys=["k"], order_by=["seq"],
                data_format=fmt, n_buckets=2)
    oracle = {}
    t.merge(_batch(spark, [("I", 1, 1, "a"), ("I", 2, 2, "b")]), batch_id=0)
    oracle[1] = {1: "a", 2: "b"}
    t.merge(_batch(spark, [("U", 3, 1, "a2"), ("I", 4, 3, "c")]), batch_id=1)
    oracle[2] = {1: "a2", 2: "b", 3: "c"}
    t.merge(_batch(spark, [("D", 5, 1, "a2"), ("D", 6, 2, "b"), ("D", 7, 3, "c")]),
            batch_id=2)
    oracle[3] = {}
    t.merge(_batch(spark, [("I", 8, 4, "d")]), batch_id=3)
    oracle[4] = {4: "d"}
    assert _state(t, version=0) == {}
    for v, want in oracle.items():
        assert _state(t, version=v) == want, f"version {v}"
    assert _state(t) == oracle[4]  # current read unchanged


def test_snapshot_at_batch_maps_writer_batches_to_versions(spark, tmp_path):
    t = PKTable(spark, str(tmp_path / "t"), keys=["k"], order_by=["seq"])
    t.merge(_batch(spark, [("I", 1, 1, "a")]), batch_id=10, writer_id="cdc")
    t.merge(_batch(spark, [("U", 2, 1, "a2")]), batch_id=11, writer_id="cdc")
    t.merge(_batch(spark, [("I", 3, 2, "b")]), batch_id=12, writer_id="cdc")
    got = t.snapshot_at_batch("cdc", 11)
    assert {r.k: r.v for r in got.collect()} == {1: "a2"}
    with pytest.raises(ValueError, match="no retained commit"):
        t.snapshot_at_batch("cdc", 9)
    with pytest.raises(ValueError, match="no retained commit"):
        t.snapshot_at_batch("other-writer", 12)


def test_expired_version_raises_not_wrong_answer(spark, tmp_path):
    """With gc_grace_secs=0 superseded dirs go immediately: the old version
    must RAISE (its data is gone), never return a reconstructed-but-wrong
    frame -- and the current read stays intact."""
    t = PKTable(spark, str(tmp_path / "t"), keys=["k"], order_by=["seq"],
                gc_grace_secs=0.0)
    t.merge(_batch(spark, [("I", 1, 1, "a")]), batch_id=0)
    t.merge(_batch(spark, [("U", 2, 1, "a2")]), batch_id=1)
    with pytest.raises(ValueError, match="expired"):
        t.snapshot(version=1)
    assert _state(t) == {1: "a2"}
    with pytest.raises(ValueError, match="unknown version"):
        t.snapshot(version=99)


def test_history_pruning_advances_the_readable_floor(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(pk_table, "HISTORY_KEEP", 2)
    t = PKTable(spark, str(tmp_path / "t"), keys=["k"], order_by=["seq"])
    for i in range(4):
        t.merge(_batch(spark, [("I", i + 1, i, f"v{i}")]), batch_id=i)
    # versions 3 and 4 retained (KEEP=2); 1 and 2 pruned
    assert _state(t, version=4) == {0: "v0", 1: "v1", 2: "v2", 3: "v3"}
    assert _state(t, version=3) == {0: "v0", 1: "v1", 2: "v2"}
    with pytest.raises(ValueError, match="expired: history"):
        t.snapshot(version=1)


def test_overwrite_participates_in_time_travel(spark, tmp_path):
    t = PKTable(spark, str(tmp_path / "t"), keys=["k"], order_by=["seq"])
    t.merge(_batch(spark, [("I", 1, 1, "pre-seed")]), batch_id=0)
    t.overwrite(spark.createDataFrame([(2, "seeded", 0)], "k long, v string, seq long"))
    assert _state(t, version=1) == {1: "pre-seed"}
    assert _state(t, version=2) == {2: "seeded"}


def test_time_travel_across_a_schema_changing_overwrite(spark, tmp_path):
    """The manifest carries the payload schema; a commit that changes it
    keeps the prior one in its history entry, so every version reads in
    its own schema -- including the KEY type a versioned lookup casts and
    hashes its probe with (xxhash64 is type-sensitive)."""
    import json as _json

    t = PKTable(spark, str(tmp_path / "t"), keys=["k"], order_by=["seq"])
    t.merge(_batch(spark, [("I", 1, 1, "a"), ("I", 1, 2, "b")]), batch_id=0)
    t.overwrite(spark.createDataFrame(
        [(1, 0.5, 0), (3, 1.5, 0)], "k int, score double, seq long"))
    t.merge(spark.createDataFrame(
        [("U", 3, 2.5, 1)], "op string, k int, score double, seq long"),
        batch_id=0)

    v1, v2, v3 = (t.snapshot(version=v) for v in (1, 2, 3))
    assert [(f.name, f.dataType.simpleString()) for f in v1.schema] == [
        ("seq", "bigint"), ("k", "bigint"), ("v", "string")]
    assert sorted((r.k, r.v) for r in v1.collect()) == [(1, "a"), (2, "b")]
    for snap in (v2, v3, t.snapshot()):
        assert [(f.name, f.dataType.simpleString()) for f in snap.schema] == [
            ("k", "int"), ("score", "double"), ("seq", "bigint")]
    assert sorted((r.k, r.score) for r in v2.collect()) == [(1, 0.5), (3, 1.5)]
    assert sorted((r.k, r.score) for r in v3.collect()) == [(1, 0.5), (3, 2.5)]

    probe = spark.createDataFrame([(1,), (2,), (3,)], "k string")
    assert sorted((r.k, r.v) for r in t.lookup(probe, version=1).collect()) == [
        (1, "a"), (2, "b")]
    assert sorted((r.k, r.score) for r in t.lookup(probe).collect()) == [
        (1, 0.5), (3, 2.5)]

    # only the schema-changing commits record a prior schema
    hist = {e["v"]: e for e in _json.load(open(t._manifest_path))["history"]}
    assert hist[1]["schema"] is None  # the table had none before v1
    assert [f["name"] for f in hist[2]["schema"]["fields"]] == ["seq", "k", "v"]
    assert "schema" not in hist[3]


# --- mid-write fence race (r10 verdict item 5 / advice) -----------------------


@pytest.mark.parametrize("fmt", ["parquet", "orc"])
def test_commit_straddling_a_rival_claim_raises_before_manifest_swap(
    spark, tmp_path, fmt, monkeypatch
):
    """The check-then-write window: a commit that passed the entry _fence()
    but is still inside its Spark write job when a rival claims the table
    must ALSO raise (at the pre-swap re-check in _write_manifest), instead
    of clobbering the rival's manifest seconds later. _queue_gc runs between
    the data write and the manifest swap -- the injection point."""
    path = str(tmp_path / fmt)
    h1 = PKTable(spark, path, keys=["k"], order_by=["seq"], data_format=fmt)
    h1.merge(_batch(spark, [("I", 1, 1, "a")]), batch_id=0)

    real_queue_gc = PKTable._queue_gc
    fired = []

    def rival_claims_mid_commit(self, m, superseded):
        if not fired:  # one-shot: the rival's own merge must run unhooked
            fired.append(True)
            h2 = PKTable(spark, path, keys=["k"], order_by=["seq"],
                         data_format=fmt)
            h2.merge(_batch(spark, [("I", 9, 9, "rival")]), batch_id=100,
                     writer_id="rival")
        return real_queue_gc(self, m, superseded)

    monkeypatch.setattr(PKTable, "_queue_gc", rival_claims_mid_commit)
    with pytest.raises(StaleWriterError, match="mid-write"):
        h1.merge(_batch(spark, [("U", 2, 1, "LOST")]), batch_id=1)
    monkeypatch.setattr(PKTable, "_queue_gc", real_queue_gc)

    # the rival's committed state survived the straddling commit
    h3 = PKTable(spark, path, keys=["k"], order_by=["seq"], data_format=fmt)
    assert _state(h3) == {1: "a", 9: "rival"}


@pytest.mark.parametrize("fmt", ["parquet", "orc"])
def test_overwrite_straddling_a_rival_claim_raises(spark, tmp_path, fmt, monkeypatch):
    path = str(tmp_path / fmt)
    h1 = PKTable(spark, path, keys=["k"], order_by=["seq"], data_format=fmt)
    h1.merge(_batch(spark, [("I", 1, 1, "a")]), batch_id=0)

    real_queue_gc = PKTable._queue_gc
    fired = []

    def rival_claims_mid_commit(self, m, superseded):
        if not fired:
            fired.append(True)
            h2 = PKTable(spark, path, keys=["k"], order_by=["seq"],
                         data_format=fmt)
            h2.merge(_batch(spark, [("I", 9, 9, "rival")]), batch_id=100,
                     writer_id="rival")
        return real_queue_gc(self, m, superseded)

    monkeypatch.setattr(PKTable, "_queue_gc", rival_claims_mid_commit)
    with pytest.raises(StaleWriterError, match="mid-write"):
        h1.overwrite(
            spark.createDataFrame([(1, "stale", 0)], "k long, v string, seq long")
        )
    monkeypatch.setattr(PKTable, "_queue_gc", real_queue_gc)
    h3 = PKTable(spark, path, keys=["k"], order_by=["seq"], data_format=fmt)
    assert _state(h3) == {1: "a", 9: "rival"}


# --- legacy-manifest time travel (r10 advice, medium) -------------------------


def test_legacy_manifest_versions_raise_instead_of_misanswering(spark, tmp_path):
    """A manifest written before commit history existed can reconstruct NO
    earlier version: snapshot(version=N) for pre-upgrade versions must raise
    as expired, never return the current bucket map labeled as version N."""
    import json as _json

    path = str(tmp_path / "t")
    t = PKTable(spark, path, keys=["k"], order_by=["seq"])
    t.merge(_batch(spark, [("I", 1, 1, "a")]), batch_id=0)
    t.merge(_batch(spark, [("U", 2, 1, "a2")]), batch_id=1)

    # simulate the legacy on-disk layout: strip the history bookkeeping
    # (and the schema, which postdates it)
    mp = t._manifest_path
    m = _json.load(open(mp))
    m.pop("history", None)
    m.pop("history_floor", None)
    m.pop("schema", None)
    _json.dump(m, open(mp, "w"))

    legacy = PKTable(spark, path, keys=["k"], order_by=["seq"])
    cur = m["version"]
    assert _state(legacy) == {1: "a2"}  # current read intact
    assert _state(legacy, version=cur) == {1: "a2"}  # current version ok
    for v in range(cur):  # every earlier version is unreconstructable
        with pytest.raises(ValueError, match="expired"):
            legacy.snapshot(version=v)

    # first post-upgrade commit pins the floor at the prior version: the
    # new commit is undoable, everything before it stays expired
    legacy.merge(_batch(spark, [("I", 3, 2, "b")]), batch_id=2)
    assert _state(legacy, version=cur) == {1: "a2"}
    for v in range(cur):
        with pytest.raises(ValueError, match="expired"):
            legacy.snapshot(version=v)

    # a manifest with history but no schema field (written before the
    # manifest carried the schema) reads by inference -- snapshot, versioned
    # snapshot and lookup -- and its next data commit records the schema
    path2 = str(tmp_path / "no_schema")
    t2 = PKTable(spark, path2, keys=["k"], order_by=["seq"])
    t2.merge(_batch(spark, [("I", 1, 1, "a")]), batch_id=0)
    t2.merge(_batch(spark, [("I", 2, 2, "b")]), batch_id=1)
    m2 = _json.load(open(t2._manifest_path))
    assert m2.pop("schema")["fields"]  # this build records it
    _json.dump(m2, open(t2._manifest_path, "w"))

    no_schema = PKTable(spark, path2, keys=["k"], order_by=["seq"])
    assert _state(no_schema) == {1: "a", 2: "b"}
    assert _state(no_schema, version=1) == {1: "a"}
    probe = spark.createDataFrame([(2,)], "k int")  # cast to the stored long
    assert [(r.k, r.v) for r in no_schema.lookup(probe).collect()] == [(2, "b")]
    no_schema.merge(_batch(spark, [("U", 3, 1, "a2")]), batch_id=2)
    m3 = _json.load(open(no_schema._manifest_path))
    assert [f["name"] for f in m3["schema"]["fields"]] == ["seq", "k", "v"]
    assert m3["history"][-1]["schema"] is None  # earlier versions: inference
    assert _state(no_schema) == {1: "a2", 2: "b"}
    assert _state(no_schema, version=2) == {1: "a", 2: "b"}


# --- post-overwrite read-at-batch epoch isolation (r10 advice, low) -----------


def test_snapshot_at_batch_never_blends_txn_epochs(spark, tmp_path):
    """overwrite() resets per-writer batch watermarks (restarted streams
    reuse ids from 0); retained pre-overwrite (writer, batch) history tags
    must not satisfy a NEW-epoch probe with an OLD-epoch state."""
    t = PKTable(spark, str(tmp_path / "t"), keys=["k"], order_by=["seq"])
    t.merge(_batch(spark, [("I", 1, 1, "old-epoch")]), batch_id=5, writer_id="cdc")
    t.overwrite(spark.createDataFrame([(2, "seed", 0)], "k long, v string, seq long"))

    # new epoch, no commits yet: a probe for batch 5 must raise, not return
    # the pre-overwrite batch-5 state
    with pytest.raises(ValueError, match="no retained commit"):
        t.snapshot_at_batch("cdc", 5)

    # after the restarted stream commits batch 0, probes resolve within the
    # NEW epoch only: batch 5 now matches batch 0 (newest at-or-below),
    # never the old epoch's batch-5 commit
    t.merge(_batch(spark, [("I", 9, 3, "new-epoch")]), batch_id=0, writer_id="cdc")
    want = {2: "seed", 3: "new-epoch"}
    assert {r.k: r.v for r in t.snapshot_at_batch("cdc", 0).collect()} == want
    assert {r.k: r.v for r in t.snapshot_at_batch("cdc", 5).collect()} == want

    # version time travel over the stripped entries keeps working
    assert _state(t, version=1) == {1: "old-epoch"}
    assert _state(t, version=2) == {2: "seed"}


def _claim_epoch_in_subprocess(path, barrier, out, idx):
    """Spawn-target: claim a writer epoch on the shared table dir. Module-
    level so the 'spawn' context can pickle it; touches only os/json (no
    JVM), which is the point -- the fence must be atomic across OS
    processes, not just threads."""
    from flink_cdc_fluss_quickstart_spark.streaming.pk_table import PKTable

    t = PKTable(None, path, keys=["k"], order_by=["k"])
    # timeout, not a bare wait: if a sibling crashes before assembling (the
    # r15 shared-tmp manifest race died exactly here), a bare wait blocks
    # forever and the leaked racer hangs the whole suite's interpreter
    # shutdown (multiprocessing's atexit joins every live child)
    barrier.wait(timeout=60)  # maximize the simultaneous-claim window
    t._fence()
    out[idx] = t._epoch


def test_epoch_claims_are_atomic_across_os_processes(tmp_path):
    """Eight OS processes race to claim a writer epoch on the same table at
    the same instant (barrier-released): the O_EXCL marker protocol must
    hand every process a DISTINCT epoch -- the cross-process atomicity the
    single-active-engine contract rests on, which the in-process handle
    tests above cannot prove."""
    import multiprocessing as mp

    ctx = mp.get_context("spawn")
    n = 8
    barrier = ctx.Barrier(n)
    out = ctx.Manager().dict()
    procs = [
        ctx.Process(
            target=_claim_epoch_in_subprocess,
            args=(str(tmp_path / "t"), barrier, out, i),
            daemon=True,  # belt-and-braces: never joined at atexit
        )
        for i in range(n)
    ]
    for p in procs:
        p.start()
    try:
        for p in procs:
            p.join(120)
            assert p.exitcode == 0
    finally:
        for p in procs:  # a failed assert must not leak live racers
            if p.is_alive():
                p.terminate()
    epochs = [out[i] for i in range(n)]
    assert len(set(epochs)) == n, f"duplicate epochs claimed: {sorted(epochs)}"
    assert max(epochs) == n  # claims are dense: every loser retried upward
