"""Serving-index persistence: the dedup and ANN state survives the session
that built it, with the same warehouse guarantees as the trained models
(models.py) -- atomic publish, idempotent incremental ingest, versioned
reads, featurization-compat guards.

This is the daily-pipeline story: the MinHash band index is a LIVE
lakehouse table that each day's batch probes and then merges into (the
corpus is never re-shingled), and the PQ index (codebooks + codes) serves
ADC top-k without ever re-reading or re-encoding the float corpus."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from flink_cdc_fluss_quickstart_spark import models
from flink_cdc_fluss_quickstart_spark.functions import dedup


def _bands(spark, rows):
    d = spark.createDataFrame(rows, "doc_id bigint, text string")
    return dedup.minhash_band_keyed(d, "doc_id", "text").select(
        F.col("doc_id").alias("id"), "band_idx", "band_key"
    )


_DAY1 = [
    (1, "alpha beta gamma delta epsilon zeta eta theta"),
    (2, "one two three four five six seven eight nine"),
    (3, "lorem ipsum dolor sit amet consectetur adipiscing elit"),
]


def _probe(batch_bands, index):
    """Incremental-dedup probe: batch band keys against the index, distinct
    (batch id, index id) candidate pairs, self-matches dropped."""
    return {
        (r["bid"], r["iid"])
        for r in batch_bands.select(
            F.col("id").alias("bid"), "band_idx", "band_key"
        )
        .join(index.select(F.col("id").alias("iid"), "band_idx", "band_key"),
              ["band_idx", "band_key"])
        .filter(F.col("bid") != F.col("iid"))
        .select("bid", "iid")
        .distinct()
        .collect()
    }


def test_minhash_index_roundtrip_and_incremental_ingest(spark, tmp_path):
    ipath = str(tmp_path / "mh_index")
    day1 = _bands(spark, _DAY1)
    models.save_minhash_index(spark, ipath, day1)

    # day-2 batch: one exact near-dup of doc 1, one novel doc
    day2_rows = [
        (11, "alpha beta gamma delta epsilon zeta eta theta"),
        (12, "completely unrelated novel content words here now"),
    ]
    day2 = _bands(spark, day2_rows)
    expected = _probe(day2, day1)
    assert (11, 1) in expected and all(b != 12 for b, _ in expected)

    # restart: fresh session + handles, probe the RELOADED index
    spark2 = spark.newSession()
    idx = models.load_minhash_index(spark2, ipath)
    day2_b = _bands(spark2, day2_rows)
    assert _probe(day2_b, idx) == expected

    # ingest day 2 into the index; a day-3 dup of doc 12 now matches it
    models.upsert_minhash_index(spark2, ipath, day2_b, batch_id=2)
    idx2 = models.load_minhash_index(spark2, ipath)
    assert idx2.select("id").distinct().count() == 5
    day3 = _bands(spark2, [(21, "completely unrelated novel content words here now")])
    hits = _probe(day3, idx2)
    assert (21, 12) in hits

    # replayed ingest (same batch_id) is a no-op -- exactly-once semantics
    models.upsert_minhash_index(spark2, ipath, day2_b, batch_id=2)
    assert models.load_minhash_index(spark2, ipath).count() == idx2.count()

    # the pre-ingest state stays readable: version 1 has only day-1 ids
    v1 = models.load_minhash_index(spark2, ipath, version=1)
    assert {r["id"] for r in v1.select("id").distinct().collect()} == {1, 2, 3}


def test_ingest_crash_before_ledger_publish_repaired_by_replay(spark, tmp_path):
    """A crash BETWEEN an ingest's table commit and its ledger publish must
    be repaired by the documented recovery path (replay the same batch_id):
    the replayed ingest is a table-level no-op, but the table version is
    AHEAD of the last ledger entry, so the replay publishes the missing
    entry -- without the repair, the committed rows would stay invisible to
    load_* indefinitely (r13 ADVICE, models.py _ledger_behind)."""
    import os

    ipath = str(tmp_path / "mh_crash")
    models.save_minhash_index(spark, ipath, _bands(spark, _DAY1))

    # simulate the crash: the PKTable ingest commits (exactly what
    # upsert_minhash_index does first), then the process dies before
    # _publish_meta -- reproduce by driving the table directly
    day2 = _bands(spark, [(11, "alpha beta gamma delta epsilon zeta eta theta")])
    t = models._table(
        spark, os.path.join(ipath, "bands"), ["id", "band_idx"], ["seq"]
    )
    t.ingest(
        day2.select("id", "band_idx", "band_key",
                    F.lit("I").alias("op"), F.lit(2).cast("long").alias("seq")),
        batch_id=2, writer_id="minhash-ingest",
    )
    # ledger still points at the seed publish: the new rows are invisible
    assert {r["id"] for r in
            models.load_minhash_index(spark, ipath).select("id")
            .distinct().collect()} == {1, 2, 3}

    # recovery: replay the SAME batch_id through the real API -- the table
    # write is an idempotent no-op, but the ledger must be repaired
    v_before = t.current_version()
    models.upsert_minhash_index(spark, ipath, day2, batch_id=2)
    assert t.current_version() == v_before  # no duplicate table commit
    assert {r["id"] for r in
            models.load_minhash_index(spark, ipath).select("id")
            .distinct().collect()} == {1, 2, 3, 11}
    # and the repair is itself idempotent: a second replay adds no entry
    n_pubs = len(models._read_meta(ipath)["publishes"])
    models.upsert_minhash_index(spark, ipath, day2, batch_id=2)
    assert len(models._read_meta(ipath)["publishes"]) == n_pubs


def test_list_model_versions_dispatches_by_type(spark, tmp_path):
    """The registry view dispatches the history subtable from the meta's
    model_type: an index's history comes from bands/codes (NOT a guessed
    'weights' dir -- constructing a PKTable there would seed a spurious
    empty manifest inside the artifact), unknown types raise, and an
    absent artifact raises instead of returning []."""
    import json
    import os

    ipath = str(tmp_path / "mh_registry")
    models.save_minhash_index(spark, ipath, _bands(spark, _DAY1))
    hist = models.list_model_versions(spark, ipath)
    assert len(hist) == 1 and hist[0]["v"] == 1
    assert not os.path.exists(os.path.join(ipath, "weights"))

    with pytest.raises(FileNotFoundError, match="no published model"):
        models.list_model_versions(spark, str(tmp_path / "nowhere"))

    with open(os.path.join(ipath, "meta.json")) as f:
        meta = json.load(f)
    meta["model_type"] = "bogus"
    bpath = str(tmp_path / "bogus_model")
    os.makedirs(bpath)
    with open(os.path.join(bpath, "meta.json"), "w") as f:
        json.dump(meta, f)
    with pytest.raises(ValueError, match="unknown model_type"):
        models.list_model_versions(spark, bpath)


def test_minhash_index_compat_guard(spark, tmp_path, monkeypatch):
    ipath = str(tmp_path / "mh_guard")
    models.save_minhash_index(spark, ipath, _bands(spark, _DAY1[:1]))
    monkeypatch.setattr(dedup, "N_BANDS", 16)
    with pytest.raises(ValueError, match="different featurization.*n_bands"):
        models.load_minhash_index(spark, ipath)


def test_pq_index_roundtrip_serves_identical_topk(spark, sf_dir, tmp_path):
    """Train PQ once, publish, restart, reload, serve: ADC top-k from the
    reloaded (books, codes) equals the in-session search row-for-row --
    the distances are exact BIGINT sums over parquet-exact doubles."""
    from flink_cdc_fluss_quickstart_spark.plans import similarity_queries as sq
    from flink_cdc_fluss_quickstart_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    books, codes = sq.pq_train_index(emb)
    ipath = str(tmp_path / "pq_index")
    models.save_pq_index(spark, ipath, books, codes)
    expected = {
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in sq.pq_adc_topk_frame(emb, books=books, codes=codes).collect()
    }
    assert expected

    spark2 = spark.newSession()
    lb, lc = models.load_pq_index(spark2, ipath)
    emb2 = load_table(spark2, sf_dir, "embeddings")
    got = {
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in sq.pq_adc_topk_frame(emb2, books=lb, codes=lc).collect()
    }
    assert got == expected


def test_pq_index_incremental_ingest(spark, sf_dir, tmp_path):
    """The day-2 path that closes the index lifecycle: train+publish on
    day 1, then encode day-2 vectors with the RELOADED FROZEN codebooks
    (pq_encode_with_books) and merge-ingest their code rows
    (upsert_pq_index). ADC top-k over the merged index equals a
    from-scratch frozen-book encode of the UNION row-for-row, the replayed
    ingest is a no-op, and the pre-ingest publish stays readable."""
    from flink_cdc_fluss_quickstart_spark.plans import similarity_queries as sq
    from flink_cdc_fluss_quickstart_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    day1 = emb.filter(F.col("vec_id") < 400)
    day2 = emb.filter(F.col("vec_id") >= 400)
    books, codes1 = sq.pq_train_index(day1)
    ipath = str(tmp_path / "pq_ingest")
    models.save_pq_index(spark, ipath, books, codes1)

    # restart, reload, encode day 2 with the frozen reloaded books, ingest
    spark2 = spark.newSession()
    lb, lc = models.load_pq_index(spark2, ipath)
    emb2 = load_table(spark2, sf_dir, "embeddings")
    day2_codes = sq.pq_encode_with_books(emb2.filter(F.col("vec_id") >= 400), lb)
    models.upsert_pq_index(spark2, ipath, day2_codes, batch_id=2)

    mb, mc = models.load_pq_index(spark2, ipath)
    assert mc.select("vec_id").distinct().count() == emb2.count()
    got = {
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in sq.pq_adc_topk_frame(emb2, books=mb, codes=mc).collect()
    }
    # from-scratch: encode the WHOLE corpus with the same frozen books
    union_codes = sq.pq_encode_with_books(emb2, lb)
    want = {
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in sq.pq_adc_topk_frame(emb2, books=lb, codes=union_codes).collect()
    }
    assert got == want and got
    # day-2 queries (vec_id % 50 == 0 picks 450) now appear as query ids
    assert any(q >= 400 for (q, _, _) in got)

    # replayed ingest = exactly-once no-op: row count and ledger unchanged
    hist_before = len(models.list_model_versions(spark2, ipath))
    models.upsert_pq_index(spark2, ipath, day2_codes, batch_id=2)
    _, mc2 = models.load_pq_index(spark2, ipath)
    assert mc2.count() == mc.count()
    assert len(models.list_model_versions(spark2, ipath)) == hist_before

    # the pre-ingest publish stays readable: version 1 has only day-1 codes
    _, v1codes = models.load_pq_index(spark2, ipath, version=1)
    assert v1codes.select("vec_id").distinct().count() == 400


def test_publish_versions_resolve_across_compaction_boundary(spark, sf_dir, tmp_path):
    """ingest -> compact -> time-travel composes: compacting an artifact's
    subtables must leave every previously recorded publish loadable (the
    compaction itself lands as a `compaction: true` ledger entry so LATEST
    loads point at post-compaction dirs -- see
    test_compact_artifact_publishes_post_compaction_versions). load_pq_index
    (version=1) still returns the day-1 codes and the latest/versioned
    loads after the boundary equal the pre-compaction union (the model GC
    grace keeps superseded base+delta dirs readable) -- the day-3 step of
    examples/run_model_lifecycle.py."""
    import os

    from flink_cdc_fluss_quickstart_spark.plans import similarity_queries as sq
    from flink_cdc_fluss_quickstart_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    books, codes1 = sq.pq_train_index(emb.filter(F.col("vec_id") < 400))
    ipath = str(tmp_path / "pq_compact")
    models.save_pq_index(spark, ipath, books, codes1)
    lb, _ = models.load_pq_index(spark, ipath)
    day2 = sq.pq_encode_with_books(emb.filter(F.col("vec_id") >= 400), lb)
    models.upsert_pq_index(spark, ipath, day2, batch_id=2)
    _, pre = models.load_pq_index(spark, ipath)
    pre_rows = {(r["vec_id"], r["m"], r["code"]) for r in pre.collect()}

    # the ingest left pending deltas; fold them (a new session does it --
    # the day-3 maintenance job's shape)
    s3 = spark.newSession()
    models.compact_artifact(s3, ipath)
    t = models._table(s3, os.path.join(ipath, "codes"), ["vec_id", "m"],
                      ["vec_id", "m"])
    m = t._read_manifest()
    assert not [k for k in m["buckets"] if "#" in k], "deltas not folded"

    # publish 1 (pre-ingest) and publish 2 (pre-compaction) both resolve
    _, v1 = models.load_pq_index(s3, ipath, version=1)
    assert v1.select("vec_id").distinct().count() == 400
    _, v2 = models.load_pq_index(s3, ipath, version=2)
    assert {(r["vec_id"], r["m"], r["code"]) for r in v2.collect()} == pre_rows
    # the latest load (ledger-resolved) equals it too: compaction changed
    # the table's physical layout, not any published version's content
    _, latest = models.load_pq_index(s3, ipath)
    assert {(r["vec_id"], r["m"], r["code"]) for r in latest.collect()} == pre_rows

    # compact_artifact dispatches by model_type: unknown types raise
    with pytest.raises(ValueError, match="unknown model_type"):
        import json

        bpath = str(tmp_path / "bogus_compact")
        os.makedirs(bpath)
        with open(os.path.join(bpath, "meta.json"), "w") as f:
            json.dump({"model_type": "bogus"}, f)
        models.compact_artifact(s3, bpath)


def test_pq_index_compat_guard(spark, sf_dir, tmp_path, monkeypatch):
    from flink_cdc_fluss_quickstart_spark.plans import similarity_queries as sq
    from flink_cdc_fluss_quickstart_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    books, codes = sq.pq_train_index(emb)
    ipath = str(tmp_path / "pq_guard")
    models.save_pq_index(spark, ipath, books, codes)
    monkeypatch.setattr(sq, "PQ_M", 8)
    with pytest.raises(ValueError, match="different featurization.*pq_m"):
        models.load_pq_index(spark, ipath)


def test_compact_artifact_publishes_post_compaction_versions(spark, tmp_path):
    """r14 ADVICE (medium): compact_artifact must itself publish a ledger
    entry recording the POST-compaction subtable versions. Without it the
    latest ledger entry keeps pointing at pre-compaction versions whose
    superseded dirs are GC-queued; once the grace window expires, a plain
    (latest) load_*() raises 'snapshot expired'. Latest loads must never
    depend on a GC-expirable dir -- proven here by physically deleting
    every superseded dir (GC's end state) and loading."""
    import os
    import shutil

    ipath = str(tmp_path / "mh_gc")
    models.save_minhash_index(spark, ipath, _bands(spark, _DAY1))
    day2 = _bands(spark, [(11, "alpha beta gamma delta epsilon zeta eta theta")])
    models.upsert_minhash_index(spark, ipath, day2, batch_id=2)

    models.compact_artifact(spark, ipath)
    t = models._table(spark, os.path.join(ipath, "bands"), ["id", "band_idx"],
                      ["seq"])
    pubs = models._read_meta(ipath)["publishes"]
    assert pubs[-1].get("compaction") is True
    assert "ingest_batch" not in pubs[-1]
    assert pubs[-1]["versions"]["bands"] == t.current_version()
    # the republished meta keeps the featurization verbatim (compat guard
    # still passes on load below) and the pre-compaction publishes remain
    n_pubs = len(pubs)
    assert [e["publish"] for e in pubs] == list(range(1, n_pubs + 1))

    # a replayed ingest AFTER the compaction publish sees the ledger in
    # sync (table not ahead) -> no duplicate-looking repair entry (the r14
    # ADVICE low finding)
    models.upsert_minhash_index(spark, ipath, day2, batch_id=2)
    assert len(models._read_meta(ipath)["publishes"]) == n_pubs

    # simulate GC past grace: every bucket data dir NOT in the current
    # bucket map dies (map values are nested vN/__bucket=M paths)
    root = os.path.join(ipath, "bands")
    live = {os.path.normpath(os.path.join(root, d))
            for d in t._read_manifest()["buckets"].values()}
    removed = 0
    for vd in os.listdir(root):
        vfull = os.path.join(root, vd)
        if not os.path.isdir(vfull):
            continue
        for bd in os.listdir(vfull):
            sub = os.path.normpath(os.path.join(vfull, bd))
            if os.path.isdir(sub) and sub not in live:
                shutil.rmtree(sub)
                removed += 1
    assert removed, "compaction left no superseded dirs to expire?"
    idx = models.load_minhash_index(spark.newSession(), ipath)
    assert {r["id"] for r in idx.select("id").distinct().collect()} == {1, 2, 3, 11}

    # compacting with nothing pending adds no ledger entry
    models.compact_artifact(spark, ipath)
    assert len(models._read_meta(ipath)["publishes"]) == n_pubs


def test_lifecycle_day4_point_serving_from_published_index(spark, tmp_path):
    """Day-4 of the index lifecycle (r14 verdict item 4): point-serve from
    the PUBLISHED artifact via the ledger-resolved, bucket-pruned
    PKTable.lookup -- in a fresh session, with ingest deltas pending AND
    after compact_artifact, including publish-version time travel. Row
    parity is against the full snapshot load filtered to the probed ids;
    pruning is asserted from the plan's actual input files."""
    import os
    import re

    from flink_cdc_fluss_quickstart_spark.streaming.pk_table import _bucket_expr

    ipath = str(tmp_path / "mh_day4")
    models.save_minhash_index(spark, ipath, _bands(spark, _DAY1))
    day2 = _bands(spark, [
        (11, "alpha beta gamma delta epsilon zeta eta theta"),
        (12, "completely unrelated novel content words here now"),
    ])
    models.upsert_minhash_index(spark, ipath, day2, batch_id=2)

    s2 = spark.newSession()
    ids = [1, 11]

    def rows(df):
        return {(r["id"], r["band_idx"], r["band_key"]) for r in df.collect()}

    want = rows(models.load_minhash_index(s2, ipath).filter(F.col("id").isin(ids)))
    assert want  # both a day-1 and a delta-resident day-2 doc serve
    got_df = models.lookup_minhash_bands(s2, ipath, ids)
    assert rows(got_df) == want

    # bucket pruning through the ledger-resolved artifact: every input
    # file sits in a bucket some probed (id, band_idx) key hashes to
    meta = models._read_meta(ipath)
    nb = models.SERVING_BUCKETS
    probe = s2.createDataFrame(
        [(i, b) for i in ids for b in range(int(meta["n_bands"]))],
        "id bigint, band_idx int",
    )
    wanted = {r["b"] for r in
              probe.select(_bucket_expr(["id", "band_idx"], nb).alias("b"))
              .distinct().collect()}
    assert len(wanted) < nb  # non-vacuous: the probe misses some buckets
    files = got_df.inputFiles()
    assert files
    touched = {int(re.search(r"__bucket=(\d+)", f).group(1)) for f in files}
    assert touched <= wanted, (touched, wanted)

    # publish-version time travel: at publish 1 (pre-ingest) doc 11 has no
    # rows -- and the "no rows" shape is an empty frame, not None
    v1 = models.lookup_minhash_bands(s2, ipath, [11], version=1)
    assert v1.count() == 0
    assert rows(models.lookup_minhash_bands(s2, ipath, [1], version=1)) == rows(
        models.load_minhash_index(s2, ipath, version=1).filter(F.col("id") == 1)
    )

    # day-4 maintenance: compact, then the SAME point reads serve
    # identically (and still pruned) through the compaction publish
    models.compact_artifact(s2, ipath)
    s3 = spark.newSession()
    got3 = models.lookup_minhash_bands(s3, ipath, ids)
    assert rows(got3) == want
    touched3 = {int(re.search(r"__bucket=(\d+)", f).group(1))
                for f in got3.inputFiles()}
    assert touched3 <= wanted


def test_lifecycle_day4_pq_point_serving(spark, sf_dir, tmp_path):
    """The PQ side of day-4: lookup_pq_codes serves a vector's PQ_M code
    rows from the published codes table by vec_id alone (the meta knows
    pq_m), parity with the snapshot load, deltas pending and after the
    fold."""
    from flink_cdc_fluss_quickstart_spark.plans import similarity_queries as sq
    from flink_cdc_fluss_quickstart_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    books, codes1 = sq.pq_train_index(emb.filter(F.col("vec_id") < 400))
    ipath = str(tmp_path / "pq_day4")
    models.save_pq_index(spark, ipath, books, codes1)
    lb, _ = models.load_pq_index(spark, ipath)
    day2 = sq.pq_encode_with_books(emb.filter(F.col("vec_id") >= 400), lb)
    models.upsert_pq_index(spark, ipath, day2, batch_id=2)

    s2 = spark.newSession()
    vec_ids = [7, 450]  # one base-resident, one delta-resident vector

    def rows(df):
        return {(r["vec_id"], r["m"], r["code"]) for r in df.collect()}

    _, all_codes = models.load_pq_index(s2, ipath)
    want = rows(all_codes.filter(F.col("vec_id").isin(vec_ids)))
    pq_m = int(models._read_meta(ipath)["pq_m"])
    assert len(want) == len(vec_ids) * pq_m
    assert rows(models.lookup_pq_codes(s2, ipath, vec_ids)) == want

    models.compact_artifact(s2, ipath)
    assert rows(models.lookup_pq_codes(spark.newSession(), ipath, vec_ids)) == want
    # absent vector: zero-row frame in the serving schema
    none_df = models.lookup_pq_codes(s2, ipath, [999999])
    assert none_df.count() == 0 and none_df.columns == ["vec_id", "m", "code", "d2"]
