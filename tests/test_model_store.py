"""Trained-model persistence: fit -> save (PKTable) -> RESTART -> load ->
serve, bit-identically.

The reference stack's only durable state is the lakehouse (reference
README.md:81-95); these tests prove the trained classifier models survive
the session that fit them with the same warehouse guarantees every other
table gets -- atomic publish, versioned rollback, fencing -- and that a
reloaded model serves scores bit-identical to the fitting session (the
cross-engine determinism contract extended across a restart).

"Restart" here = ``spark.newSession()`` + fresh PKTable handles: new
session state, new catalog, no shared temp views or cached plans -- the
strongest restart a single-JVM test host can express (the on-disk bytes
are the same ones a genuinely new process would read)."""

from __future__ import annotations

import os

import pandas as pd
import pyspark.sql.functions as F
import pytest

from flink_cdc_fluss_quickstart_spark import models
from flink_cdc_fluss_quickstart_spark.plans import text_queries as tq


def _marker_corpus(spark, n_per_lang: int = 20, shift: int = 0):
    rows = []
    for i in range(n_per_lang):
        mk = [f"enmark{(i + shift + k) % 10}" for k in range(3)]
        rows.append((i, " ".join(["filler common soup word"] * 3 + mk * 4), "en"))
    for i in range(n_per_lang, 2 * n_per_lang):
        mk = [f"demark{(i + shift + k) % 10}" for k in range(3)]
        rows.append((i, " ".join(["filler common soup word"] * 3 + mk * 4), "de"))
    return spark.createDataFrame(rows, "doc_id bigint, text string, lang string")


_SERVE = [
    (100, "filler common enmark1 enmark4 enmark7 extra"),
    (101, "demark2 demark5 word demark8 soup"),
    (102, "enmark0 enmark0 brand new doc"),
    (103, "   "),
]


def _scores(df) -> dict:
    return {r["doc_id"]: (r["score_micro"], r["predicted"]) for r in df.collect()}


def test_langid_model_roundtrip_bit_identical(spark, tmp_path):
    """fit -> save -> newSession + fresh handles -> load -> score: every
    score_micro (the floor-quantized sigmoid, an exact integer) matches the
    fitting session exactly. Integer equality here IS bit-identity: the
    weights are the only floats, they round-trip exactly through parquet,
    and the scoring algebra over them is exact-integer sums."""
    d = _marker_corpus(spark)
    weights, hot = tq.hashed_langid_fit(d)
    mpath = str(tmp_path / "langid_model")
    models.save_langid_model(spark, mpath, weights, hot)

    batch = spark.createDataFrame(_SERVE, "doc_id bigint, text string")
    expected = _scores(tq.hashed_langid_score(batch, weights, hot))
    assert expected[100][1] is True and expected[101][1] is False

    # restart: new session state, new PKTable handles, nothing shared but disk
    spark2 = spark.newSession()
    w2, h2 = models.load_langid_model(spark2, mpath)
    batch2 = spark2.createDataFrame(_SERVE, "doc_id bigint, text string")
    got = _scores(tq.hashed_langid_score(batch2, w2, h2))
    assert got == expected


def test_langid_model_versions_roll_back(spark, tmp_path):
    """Two published fits = two PKTable versions; version 1 still serves the
    FIRST model's exact scores after the second publish (instant rollback of
    a bad fit -- the lakehouse time-travel surface applied to models)."""
    mpath = str(tmp_path / "langid_versions")
    w1, h1 = tq.hashed_langid_fit(_marker_corpus(spark))
    models.save_langid_model(spark, mpath, w1, h1)
    batch = spark.createDataFrame(_SERVE, "doc_id bigint, text string")
    first = _scores(tq.hashed_langid_score(batch, w1, h1))

    # a genuinely different second fit: different corpus SIZE changes n,
    # the df cap, and every gradient denominator (a pure marker shift would
    # not -- per-class gram totals are permutation-invariant)
    w2, h2 = tq.hashed_langid_fit(_marker_corpus(spark, n_per_lang=12))
    models.save_langid_model(spark, mpath, w2, h2)

    spark2 = spark.newSession()
    batch2 = spark2.createDataFrame(_SERVE, "doc_id bigint, text string")
    wl, hl = models.load_langid_model(spark2, mpath)  # latest = second fit
    latest = _scores(tq.hashed_langid_score(batch2, wl, hl))
    wo, ho = models.load_langid_model(spark2, mpath, version=1)
    old = _scores(tq.hashed_langid_score(batch2, wo, ho))
    assert old == first
    assert set(latest) == set(old)  # same serve docs, both models score all
    # the two fits saw different marker alignments; their weight tables differ
    assert {r["b"]: r["w"] for r in wo.collect()} != {
        r["b"]: r["w"] for r in wl.collect()
    }
    hist = models.list_model_versions(spark2, mpath)
    assert len(hist) >= 2


def test_langid_publish_atomic_across_tables(spark, tmp_path):
    """A crash between a save's two table commits must leave the previous
    COMPLETE publish in force: load resolves versions through the meta
    ledger (swapped last, atomically), so new weights are never paired
    with an old hot list -- and a later complete save repairs the skewed
    version counters without intervention."""
    mpath = str(tmp_path / "langid_atomic")
    w1, h1 = tq.hashed_langid_fit(_marker_corpus(spark))
    models.save_langid_model(spark, mpath, w1, h1)
    batch = spark.createDataFrame(_SERVE, "doc_id bigint, text string")
    first = _scores(tq.hashed_langid_score(batch, w1, h1))

    # simulate the crash: the second fit's WEIGHTS overwrite commits, then
    # the trainer dies before the hot overwrite and the meta swap
    w2, h2 = tq.hashed_langid_fit(_marker_corpus(spark, n_per_lang=12))
    wt = models._table(spark, os.path.join(mpath, "weights"), ["b"], ["b"])
    wt.overwrite(w2.select("b", "w"))
    assert wt.current_version() == 2  # the table really did advance

    spark2 = spark.newSession()
    wl, hl = models.load_langid_model(spark2, mpath)
    batch2 = spark2.createDataFrame(_SERVE, "doc_id bigint, text string")
    # the half-written publish is invisible: still the first model's scores
    assert _scores(tq.hashed_langid_score(batch2, wl, hl)) == first

    # a subsequent COMPLETE save repairs the skew (weights jump to v3,
    # hot to v2 -- the ledger records the pair, so load stays consistent)
    models.save_langid_model(spark2, mpath, w2, h2)
    wr, hr = models.load_langid_model(spark2, mpath)
    second = _scores(tq.hashed_langid_score(batch2, wr, hr))
    assert second == _scores(tq.hashed_langid_score(batch2, w2, h2))
    # and rollback to publish 1 still serves the first model exactly
    wo, ho = models.load_langid_model(spark2, mpath, version=1)
    assert _scores(tq.hashed_langid_score(batch2, wo, ho)) == first


def test_logreg_rollback_restores_paired_n(spark, sf_dir, tmp_path):
    """n / train_bucket are model state that must pair with the coef rows:
    rolling back to publish 1 restores THAT fit's n, not the latest
    meta's -- old coefficients under a new n would silently skew scores."""
    from flink_cdc_fluss_quickstart_spark.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    m1 = tq.logreg_fit(d.filter(F.col("doc_id") % 2 == 0))
    mpath = str(tmp_path / "logreg_paired")
    models.save_logreg_model(spark, mpath, m1)
    m2 = tq.logreg_fit(d)
    models.save_logreg_model(spark, mpath, m2)
    assert m1.n != m2.n  # the rollback has to actually change n

    spark2 = spark.newSession()
    old = models.load_logreg_model(spark2, mpath, version=1)
    assert old.n == m1.n and old.w == m1.w and old.train_bucket == m1.train_bucket
    latest = models.load_logreg_model(spark2, mpath)
    assert latest.n == m2.n and latest.w == m2.w


def test_langid_model_compat_guard(spark, tmp_path, monkeypatch):
    """A model trained under one featurization must refuse to serve under
    another: mismatched bucket count would silently mis-route every gram."""
    mpath = str(tmp_path / "langid_guard")
    w, h = tq.hashed_langid_fit(_marker_corpus(spark, n_per_lang=5))
    models.save_langid_model(spark, mpath, w, h)
    monkeypatch.setattr(tq, "HLR_BUCKETS", 2048)
    with pytest.raises(ValueError, match="different featurization.*buckets"):
        models.load_langid_model(spark, mpath)


def test_logreg_model_roundtrip_bit_identical(spark, sf_dir, tmp_path):
    """The driver-sized model: every one of the 15 doubles reloads with
    the exact same bits (== on floats IS bitwise for non-NaN), and serving
    the corpus from the restarted session reproduces every score_micro."""
    from flink_cdc_fluss_quickstart_spark.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    model = tq.logreg_fit(d)
    mpath = str(tmp_path / "logreg_model")
    models.save_logreg_model(spark, mpath, model)
    expected = _scores(tq.logreg_score(d, model))

    spark2 = spark.newSession()
    m2 = models.load_logreg_model(spark2, mpath)
    assert m2.w == model.w and m2.m == model.m and m2.sd == model.sd
    assert m2.n == model.n and m2.train_bucket == model.train_bucket
    d2 = load_table(spark2, sf_dir, "documents")
    assert _scores(tq.logreg_score(d2, m2)) == expected


def test_logreg_model_compat_guard(spark, tmp_path, monkeypatch):
    mpath = str(tmp_path / "logreg_guard")
    model = tq.LogregModel((0.0,) * 5, (0.0,) * 5, (1.0,) * 5, 10, None)
    models.save_logreg_model(spark, mpath, model)
    monkeypatch.setattr(tq, "LOGREG_LONG_LEN", 7)
    with pytest.raises(ValueError, match="different featurization.*long_len"):
        models.load_logreg_model(spark, mpath)


def test_reloaded_langid_model_serves_stream_micro_batches(spark, tmp_path):
    """The full lifecycle the verdict asked for: fit, publish, restart,
    reload, then score a STREAM micro-batch by micro-batch with the
    reloaded broadcast state -- emitted scores equal the fitting session's
    batch scores exactly, however the stream is batched."""
    d = _marker_corpus(spark)
    weights, hot = tq.hashed_langid_fit(d)
    mpath = str(tmp_path / "langid_stream")
    models.save_langid_model(spark, mpath, weights, hot)
    batch = spark.createDataFrame(_SERVE, "doc_id bigint, text string")
    expected = _scores(tq.hashed_langid_score(batch, weights, hot))

    spark2 = spark.newSession()
    w2, h2 = models.load_langid_model(spark2, mpath)
    # pin the reloaded frames once: serving state, not a per-batch rescan
    w2, h2 = w2.localCheckpoint(), h2.localCheckpoint()

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    os.makedirs(src)
    for name, rows in (("e1", _SERVE[:2]), ("e2", _SERVE[2:])):
        pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(
            os.path.join(src, f"{name}.parquet"), index=False
        )
    emitted = {}

    def fb(batch_df, batch_id):
        for r in tq.hashed_langid_score(batch_df, w2, h2).collect():
            emitted[r["doc_id"]] = (r["score_micro"], r["predicted"])

    q = (
        spark2.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(fb)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300), "reloaded-model scoring stream did not drain"
    assert emitted == expected


def test_multiclass_langid_model_roundtrip(spark, tmp_path):
    """The one-vs-rest (b, cls, w) frame persists and serves across a
    restart: identical argmax predictions and exact zm scores."""
    rows = []
    for li, lang in enumerate(("en", "de", "fr")):
        for i in range(10):
            mk = [f"{lang}mark{(i + k) % 8}" for k in range(3)]
            rows.append(
                (li * 100 + i, " ".join(["filler common soup word"] * 3 + mk * 4), lang)
            )
    d = spark.createDataFrame(rows, "doc_id bigint, text string, lang string")
    weights, hot = tq.hashed_langid_multiclass_fit(d)
    mpath = str(tmp_path / "mc_model")
    models.save_langid_model(spark, mpath, weights, hot, classes=True)

    serve = spark.createDataFrame(
        [(900, "filler enmark1 enmark4 common"), (901, "demark0 demark2 soup"),
         (902, "frmark3 frmark6 word")],
        "doc_id bigint, text string")
    expected = {(r["doc_id"], r["predicted"], r["zm_micro"])
                for r in tq.hashed_langid_multiclass_score(serve, weights, hot).collect()}

    spark2 = spark.newSession()
    w2, h2 = models.load_langid_model(spark2, mpath)
    assert w2.columns == ["b", "cls", "w"]
    serve2 = spark2.createDataFrame(
        [(900, "filler enmark1 enmark4 common"), (901, "demark0 demark2 soup"),
         (902, "frmark3 frmark6 word")],
        "doc_id bigint, text string")
    got = {(r["doc_id"], r["predicted"], r["zm_micro"])
           for r in tq.hashed_langid_multiclass_score(serve2, w2, h2).collect()}
    assert got == expected
    assert {p for (_, p, _) in got} == {"en", "de", "fr"}


def test_drift_vs_persisted_baseline_across_restart(spark, sf_dir, tmp_path):
    """The production drift loop: the validation-time score histogram is
    PUBLISHED with the model (one ledger entry -- they roll back together),
    and a later serving session PSI-compares its scores against the STORED
    reference. Day 2 of the same distribution stays under the 0.1
    'investigate' threshold; a planted degenerate-junk shift blows past the
    0.25 'act' threshold -- both measured across a session restart."""
    import math

    from flink_cdc_fluss_quickstart_spark.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    model = tq.logreg_fit(d)
    baseline = tq.score_bin_counts(tq.logreg_score(d, model))
    mpath = str(tmp_path / "drift_base")
    models.save_logreg_model(spark, mpath, model, baseline=baseline)

    spark2 = spark.newSession()
    m2 = models.load_logreg_model(spark2, mpath)
    ref = models.load_score_baseline(spark2, mpath)
    assert {r["bin"] for r in ref.collect()} == set(range(tq.DRIFT_BINS))
    d2 = load_table(spark2, sf_dir, "documents")

    def psi_ln(report):
        return sum(r["psi_contrib"] for r in report.collect()) / 4e6 * math.log(2)

    # same distribution served on day 2 -> quiet monitor
    quiet = tq.score_drift_vs_baseline_frame(tq.logreg_score(d2, m2), ref)
    assert psi_ln(quiet) < 0.1

    # planted shift: a batch of degenerate short junk docs
    junk = spark2.createDataFrame(
        [(100_000 + i, "zz!! qq@@ xx## vv$$") for i in range(400)],
        "doc_id bigint, text string",
    )
    shifted = tq.score_drift_vs_baseline_frame(tq.logreg_score(junk, m2), ref)
    assert psi_ln(shifted) > 0.25

    # a model saved WITHOUT a baseline refuses the comparison explicitly
    mpath2 = str(tmp_path / "no_base")
    models.save_logreg_model(spark2, mpath2, model)
    with pytest.raises(ValueError, match="without a baseline"):
        models.load_score_baseline(spark2, mpath2)


def test_drift_bins_accumulate_streaming_equals_batch(spark, sf_dir, tmp_path):
    """The drift monitor's streaming deployment shape: score arriving docs
    per micro-batch with the PERSISTED model, bin each score into the fixed
    deciles, and add the counts -- integer bin counts are mergeable state
    (the Count-Min/quantile-histogram precedent), so the accumulated
    histogram must equal the one-shot batch histogram of the same docs.
    Ties persistence + serving + monitoring into one proof."""
    from flink_cdc_fluss_quickstart_spark.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    model = tq.logreg_fit(d)
    mpath = str(tmp_path / "drift_model")
    models.save_logreg_model(spark, mpath, model)

    spark2 = spark.newSession()
    m2 = models.load_logreg_model(spark2, mpath)
    d2 = load_table(spark2, sf_dir, "documents")

    width = tq.LOGREG_SCALE // tq.DRIFT_BINS

    def bins_of(rows):
        out = {}
        for r in rows:
            b = min(r["score_micro"] // width, tq.DRIFT_BINS - 1)
            out[b] = out.get(b, 0) + 1
        return out

    batch_bins = bins_of(tq.logreg_score(d2, m2).collect())

    # "stream": the same corpus arriving in 7 deterministic micro-batches
    acc = {}
    for part in range(7):
        mb = d2.filter(F.col("doc_id") % 7 == part)
        for b, n in bins_of(tq.logreg_score(mb, m2).collect()).items():
            acc[b] = acc.get(b, 0) + n
    assert acc == batch_bins
    assert sum(acc.values()) == d2.count()
