"""Semantic unit tests for the round-7 corpus operators on PLANTED inputs:
the registered-query oracle tests prove engine parity on the synthetic
corpus; these prove the operators compute the intended *semantics* on
corpora constructed to have known answers (the synthetic documents table has
near-zero label signal, so e.g. classifier accuracy is only assertable on a
planted fixture). Each test drives the SAME frame-level function the
registered query calls (span_dedup_frame / nb_score_frame / novelty_frame)."""

from __future__ import annotations

import pyspark.sql.functions as F
from conftest import count_jobs

from flink_cdc_fluss_quickstart_spark.plans import text_queries as tq


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _span_dedup_on(spark, rows):
    return {r["doc_id"]: r.asDict() for r in tq.span_dedup_frame(_docs(spark, rows)).collect()}


def _fill(prefix, n):
    return " ".join(f"{prefix}{i}" for i in range(n))


def test_span_dedup_removes_copy_keeps_first(spark):
    k = tq.SPAN_K
    span = " ".join(f"s{i}" for i in range(k))  # exactly one duplicated span
    rows = [
        (1, span + " " + _fill("a", 4)),  # first occurrence: kept
        (2, _fill("b", 4) + " " + span),  # later copy: span removed
    ]
    res = _span_dedup_on(spark, rows)
    assert res[1]["n_removed"] == 0
    assert res[1]["clean_text"] == rows[0][1]
    assert res[2]["n_removed"] == k
    assert res[2]["clean_text"] == _fill("b", 4)


def test_span_dedup_short_docs_and_uniques_unchanged(spark):
    rows = [
        (1, _fill("a", tq.SPAN_K - 1)),  # shorter than K: no grams
        (2, _fill("b", 3 * tq.SPAN_K)),  # unique content
    ]
    res = _span_dedup_on(spark, rows)
    for doc_id, text in rows:
        assert res[doc_id]["n_removed"] == 0
        assert res[doc_id]["clean_text"] == text


def test_span_dedup_within_doc_repeat(spark):
    k = tq.SPAN_K
    span = " ".join(f"r{i}" for i in range(k))
    # the same span twice inside ONE doc, separated by unique filler: the
    # first occurrence is the global keeper, the second is removed
    rows = [(7, span + " " + _fill("m", k) + " " + span)]
    res = _span_dedup_on(spark, rows)
    assert res[7]["n_removed"] == k
    assert res[7]["clean_text"] == span + " " + _fill("m", k)


def test_span_dedup_token_conservation(spark):
    k = tq.SPAN_K
    span = " ".join(f"c{i}" for i in range(k + 3))  # overlapping dup grams
    rows = [
        (1, span + " " + _fill("x", 5)),
        (2, span + " " + _fill("y", 5)),
        (3, _fill("z", 2 * k)),
    ]
    res = _span_dedup_on(spark, rows)
    for doc_id, text in rows:
        row = res[doc_id]
        n_clean = len(row["clean_text"].split()) if row["clean_text"] else 0
        assert row["n_tokens"] == len(text.split())
        assert row["n_tokens"] - row["n_removed"] == n_clean


def test_nb_planted_signal_classifies_correctly(spark):
    """Positive docs draw from one token set, negatives from a disjoint one,
    plus shared filler: quarter-bit NB must recover the labels exactly and
    produce opposite-sign scores."""
    pos_tok, neg_tok, shared = _fill("p", 6), _fill("q", 6), _fill("s", 4)
    rows = []
    for i in range(8):
        rows.append((i, True, f"{pos_tok} {shared}"))
        rows.append((100 + i, False, f"{neg_tok} {shared}"))
    docs = spark.createDataFrame(rows, "doc_id bigint, lbl boolean, text string").select(
        "doc_id", "lbl", F.split("text", " ").alias("tk")
    )
    out = {r["doc_id"]: r.asDict() for r in tq.nb_score_frame(docs).collect()}
    assert len(out) == 16
    for doc_id, row in out.items():
        assert row["pred_positive"] == row["weak_label"], row
        if row["weak_label"]:
            assert row["nb_logodds_qbits"] > 0
        else:
            assert row["nb_logodds_qbits"] < 0


def test_qlog4_matches_float_log2():
    """floor(4*log2 x) from the integer expression vs math.log2, over small
    values (exact region), the mantissa boundary, and large values (shifted
    region). Above the 15-bit mantissa the truncated value may land one
    quarter-bit below the float answer (mantissa truncation), never above."""
    import math

    import duckdb

    con = duckdb.connect()
    xs = (
        list(range(1, 70))
        + [2**15 - 1, 2**15, 2**15 + 1, 10**6, 10**9, 10**12, 2**40 + 12345]
    )
    expr = tq._qlog4("x", "duck")
    for x in xs:
        (got,) = con.execute(f"SELECT {expr} FROM (SELECT {x}::BIGINT AS x)").fetchone()
        want = math.floor(4 * math.log2(x))
        assert want - 1 <= got <= want, (x, got, want)
        if x < 2**15:
            assert got == want, (x, got, want)


def test_novelty_duplicate_doc_scores_zero(spark):
    k = tq.NOVELTY_K
    base = _fill("n", 3 * k)
    d = _docs(spark, [(1, base), (2, base), (3, _fill("u", 3 * k))])
    out = {r["doc_id"]: r.asDict() for r in tq.novelty_frame(d).collect()}
    assert out[1]["novelty"] == 1.0  # first occurrence of every gram
    assert out[2]["novelty"] == 0.0  # exact duplicate of doc 1
    assert out[3]["novelty"] == 1.0  # disjoint vocabulary
    assert out[1]["n_grams"] == 2 * k + 1  # 3k tokens -> 2k+1 distinct grams


def test_span_dedup_incremental_semantics(spark):
    """Batch docs (doc_id % SPAN_BATCH_MOD == 0) lose spans already in the
    index corpus (ALL batch occurrences -- the keeper lives in the index)
    and batch-internal repeats (all but the batch keeper); index docs are
    not rewritten or emitted."""
    k, mod = tq.SPAN_K, tq.SPAN_BATCH_MOD
    idx_span = " ".join(f"i{j}" for j in range(k))
    new_span = " ".join(f"w{j}" for j in range(k))
    rows = [
        (1, idx_span + " " + _fill("a", 4)),  # index doc holding idx_span
        (2, _fill("b", 3 * k)),  # unrelated index doc
        # batch docs (ids divisible by mod):
        (mod, idx_span + " " + _fill("c", 4)),  # copy of an indexed span
        (2 * mod, new_span + " " + _fill("d", 4)),  # first batch occurrence
        (3 * mod, _fill("e", 4) + " " + new_span),  # batch-internal repeat
        (4 * mod, _fill("f", 2 * k)),  # fresh content
    ]
    out = {
        r["doc_id"]: r.asDict()
        for r in tq.span_dedup_incremental_frame(_docs(spark, rows)).collect()
    }
    assert set(out) == {mod, 2 * mod, 3 * mod, 4 * mod}  # batch only
    assert out[mod]["n_removed"] == k  # indexed span: every batch copy goes
    assert out[mod]["clean_text"] == _fill("c", 4)
    assert out[2 * mod]["n_removed"] == 0  # batch keeper survives
    assert out[2 * mod]["clean_text"] == rows[3][1]
    assert out[3 * mod]["n_removed"] == k  # non-keeper batch repeat goes
    assert out[3 * mod]["clean_text"] == _fill("e", 4)
    assert out[4 * mod]["n_removed"] == 0


# --- C4 cleaning filter (c4_flags_frame) ------------------------------------
# The synthetic corpus is single-line unpunctuated text (every doc trivially
# fails C4), so the oracle-parity test alone cannot exercise the line rules;
# these planted pages do.


def _c4_on(spark, rows):
    return {r["doc_id"]: r.asDict() for r in tq.c4_flags_frame(_docs(spark, rows)).collect()}


def test_c4_line_retention_rules(spark):
    page = "\n".join(
        [
            "This line ends with a period and has words.",  # kept
            "Short stop.",  # dropped: < 3 words
            "No terminal punctuation here",  # dropped: no end punct
            "Please enable javascript to continue reading.",  # dropped: javascript
            'He said "stop right there!" and then "fine."',  # kept: ends with quote
            "Another good sentence appears right here!",  # kept
        ]
    )
    res = _c4_on(spark, [(1, page)])[1]
    assert res["n_lines"] == 6
    assert res["n_kept_lines"] == 3
    # sentences = terminal punctuation marks inside kept lines only
    assert res["n_sentences"] == 4  # 1 + (2 inside quotes) + 1
    assert res["pass_c4"] is True


def test_c4_page_level_flags(spark):
    good = "One solid sentence right here.\nAnd a second one follows now.\nA third sentence closes it."
    res = _c4_on(
        spark,
        [
            (1, good),
            (2, good + "\nAlso some lorem ipsum filler text appears."),
            (3, good + "\nvar x = {a: 1} leaked code."),
            (4, "Only one good sentence lives here.\nshort\nnothing"),
        ],
    )
    assert res[1]["pass_c4"] is True
    assert res[2]["has_lorem_ipsum"] and not res[2]["pass_c4"]
    assert res[3]["has_curly_brace"] and not res[3]["pass_c4"]
    assert res[4]["n_sentences"] == 1 and not res[4]["pass_c4"]


def test_c4_clean_token_count(spark):
    res = _c4_on(spark, [(1, "Keep these four words.\ndrop me\nKeep another three here.")])[1]
    assert res["n_clean_tokens"] == 8
    assert res["n_kept_lines"] == 2


# --- distinct-count sketch (distinct_sketch_frame) --------------------------
# The synthetic corpus has ~31 distinct tokens per language -- far below the
# sketch's 64 sub-streams, i.e. the small-n regime where the estimator is
# expectedly coarse. These planted vocabularies exercise the regime the
# sketch exists for (n >> sub-streams) and its defining invariant.


def _occ(spark, specs):
    """specs: list of (group, n_distinct, repeats)."""
    import pyspark.sql.functions as FF

    parts = [
        spark.range(n * rep).select(
            FF.lit(g).alias("g"),
            FF.concat(FF.lit(f"{g}_tok"), (FF.col("id") % n).cast("string")).alias("v"),
        )
        for g, n, rep in specs
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.union(p)
    return out


def test_distinct_sketch_accuracy_large_n(spark):
    res = {
        r["g"]: r.asDict()
        for r in tq.distinct_sketch_frame(
            _occ(spark, [("A", 5000, 3), ("B", 1000, 5)]), "g", "v"
        ).collect()
    }
    # relative std of the estimator is ~1/sqrt(64) = 12.5%; the draws are
    # deterministic (fixed md5 hashes), so these bound the ACTUAL errors
    # (A: ~ -1.6%, B: ~ +29.6%, a 2.4-sigma draw) with headroom for future
    # Spark string-plan changes, not a probabilistic claim
    assert abs(res["A"]["distinct_estimate"] / 5000 - 1) < 0.15
    assert abs(res["B"]["distinct_estimate"] / 1000 - 1) < 0.4


def test_distinct_sketch_duplicate_invariance(spark):
    # the sketch state is min-per-sub-stream, so multiplicity cannot move it
    once = tq.distinct_sketch_frame(_occ(spark, [("A", 300, 1)]), "g", "v").collect()
    many = tq.distinct_sketch_frame(_occ(spark, [("A", 300, 17)]), "g", "v").collect()
    assert once[0].asDict() == many[0].asDict()


# --- Count-Min sketch (cm_heavy_hitters_frame) ------------------------------
# The synthetic vocabulary (~31 tokens) is far below the 512-counter width,
# so the registered query sees zero collisions; this planted Zipf-ish corpus
# forces collisions (width 32 << 500 distinct tokens) to exercise the
# sketch's defining properties.


def _zipf_occ(spark):
    import pyspark.sql.functions as FF

    # token t_i appears floor(3000 / (i + 1)) times, i in [0, 500)
    return (
        spark.range(500)
        .select(
            FF.concat(FF.lit("t"), FF.col("id").cast("string")).alias("tok"),
            FF.floor(3000 / (FF.col("id") + 1)).cast("int").alias("n"),
        )
        .select(FF.expr("explode(array_repeat(tok, n))").alias("tok"))
    )


def test_cm_never_undercounts_and_finds_head(spark):
    occ = _zipf_occ(spark)
    res = tq.cm_heavy_hitters_frame(occ, "tok", depth=4, width=32, k=20).collect()
    assert all(r["overcount"] >= 0 for r in res)  # CMS can only overcount
    top_tokens = [r["tok"] for r in res[:5]]
    assert "t0" in top_tokens and "t1" in top_tokens  # true head survives
    # overcount bound: e * N / width, N = sum of counts
    n_total = 3000 * sum(1 / (i + 1) for i in range(500))
    assert max(r["overcount"] for r in res) <= 2.72 * n_total / 32


def test_cm_depth_tightens_estimates(spark):
    occ = _zipf_occ(spark)
    d4 = {r["tok"]: r["cm_estimate"] for r in tq.cm_heavy_hitters_frame(occ, "tok", 4, 32, 500).collect()}
    d1 = {r["tok"]: r["cm_estimate"] for r in tq.cm_heavy_hitters_frame(occ, "tok", 1, 32, 500).collect()}
    assert all(d4[t] <= d1[t] for t in d4)  # min over more rows never worse
    assert sum(d4[t] for t in d4) < sum(d1[t] for t in d1)  # strictly better somewhere


# --- TextRank (textrank_frame) ----------------------------------------------


def test_textrank_hub_outranks_periphery(spark):
    # star graph: "hub" co-occurs with 8 distinct words that only ever
    # touch the hub -> hub must take the top centrality slot
    rows = [(i, f"hub spoke{i}") for i in range(8)]
    res = tq.textrank_frame(_docs(spark, rows)).collect()
    assert res[0]["word"] == "hub"
    assert res[0]["degree"] == 8
    assert all(r["score_micro"] < res[0]["score_micro"] for r in res[1:])
    spokes = {r["score_micro"] for r in res if r["word"] != "hub"}
    assert len(spokes) == 1  # symmetric periphery scores identically


def test_textrank_ring_is_uniform(spark):
    # a ring a0-a1-...-a5-a0: perfectly symmetric, every score equal
    rows = [(i, f"a{i} a{(i + 1) % 6}") for i in range(6)]
    res = tq.textrank_frame(_docs(spark, rows)).collect()
    assert len(res) == 6
    assert len({r["score_micro"] for r in res}) == 1
    assert all(r["degree"] == 2 for r in res)


def test_textrank_bridging_word_beats_frequent_word(spark):
    # "bridge" appears 4 times but in 4 DIFFERENT contexts; "common" appears
    # 8 times always next to the same word -- centrality must prefer bridge
    rows = [(i, f"bridge ctx{i}") for i in range(4)]
    rows += [(100 + i, "common partner") for i in range(8)]
    res = {r["word"]: r for r in tq.textrank_frame(_docs(spark, rows)).collect()}
    assert res["bridge"]["score_micro"] > res["common"]["score_micro"]


# --- multimodal perceptual-hash dedup (perceptual_hash / phash_pairs) -------
# The synthetic corpus has zero normalized-equal payloads below sf0.1, so the
# registered query's oracle parity runs on (correctly) empty pair sets; these
# planted payloads prove the pair semantics end-to-end through the same
# mapInPandas -> banding -> Hamming pipeline.


def test_phash_formatting_variants_pair_up(spark):
    from flink_cdc_fluss_quickstart_spark.functions import multimodal as mm

    rows = [
        (1, "The Quick, Brown Fox!!"),
        (2, "the quick brown fox"),  # case/punct variant of 1 -> same phash
        (3, "THE   QUICK  BROWN FOX."),  # whitespace variant -> same phash
        (4, "a completely different payload"),
    ]
    frame = mm.attach_payload(_docs(spark, rows))
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in mm.phash_pairs(mm.perceptual_hash(frame)).collect()
    }
    assert set(pairs) == {(1, 2), (1, 3), (2, 3)}
    assert all(h == 0 for h in pairs.values())


# Real-mode pHash fixture: mode="real" runs the actual 8x8-DCT median-hash
# recipe (raster -> 2-D DCT-II -> low block -> DC-excluded median threshold);
# only the bytes->raster step stands in for an image decoder. The planted
# payloads pin what DCT pHash actually promises: exact dup -> identical hash,
# a small local edit -> few low-frequency bits flip, a global byte shift
# (case-flip ~ brightness) -> absorbed by the DC-excluded median, an
# unrelated payload -> far outside the accept radius.
_PH_BASE = (
    "the spark engine rewrites every query plan before running it, "
    "pushing filters into the scan and pruning columns the join never reads, "
    "so the shuffle moves only the narrow rows the aggregate actually needs"
)
_PH_OTHER = (
    "a completely unrelated payload describing image codecs, frame "
    "sampling windows, chroma subsampling and audio fingerprint grids "
    "with none of the original document structure or byte layout"
)


def test_phash_real_dct_invariances(spark):
    from flink_cdc_fluss_quickstart_spark.functions import multimodal as mm

    rows = [
        (1, _PH_BASE),
        (2, _PH_BASE),                                   # exact dup
        (3, _PH_BASE.replace("narrow", "padded", 1)),    # same-length local edit
        (4, _PH_BASE.upper()),                           # global byte shift
        (5, _PH_OTHER),                                  # unrelated
    ]
    frame = mm.attach_payload(_docs(spark, rows))
    hashes = {
        r["doc_id"]: int(r["phash"], 16)
        for r in mm.perceptual_hash(frame, mode="real").collect()
    }
    ham = lambda a, b: bin(hashes[a] ^ hashes[b]).count("1")  # noqa: E731
    assert ham(1, 2) == 0
    assert ham(1, 3) <= mm.PHASH_HAMMING_MAX
    assert ham(1, 4) <= mm.PHASH_HAMMING_MAX
    assert ham(1, 5) > mm.PHASH_HAMMING_MAX

    # the same band-join pair pipeline the stamped query runs, on real hashes:
    # dup/edit/case variants pair with the base, the unrelated payload never
    pairs = {
        (r["id_a"], r["id_b"])
        for r in mm.phash_pairs(mm.perceptual_hash(frame, mode="real")).collect()
    }
    assert (1, 2) in pairs and (1, 3) in pairs and (1, 4) in pairs
    assert not any(5 in p for p in pairs)


def test_phash_real_mode_batch_math_is_deterministic():
    """phash_real_batch is pure numpy -- same payloads, same hashes, and the
    batched matmul path equals the one-payload path (no cross-row bleed)."""
    from flink_cdc_fluss_quickstart_spark.functions import multimodal as mm

    payloads = [_PH_BASE.encode(), _PH_OTHER.encode(), b"", b"x"]
    batch = mm.phash_real_batch(payloads)
    assert batch == mm.phash_real_batch(payloads)
    assert batch == [mm.phash_real_batch([p])[0] for p in payloads]
    assert all(len(h) == 16 for h in batch)


# --- product quantization (pq_codes_frame / pq_adc_topk_frame) --------------
# The synthetic embeddings are near-isotropic, so the oracle-parity test
# proves arithmetic but not PQ's defining behavior; this planted 16-prototype
# corpus makes the codebooks exact, pinning the semantics.


def _proto_corpus(spark):
    import pyspark.sql.functions as FF

    from flink_cdc_fluss_quickstart_spark.plans import similarity_queries as sq

    # 16 distinct 64-dim prototypes (i*5 mod 17 is injective over i<16, so
    # prototypes differ in EVERY dim and hence in every subspace); vector
    # v = prototype[v % 16], so vec_id < 16 seeds every codebook with all
    # 16 prototype subvectors
    protos = [
        [float(((i * 5 + d * 3) % 17) - 8) for d in range(sq.DIM)] for i in range(16)
    ]
    rows = [(v, protos[v % 16]) for v in range(100)]
    return (
        spark.createDataFrame(rows, "vec_id bigint, embedding array<float>"),
        protos,
    )


def test_pq_reconstructs_prototype_corpus_exactly(spark):
    from flink_cdc_fluss_quickstart_spark.plans import similarity_queries as sq

    emb, _ = _proto_corpus(spark)
    res = {r["vec_id"]: r.asDict() for r in sq.pq_codes_frame(emb).collect()}
    assert len(res) == 100
    assert all(r["recon_sq_err"] == 0.0 for r in res.values())
    for m in range(sq.PQ_M):
        assert all(0 <= r[f"code{m}"] < sq.PQ_K for r in res.values())
    # same prototype -> identical code word; different prototypes differ
    def word(v):
        return tuple(res[v][f"code{m}"] for m in range(sq.PQ_M))

    for v in range(100):
        assert word(v) == word(v % 16)
    assert len({word(v) for v in range(16)}) == 16


def test_pq_adc_exact_on_prototype_corpus(spark):
    from flink_cdc_fluss_quickstart_spark.plans import similarity_queries as sq

    emb, protos = _proto_corpus(spark)
    res = sq.pq_adc_topk_frame(emb).collect()
    by_q = {}
    for r in res:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == {0, 50}
    for qid, rows in by_q.items():
        rows.sort(key=lambda r: r["rank"])
        # with zero quantization error ADC distance IS the true distance:
        # the nearest neighbors are the other copies of the query's
        # prototype, at distance exactly 0
        assert rows[0]["approx_dist_sq"] == 0.0
        assert rows[0]["neighbor_id"] % 16 == qid % 16
        # ranks are dense 1..k and distances non-decreasing
        assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
        d = [r["approx_dist_sq"] for r in rows]
        assert d == sorted(d)


# --- Bloom-filter decontamination (bloom_decontamination) -------------------


def test_bloom_never_misses_exact_hits(spark):
    """The defining Bloom guarantee: no false negatives -- every exact train/
    test gram overlap is also a bloom hit, so n_bloom_hits >= n_exact_hits
    and n_false_positives >= 0 on every document."""
    from flink_cdc_fluss_quickstart_spark.plans.registry import all_specs

    rows = all_specs()["bloom_decontamination"].builder(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows
    for r in rows:
        assert r["n_bloom_hits"] >= r["n_exact_hits"], r
        assert r["n_false_positives"] == r["n_bloom_hits"] - r["n_exact_hits"]
        assert 0 <= r["n_bloom_hits"] <= r["n_grams"]


def test_pq_adc_recall_perfect_on_prototype_corpus(spark):
    """With zero quantization error the ADC ranking IS the exact L2 ranking
    (identical fixed-point distances, identical tie-breaks), so recall@5
    against the L2 brute force is exactly 1.0."""
    from flink_cdc_fluss_quickstart_spark.plans import similarity_queries as sq

    emb, _ = _proto_corpus(spark)
    rows = {r["method"]: r for r in sq._pq_recall_frame(emb).collect()}
    assert set(rows) == {"adc", "ivfpq"}
    for row in rows.values():
        assert row["n_queries"] == 2
        assert row["total_overlap"] == 10
        assert row["recall_at_k"] == 1.0  # exact codes + own-cell probes


# --- character entropy (char_entropy via registry builder on planted docs) --


def test_char_entropy_orders_text_classes(spark):
    """Entropy must separate the classes the filter exists for: repeated-char
    spam ~0 bits < biased two-char strings < uniform alphabet text; exact
    zero for a single-symbol doc, exact log2 for a uniform power-of-2
    alphabet."""
    rows = [
        (1, "aaaaaaaaaaaaaaaa"),  # one symbol: entropy exactly 0
        (2, "abababababababab"),  # two symbols uniform: exactly 1 bit
        (3, "aaabaaabaaabaaab"),  # two symbols, 3:1 biased: ~0.81 bits
        (4, "abcdefghabcdefgh"),  # eight symbols uniform: exactly 3 bits
        (5, "The quick brown fox jumps over the lazy dog."),
    ]
    out = {
        r["doc_id"]: r["entropy_bits"]
        for r in tq.char_entropy_frame(_docs(spark, rows)).collect()
    }
    assert out[1] == 0.0
    assert abs(out[2] - 1.0) < 0.07  # quarter-bit quantization tolerance
    assert 0.6 < out[3] < 0.95 and out[3] < out[2]
    assert abs(out[4] - 3.0) < 0.07
    assert out[1] < out[3] < out[2] < out[4] < out[5]


def test_zipf_fit_separates_zipfian_from_uniform(spark):
    """The monitor's point: a planted Zipf corpus (count ~ 3000/rank) fits
    slope ~ -1 with high r2; a uniform vocabulary fits slope ~ 0."""
    zipf = tq.zipf_fit_frame(_zipf_occ(spark).withColumnRenamed("tok", "tok")).collect()[0]
    assert -1.3 < zipf["zipf_slope"] < -0.7, zipf
    assert zipf["fit_r2"] > 0.9
    import pyspark.sql.functions as FF

    uniform = tq.zipf_fit_frame(
        spark.range(5000).select(
            FF.concat(FF.lit("u"), (FF.col("id") % 250).cast("string")).alias("tok")
        )
    ).collect()[0]
    assert abs(uniform["zipf_slope"]) < 0.1, uniform


# --- contrastive triplet mining (contrastive_triplets_frame) ----------------


def test_contrastive_triplets_semantics(spark):
    """Negatives are deterministic, distinct from both sides, drawn from the
    corpus, and stable across invocations."""
    docs = _docs(spark, [(i, f"doc {i}") for i in range(40)]).select("doc_id")
    pairs = spark.createDataFrame(
        [(1, 2), (3, 4), (5, 6)], "id_a bigint, id_b bigint"
    )
    out1 = sorted(
        tuple(r) for r in tq.contrastive_triplets_frame(docs, pairs).collect()
    )
    out2 = sorted(
        tuple(r) for r in tq.contrastive_triplets_frame(docs, pairs).collect()
    )
    assert out1 == out2  # reproducible draw, no RNG state
    assert len(out1) == 3
    ids = set(range(40))
    for a, p, n in out1:
        assert n not in (a, p)
        assert n in ids


def test_contrastive_triplets_skip_collisions(spark):
    """If the ring successor IS the positive, the second successor is used;
    a two-doc corpus (where no distinct negative exists) yields no row."""
    two = _docs(spark, [(1, "a"), (2, "b")]).select("doc_id")
    pairs = spark.createDataFrame([(1, 2)], "id_a bigint, id_b bigint")
    assert tq.contrastive_triplets_frame(two, pairs).count() == 0
    # larger corpus: every emitted negative avoids both sides even when the
    # pair spans ring-adjacent docs
    docs = _docs(spark, [(i, "x") for i in range(12)]).select("doc_id")
    ring = {r["doc_id"]: (r["c1"], r["c2"]) for r in tq._ring_frame(docs).collect()}
    adj = [(a, ring[a][0]) for a in ring if ring[a][0] != a][:3]
    pairs2 = spark.createDataFrame(adj, "id_a bigint, id_b bigint")
    for a, p, n in tq.contrastive_triplets_frame(docs, pairs2).collect():
        assert n not in (a, p)
        assert n == ring[a][1]  # fell through to the second successor


def test_minhash_estimate_tracks_exact_jaccard(spark):
    """Estimator semantics on planted overlap levels: identical docs
    estimate exactly 1.0 with zero error; a ~half-overlap pair lands within
    the estimator's deviation band (std = sqrt(J(1-J)/24) ~ 0.10)."""
    from flink_cdc_fluss_quickstart_spark.plans.registry import get

    base = " ".join(f"w{i}" for i in range(30))
    half = " ".join(f"w{i}" for i in range(15)) + " " + " ".join(f"v{i}" for i in range(15))
    rows = [(1, base), (2, base), (3, half)]
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        import pandas as pd

        pd.DataFrame(rows, columns=["doc_id", "text"]).assign(
            lang="en", source="t", n_chars=[len(t) for _, t in rows]
        ).to_parquet(os.path.join(td, "documents.parquet"), index=False)
        out = {
            (r["id_a"], r["id_b"]): r.asDict()
            for r in get("minhash_estimate_quality").builder(spark, td).collect()
        }
    assert (1, 2) in out
    assert out[(1, 2)]["est_jaccard"] == 1.0
    assert out[(1, 2)]["exact_jaccard"] == 1.0
    assert out[(1, 2)]["abs_err"] == 0.0
    for key in ((1, 3), (2, 3)):
        if key in out:  # banding may or may not surface the weak pair
            assert out[key]["abs_err"] < 0.35  # ~3 sigma at J ~ 0.4


def test_leakage_safe_split_cluster_atomicity(spark):
    """Leakage-safe splits on the real sf0.001 corpus: every multi-member
    near-dup cluster lands in exactly one split (atomicity, the operator's
    guarantee), while a doc-granular md5 split straddles at least one of
    those clusters (non-vacuity: the guard prevents real leakage on this
    corpus, not a hypothetical)."""
    from flink_cdc_fluss_quickstart_spark.plans.registry import all_specs

    out = all_specs()["leakage_safe_split_assign"].builder(
        spark, "/root/testdata/sf0.001"
    )
    doc_bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint") % 100
    )
    doc_split = (
        F.when(doc_bucket < 90, "train").when(doc_bucket < 95, "val").otherwise("test")
    )
    per_cluster = (
        out.withColumn("doc_split", doc_split)
        .groupBy("component_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("split").alias("n_cluster_splits"),
            F.countDistinct("doc_split").alias("n_doc_splits"),
        )
        .filter(F.col("n") > 1)
        .collect()
    )
    assert per_cluster, "fixture corpus must contain multi-member clusters"
    assert all(r.n_cluster_splits == 1 for r in per_cluster)
    assert any(r.n_doc_splits > 1 for r in per_cluster), (
        "doc-granular split should straddle >= 1 cluster on this corpus"
    )


# --- soft dedup reweighting (soft_dedup_weights) ----------------------------


def test_soft_dedup_weights_semantics(spark):
    """Planted clusters: a 3-member near-dup clique gets weight 1/3 each,
    singletons keep 1.0, and sum(weight) equals the number of clusters (the
    effective-dataset-size invariant a loss-weighted loader checks)."""
    import os
    import tempfile

    import pandas as pd

    from flink_cdc_fluss_quickstart_spark.plans.registry import get

    base = " ".join(f"w{i}" for i in range(30))
    rows = [
        (1, base),
        (2, base + " tail"),        # near-dup of 1
        (3, base),                  # exact dup of 1 -> same clique
        (4, " ".join(f"x{i}" for i in range(30))),  # singleton
        (5, " ".join(f"y{i}" for i in range(30))),  # singleton
    ]
    with tempfile.TemporaryDirectory() as td:
        pd.DataFrame(rows, columns=["doc_id", "text"]).assign(
            lang="en", source="t", n_chars=[len(t) for _, t in rows]
        ).to_parquet(os.path.join(td, "documents.parquet"), index=False)
        out = {
            r["doc_id"]: r.asDict()
            for r in get("soft_dedup_weights").builder(spark, td).collect()
        }
    assert {out[i]["cluster_size"] for i in (1, 2, 3)} == {3}
    assert out[1]["component_id"] == out[2]["component_id"] == out[3]["component_id"]
    assert all(out[i]["weight"] == 1.0 for i in (4, 5))
    assert abs(sum(r["weight"] for r in out.values()) - 3.0) < 1e-12  # 3 clusters


# --- round-9 stamp candidates: planted semantics ----------------------------
# (bpe_merge_candidates / token_budget_mix_plan / embedding_pca_top_component
# / embedding_l2_topk carry repo-oracle parity already; these pin the
# intended MEANING on constructed inputs, the stamp-case prerequisite.)


def _write_docs(td, rows):
    import os

    import pandas as pd

    pd.DataFrame(rows, columns=["doc_id", "text"]).assign(
        lang="en", source=[s for s, _ in zip(["a", "b"] * len(rows), rows)], n_chars=1
    ).to_parquet(os.path.join(td, "documents.parquet"), index=False)


def test_bpe_merge_candidates_top_pair(spark):
    """The top merge candidate is the most frequent adjacent character pair,
    weighted by token frequency: 'zzz' x3 contributes 6 'zz' pairs (2 per
    occurrence), beating 'ab' x2."""
    import tempfile

    from flink_cdc_fluss_quickstart_spark.plans.registry import get

    with tempfile.TemporaryDirectory() as td:
        _write_docs(td, [(1, "zzz zzz zzz"), (2, "ab ab")])
        out = get("bpe_merge_candidates").builder(spark, td).collect()
    assert (out[0]["pair"], out[0]["pair_count"]) == ("zz", 6)
    assert {(r["pair"], r["pair_count"]) for r in out} >= {("zz", 6), ("ab", 2)}


def test_token_budget_mix_plan_sqrt_weighting(spark):
    """Quotas follow tokens^0.5 exactly: a source with 4x the tokens gets
    2x the quota (not 4x -- the temperature flattening), floors and all;
    repeat_factor = quota / available."""
    import os
    import tempfile

    import pandas as pd

    from flink_cdc_fluss_quickstart_spark.plans.pipeline_queries import (
        MIX_BUDGET_TOKENS,
    )
    from flink_cdc_fluss_quickstart_spark.plans.registry import get

    rows = [
        # source a: 1 doc x 100 tokens; source b: 4 docs x 100 tokens
        (1, " ".join(f"w{i}" for i in range(100)), "a"),
        *[(10 + k, " ".join(f"v{i}" for i in range(100)), "b") for k in range(4)],
    ]
    with tempfile.TemporaryDirectory() as td:
        pd.DataFrame(rows, columns=["doc_id", "text", "source"]).assign(
            lang="en", n_chars=1
        ).to_parquet(os.path.join(td, "documents.parquet"), index=False)
        out = {r["source"]: r.asDict() for r in get("token_budget_mix_plan").builder(spark, td).collect()}
    a, b = out["a"], out["b"]
    assert (a["tokens_available"], b["tokens_available"]) == (100, 400)
    # weights 10:20 -> quotas floor(1/3 B) and floor(2/3 B)
    assert a["quota_tokens"] == MIX_BUDGET_TOKENS // 3
    assert b["quota_tokens"] == (2 * MIX_BUDGET_TOKENS) // 3
    assert a["repeat_factor"] == a["quota_tokens"] / 100.0
    assert b["repeat_factor"] == b["quota_tokens"] / 400.0


def _write_embeddings(td, vecs):
    import os

    import pandas as pd

    pd.DataFrame(
        {
            "vec_id": [v[0] for v in vecs],
            "embedding": [[float(x) for x in v[1]] for v in vecs],
            "label": [int(v[0]) % 8 for v in vecs],
        }
    ).to_parquet(os.path.join(td, "embeddings.parquet"), index=False)


def test_embedding_l2_topk_exact_on_planted_line(spark):
    """Query vec 0 at the origin; neighbors k=1..6 sit at distance k along
    dim 0 -> top-5 is exactly [1..5] with dist_sq [1, 4, 9, 16, 25]."""
    import tempfile

    from flink_cdc_fluss_quickstart_spark.plans.registry import get

    dim = 64
    vecs = [(0, [0.0] * dim)]
    for k in range(1, 7):
        v = [0.0] * dim
        v[0] = float(k)
        vecs.append((k, v))
    with tempfile.TemporaryDirectory() as td:
        _write_embeddings(td, vecs)
        out = sorted(
            (r["rank"], r["neighbor_id"], r["dist_sq"])
            for r in get("embedding_l2_topk").builder(spark, td).collect()
        )
    assert [(n, round(d)) for _, n, d in out] == [(1, 1), (2, 4), (3, 9), (4, 16), (5, 25)]


def test_embedding_pca_top_component_finds_planted_axis(spark):
    """Vectors spread along axis 3 only (k * e3, k = -5..5, zero mean):
    the top component's loading concentrates on dim 3 (|loading| ~ 1, all
    other dims ~ 0) and the eigenvalue equals the planted variance."""
    import tempfile

    from flink_cdc_fluss_quickstart_spark.plans.registry import get

    dim = 64
    vecs = []
    for i, k in enumerate(range(-5, 6)):
        v = [0.0] * dim
        v[3] = float(k)
        vecs.append((i, v))
    with tempfile.TemporaryDirectory() as td:
        _write_embeddings(td, vecs)
        out = {r["dim"]: r.asDict() for r in get("embedding_pca_top_component").builder(spark, td).collect()}
    assert abs(abs(out[3]["loading"]) - 1.0) < 1e-6
    others = max(abs(out[d]["loading"]) for d in out if d != 3)
    assert others < 1e-6
    # planted variance: mean 0, sum(k^2)/n = 110/11 = 10
    assert abs(out[3]["eigenvalue"] - 10.0) < 1e-3


def test_quantile_sketch_bound_and_exactness(spark):
    """Planted per-lang token counts: on power-of-2 counts the sketch is
    EXACT (rel_error 0); on off-power counts the bin lower edge holds the
    est <= exact < 2*est bound; the exact column always equals the true
    discrete-rank percentile."""
    import os
    import tempfile

    import pandas as pd

    from flink_cdc_fluss_quickstart_spark.plans.registry import get

    def doc(i, lang, n):
        return (i, " ".join(f"w{j}" for j in range(n)), lang)

    rows = [
        # lang a: counts [4, 4, 4, 8, 16] -> p50 rank 3 = 4 (bin 2, est 4);
        # p90 rank 5 = 16 (bin 4, est 16) -- both exact
        doc(1, "a", 4), doc(2, "a", 4), doc(3, "a", 4), doc(4, "a", 8), doc(5, "a", 16),
        # lang b: counts [5, 5, 5, 9, 17] -> p50 = 5 (bin 2, est 4);
        # p90 = 17 (bin 4, est 16) -- bounded, not exact
        doc(11, "b", 5), doc(12, "b", 5), doc(13, "b", 5), doc(14, "b", 9), doc(15, "b", 17),
    ]
    with tempfile.TemporaryDirectory() as td:
        pd.DataFrame(rows, columns=["doc_id", "text", "lang"]).assign(
            source="t", n_chars=1
        ).to_parquet(os.path.join(td, "documents.parquet"), index=False)
        out = {
            (r["lang"], r["q"]): r.asDict()
            for r in get("quantile_sketch_report").builder(spark, td).collect()
        }
    assert out[("a", "p50")]["est_tokens"] == out[("a", "p50")]["exact_tokens"] == 4
    assert out[("a", "p90")]["est_tokens"] == out[("a", "p90")]["exact_tokens"] == 16
    assert out[("a", "p50")]["rel_error"] == 0.0
    assert (out[("b", "p50")]["est_tokens"], out[("b", "p50")]["exact_tokens"]) == (4, 5)
    assert (out[("b", "p90")]["est_tokens"], out[("b", "p90")]["exact_tokens"]) == (16, 17)
    for row in out.values():
        assert row["est_tokens"] <= row["exact_tokens"] < 2 * row["est_tokens"]
        assert 0.0 <= row["rel_error"] < 0.5


# --- planted semantics for the r8 third-wave rotate-outs ---------------------
# (dsir_importance_weights / embedding_decontamination carried r7 driver
# stamps and repo-oracle parity; these pin the intended MEANING on
# constructed inputs now that they sit outside the driver gate.)


def test_dsir_weights_prefer_target_like_docs(spark):
    """Docs written in the target source's vocabulary must outweigh docs in
    a disjoint vocabulary: planted buckets give target-vocab features a
    log-ratio of exactly 0 bits here (target share == corpus share) and
    never-in-target features a negative ratio, so every src0-vocab doc's
    weight_bits strictly exceeds every other doc's."""
    import os
    import tempfile

    import pandas as pd

    from flink_cdc_fluss_quickstart_spark.plans.registry import get

    rows = [(i, "alpha beta", "src0") for i in range(4)] + [
        (i + 10, "zeta eta", "web") for i in range(4)
    ]
    with tempfile.TemporaryDirectory() as td:
        pd.DataFrame(rows, columns=["doc_id", "text", "source"]).assign(
            lang="en", n_chars=1
        ).to_parquet(os.path.join(td, "documents.parquet"), index=False)
        out = {
            r["doc_id"]: r.asDict()
            for r in get("dsir_importance_weights").builder(spark, td).collect()
        }
    assert all(out[i]["n_feats"] == 3 for i in out)  # 2 unigrams + 1 bigram
    # target-vocab buckets: ct=8|4 of c=8|4 with tt=12, ts=24 -> 0 bits each;
    # web-vocab buckets: ct=0 -> bits(1)-bits(140) - (bits(5)-bits(152)) = -2
    assert all(out[i]["weight_bits"] == 0 for i in range(4))
    assert all(out[i + 10]["weight_bits"] == -6 for i in range(4))


def test_embedding_decontamination_flags_benchmark_lookalikes(spark):
    """vec 0 (vec_id % 97 == 0) plays the benchmark; an exact copy (cos 1.0)
    and a 3-4-5 lookalike (cos 0.6) are flagged, an orthogonal vector
    (cos 0.0) and a faint one (cos ~0.1) are not; benchmark_id always names
    the argmax benchmark row."""
    import tempfile

    from flink_cdc_fluss_quickstart_spark.plans.registry import get

    dim = 64

    def vec(*pairs):
        v = [0.0] * dim
        for i, x in pairs:
            v[i] = float(x)
        return v

    vecs = [
        (0, vec((0, 1.0))),          # benchmark e0
        (1, vec((0, 1.0))),          # exact copy -> cos 1.0, contaminated
        (2, vec((1, 1.0))),          # orthogonal -> cos 0.0, clean
        (3, vec((0, 3.0), (1, 4.0))),  # 3-4-5 -> cos 0.6, contaminated
        (4, vec((0, 1.0), (1, 10.0))),  # cos 1/sqrt(101) ~ 0.0995, clean
    ]
    with tempfile.TemporaryDirectory() as td:
        _write_embeddings(td, vecs)
        out = {
            r["vec_id"]: r.asDict()
            for r in get("embedding_decontamination").builder(spark, td).collect()
        }
    assert set(out) == {1, 2, 3, 4}  # the benchmark row itself is not scored
    assert {i for i in out if out[i]["contaminated"]} == {1, 3}
    assert all(out[i]["benchmark_id"] == 0 for i in out)
    assert abs(out[1]["max_benchmark_cos"] - 1.0) < 1e-9
    assert abs(out[2]["max_benchmark_cos"]) < 1e-9
    assert abs(out[3]["max_benchmark_cos"] - 0.6) < 1e-9
    assert abs(out[4]["max_benchmark_cos"] - 0.09950371902099892) < 1e-6


def test_embedding_decontamination_zero_norm_vectors_never_flag(spark):
    """The r8-advice NaN guard: a zero-norm vector yields 0/0 = NaN cosines,
    and Spark's struct-max ranks NaN above every double -- ungated, a
    degenerate corpus row would 'win' the max and flag as contaminated, and
    a zero-norm BENCHMARK row would contaminate every corpus row. With the
    nanvl guard both sides resolve to the -2.0 sentinel instead."""
    import tempfile

    from flink_cdc_fluss_quickstart_spark.plans.registry import get

    dim = 64

    def vec(*pairs):
        v = [0.0] * dim
        for i, x in pairs:
            v[i] = float(x)
        return v

    vecs = [
        (0, vec()),                 # zero-norm BENCHMARK row (vec_id % 97 == 0)
        (1, vec((0, 1.0))),         # finite corpus vec: all cosines NaN -> sentinel
        (2, vec()),                 # zero-norm CORPUS vec: NaN against any benchmark
    ]
    with tempfile.TemporaryDirectory() as td:
        _write_embeddings(td, vecs)
        out = {
            r["vec_id"]: r.asDict()
            for r in get("embedding_decontamination").builder(spark, td).collect()
        }
    assert set(out) == {1, 2}
    assert not out[1]["contaminated"] and not out[2]["contaminated"]
    assert out[1]["max_benchmark_cos"] == -2.0  # the sentinel, never NaN
    assert out[2]["max_benchmark_cos"] == -2.0
    assert out[1]["benchmark_id"] == 0  # deterministic argmax under all-sentinel ties


def test_line_dedup_removes_corpus_hot_lines_keeps_order(spark):
    """C4 repeated-line rule on planted docs: boilerplate appearing in >2
    docs is dropped everywhere, unique content lines survive in original
    order (including a duplicate WITHIN one doc, which counts toward the
    corpus frequency), and an all-boilerplate doc drops out entirely."""
    from flink_cdc_fluss_quickstart_spark.plans.text_queries import line_dedup_frame

    bp = "SUBSCRIBE NOW"
    docs = spark.createDataFrame(
        [
            (1, f"{bp}\nalpha beta\ngamma"),
            (2, f"delta\n{bp}\nepsilon"),
            (3, f"zeta\n{bp}"),
            (4, bp),                      # all boilerplate -> drops out
            (5, "eta\neta\ntheta"),       # within-doc dup: freq 2 <= max, kept
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in line_dedup_frame(docs).collect()}
    assert set(out) == {1, 2, 3, 5}
    assert out[1].text_dedup == "alpha beta\ngamma"
    assert out[2].text_dedup == "delta\nepsilon"   # middle line removed, order kept
    assert out[3].text_dedup == "zeta"
    assert out[5].text_dedup == "eta\neta\ntheta" and out[5].n_lines_kept == 3
    # a line at exactly max_freq+1 corpus occurrences is removed
    docs2 = spark.createDataFrame(
        [(i, "shared line\nuniq %d" % i) for i in range(3)],
        "doc_id long, text string",
    )
    out2 = {r.doc_id: r.text_dedup for r in line_dedup_frame(docs2).collect()}
    assert out2 == {0: "uniq 0", 1: "uniq 1", 2: "uniq 2"}


# --- BPE encode (merge-table application) ------------------------------------


def _py_bpe(corpus_words, n_merges):
    """Independent pure-Python BPE reference (Sennrich et al. 2016): learn
    merges by weighted pair count (count DESC, then pair ASC) and apply each
    greedily left-to-right. Returns (merges, {word: n_symbols})."""
    from collections import Counter

    vocab = Counter(corpus_words)
    syms = {w: list(w) for w in vocab}
    merges = []
    for _ in range(n_merges):
        pairs = Counter()
        for w, c in vocab.items():
            s = syms[w]
            for j in range(len(s) - 1):
                pairs[(s[j], s[j + 1])] += c
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        a, b = best
        for w in syms:
            s, out, j = syms[w], [], 0
            while j < len(s):
                if j + 1 < len(s) and s[j] == a and s[j + 1] == b:
                    out.append(a + b)
                    j += 2
                else:
                    out.append(s[j])
                    j += 1
            syms[w] = out
    return merges, {w: len(s) for w, s in syms.items()}


def test_bpe_encode_matches_independent_reference_multi_merge(spark):
    """Planted multi-merge corpus (the classic low/lower/newest/widest
    shape): the learned merge table AND every per-doc encoded token count
    must match an independently-implemented scan-based BPE."""
    rows = [
        (1, "low low low lower lower"),
        (2, "newest newest newest newest widest"),
        (3, "low newest wider widest lowest"),
    ]
    n_merges = 6
    words = [w for _, t in rows for w in t.split(" ")]
    ref_merges, ref_nsym = _py_bpe(words, n_merges)
    assert len(ref_merges) == n_merges  # the fixture really exercises depth

    out = {
        r["doc_id"]: r.asDict()
        for r in tq.bpe_encode_frame(_docs(spark, rows), n_merges).collect()
    }
    for doc_id, text in rows:
        ws = text.split(" ")
        assert out[doc_id]["n_words"] == len(ws)
        assert out[doc_id]["n_chars"] == sum(len(w) for w in ws)
        assert out[doc_id]["n_bpe_tokens"] == sum(ref_nsym[w] for w in ws), doc_id

    # the learned merge table itself matches the reference sequence
    toks = _docs(spark, rows).select(F.explode(F.split("text", " ")).alias("tok"))
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c")).select(
        "tok", "c", F.array_join(F.split("tok", ""), "|").alias("sym")
    )
    _, got_merges = tq.bpe_learn_merges(vocab, n_merges)
    assert got_merges == ref_merges


def test_bpe_encode_same_symbol_runs_fold_greedily(spark):
    """a==b runs take the Sennrich scan order: 'aaaaa' under merge (a,a)
    becomes [aa, aa, a] -- 3 symbols, never 2 ([aa,aa,a] vs [aa,a,aa] both
    have 3, but a naive regex-style re-merge would produce [aaaa, a])."""
    rows = [(1, "aaaaa aaaaa aa"), (2, "aaa")]
    _, ref_nsym = _py_bpe(["aaaaa", "aaaaa", "aa", "aaa"], 1)
    out = {
        r["doc_id"]: r["n_bpe_tokens"]
        for r in tq.bpe_encode_frame(_docs(spark, rows), 1).collect()
    }
    assert out[1] == 2 * ref_nsym["aaaaa"] + ref_nsym["aa"] == 3 + 3 + 1
    assert out[2] == ref_nsym["aaa"] == 2


def test_bpe_encode_single_symbol_vocab_stops_early(spark):
    """All-single-char words: no pair exists, the learner breaks, and the
    encode degenerates to whitespace token counts (n_bpe_tokens == n_chars)."""
    rows = [(1, "a b a b c"), (2, "c c c")]
    out = {r["doc_id"]: r.asDict() for r in tq.bpe_encode_frame(_docs(spark, rows), 4).collect()}
    assert out[1]["n_bpe_tokens"] == out[1]["n_chars"] == 5
    assert out[2]["n_bpe_tokens"] == out[2]["n_chars"] == 3


def test_line_dedup_incremental_batch_vs_census_rule(spark):
    """Only batch docs (doc_id % LINE_BATCH_MOD == 0) are rewritten; a batch
    line drops when census + batch occurrences exceed the max, whether the
    copies live in the census, the batch, or both."""
    assert tq.LINE_BATCH_MOD == 5 and tq.LINE_DEDUP_MAX == 2
    rows = [
        # census side (doc_id % 5 != 0)
        (1, "census boiler\nunique c1"),
        (2, "census boiler\nunique c2"),          # census count -> 2
        (3, "half boiler\nunique c3"),            # census count -> 1
        # batch side (doc_id % 5 == 0)
        (5, "census boiler\nkept alpha"),         # 2 + 1 > 2 -> dropped
        (10, "half boiler\nkept beta"),           # 1 + 1 <= 2 -> kept
        (15, "batch boiler\nkept gamma"),         # 0 + 3 > 2 -> dropped
        (20, "batch boiler\nbatch boiler\nkept delta"),
    ]
    out = {
        r["doc_id"]: r.asDict()
        for r in tq.line_dedup_incremental_frame(_docs(spark, rows)).collect()
    }
    assert set(out) == {5, 10, 15, 20}            # census docs never rewritten
    assert out[5]["text_dedup"] == "kept alpha"
    assert out[10]["text_dedup"] == "half boiler\nkept beta"
    assert out[15]["text_dedup"] == "kept gamma"
    assert out[20]["text_dedup"] == "kept delta"


def test_logreg_fit_is_one_job_per_gd_round(spark, sf_dir):
    """r16 loop-discipline guard: the fit's reductions run with AQE off,
    so a full plain fit is exactly 2 moment jobs + LOGREG_ROUNDS
    single-job gradient rounds (+1 for the feature-cache materialization
    riding the first pass) -- measured 11 at both test SFs. A regression
    to adaptive per-round stage-materialization round-trips (the pre-r16
    shape was 17+) doubles the loop's fixed latency at any corpus size.
    Also re-asserts the AQE toggle is RESTORED after the fit."""
    from flink_cdc_fluss_quickstart_spark.tables import load_table, spread

    prev = spark.conf.get("spark.sql.adaptive.enabled")
    d = spread(load_table(spark, sf_dir, "documents"))
    _, n_jobs = count_jobs(spark, lambda: tq._logreg_fit_full(d))
    assert spark.conf.get("spark.sql.adaptive.enabled") == prev
    assert n_jobs <= tq.LOGREG_ROUNDS + 4, (
        f"logreg fit ran {n_jobs} jobs for {tq.LOGREG_ROUNDS} rounds -- "
        "the single-job-per-round discipline regressed"
    )


def test_bpe_learn_loop_is_one_job_per_round(spark):
    """r16 loop-discipline guard: after the upfront census checkpoint +
    count, each merge round is exactly ONE job (lazy per-round
    localCheckpoint materialized by the census job, AQE off inside the
    loop) -- measured 10 jobs total for 4 merges. The pre-r16 shape was 3
    jobs/round; at production depth (32k-100k merges) that difference is
    the loop's dominant fixed cost. Also re-asserts both toggled confs
    are RESTORED after the loop."""
    rows = [
        (1, "internationalization localization tokenization modernization"),
        (2, "organization organization normalization internationalize"),
        (3, "tokenizer tokenizers normalizer modernizer organizations"),
    ]
    d = _docs(spark, rows)
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    vocab = (
        toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
        .groupBy("tok").agg(F.sum("tf").alias("c"))
        .select("tok", "c", F.array_join(F.split("tok", ""), tq._BPE_SEP).alias("sym"))
    )
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    n_merges = 4
    (_, merges), n_jobs = count_jobs(
        spark, lambda: tq.bpe_learn_merges(vocab, n_merges))
    assert spark.conf.get("spark.sql.adaptive.enabled") == prev_aqe
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev_parts
    assert len(merges) == n_merges
    # upfront checkpoint+count cost a few fixed jobs; the rounds must not
    # exceed one job each (plus slack of 1 for environment variance)
    assert n_jobs <= n_merges + 7, (
        f"bpe learn loop ran {n_jobs} jobs for {n_merges} merges -- "
        "the one-job-per-round discipline regressed"
    )


def test_bpe_encode_deep_merge_table_matches_reference_and_plan_stays_flat(spark):
    """Real-tokenizer-depth shakeout (r10 verdict item 7): an 18-merge table
    over a suffix-rich planted corpus must match the independent scan-based
    BPE exactly, AND the result frame's printed plan must stay bounded --
    the merge loop localCheckpoints the vocab EVERY round (r15; lazily
    since r16, materialized by each round's census job), so plan depth is
    O(1) in merge depth (the 6-merge demo's lineage was ~1 MB before
    this)."""
    rows = [
        (1, "internationalization internationalization localization"
            " localization localization modernization"),
        (2, "tokenization tokenization tokenizer tokenizers normalization"
            " normalization organization"),
        (3, "internationalization localization tokenization modernization"
            " organization organizations"),
        (4, "organization organization organizations modernization"
            " modernizer normalizer internationalize"),
    ]
    n_merges = 18
    words = [w for _, t in rows for w in t.split(" ")]
    ref_merges, ref_nsym = _py_bpe(words, n_merges)
    assert len(ref_merges) == n_merges  # the corpus really sustains depth 18

    df = tq.bpe_encode_frame(_docs(spark, rows), n_merges)
    out = {r["doc_id"]: r.asDict() for r in df.collect()}
    for doc_id, text in rows:
        ws = text.split(" ")
        assert out[doc_id]["n_words"] == len(ws)
        assert out[doc_id]["n_chars"] == sum(len(w) for w in ws)
        assert out[doc_id]["n_bpe_tokens"] == sum(ref_nsym[w] for w in ws), doc_id

    # the merge table itself matches the reference sequence at depth 18
    toks = _docs(spark, rows).select(F.explode(F.split("text", " ")).alias("tok"))
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c")).select(
        "tok", "c", F.array_join(F.split("tok", ""), "|").alias("sym")
    )
    _, got_merges = tq.bpe_learn_merges(vocab, n_merges)
    assert got_merges == ref_merges

    # printed lineage stays analysis-sized at depth 18 (was ~1 MB at depth 6)
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    assert len(buf.getvalue()) < 50_000, len(buf.getvalue())


def test_tokenizer_fertility_by_lang_matches_reference(spark):
    """Planted two-language corpus: per-lang fertility (BPE tokens per word,
    milli-units) and compression (chars per BPE token) must match the
    independent scan-based BPE reference exactly -- the merge table is
    learned over the WHOLE corpus (one tokenizer, per-lang report), which
    is the real tokenizer-selection setup."""
    import math

    rows = [
        (1, "low low low lower lower", "en"),
        (2, "newest newest newest newest widest", "en"),
        (3, "lolo lolo lolo lola lola", "xx"),
        (4, "lola lolo widest lowest", "xx"),
    ]
    n_merges = 6
    words = [w for _, t, _ in rows for w in t.split(" ")]
    _, ref_nsym = _py_bpe(words, n_merges)

    ref = {}
    for lang in ("en", "xx"):
        docs = [(i, t) for i, t, lg in rows if lg == lang]
        ws = [w for _, t in docs for w in t.split(" ")]
        n_words = len(ws)
        n_chars = sum(len(w) for w in ws)
        n_bpe = sum(ref_nsym[w] for w in ws)
        ref[lang] = {
            "n_docs": len(docs),
            "n_words": n_words,
            "n_bpe_tokens": n_bpe,
            "fertility_milli": math.floor(1000.0 * n_bpe / n_words),
            "chars_per_token_milli": math.floor(1000.0 * n_chars / n_bpe),
        }

    d = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {r["lang"]: r.asDict() for r in tq.fertility_frame(d, n_merges).collect()}
    for lang, want in ref.items():
        for k, v in want.items():
            assert out[lang][k] == v, (lang, k, out[lang], want)


def test_neardup_source_overlap_planted_cross_source_mirror(spark):
    """Planted corpus: source B mirrors two of source A's docs (near-dup
    with tiny edits), source C is clean. The report must attribute the
    cross-source pairs to (A, B) in canonical order, count the within-A
    pair, and show nothing involving C."""
    base1 = "the quick brown fox jumps over the lazy dog again and again " * 4
    base2 = "pack my box with five dozen liquor jugs every single day now " * 4
    clean = "completely unrelated text about distributed query planning " * 4
    rows = [
        (1, base1, "en", "srcA", len(base1)),
        (2, base2, "en", "srcA", len(base2)),
        (3, base1 + "mirrored tail", "en", "srcB", len(base1) + 13),
        (4, base2 + "mirrored tail", "en", "srcB", len(base2) + 13),
        (5, base1 + "another copy", "en", "srcA", len(base1) + 12),
        (6, clean, "en", "srcC", len(clean)),
    ]
    d = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {(r.source_a, r.source_b): r.asDict()
           for r in tq.neardup_source_overlap_frame(d).collect()}

    # pairs: (1,3) A-B, (2,4) A-B, (1,5) A-A, (3,5) A-B -- C appears nowhere
    assert set(out) == {("srcA", "srcB"), ("srcA", "srcA")}
    assert out[("srcA", "srcB")]["n_pairs"] == 3
    assert out[("srcA", "srcA")]["n_pairs"] == 1
    total = sum(v["n_pairs"] for v in out.values())
    for v in out.values():
        assert v["share_milli"] == (1000 * v["n_pairs"]) // total


def test_logreg_quality_learns_planted_separable_rule(spark):
    """On a linearly separable planted corpus (stopword-rich long docs vs
    stopword-free short docs) the trained classifier must reproduce the weak
    rule label EXACTLY, with a wide score margin -- the synthetic documents
    table has ~80% linear separability, so perfect accuracy is only
    assertable here. Also plants a blank doc: defined (all-zero) features,
    label 0, scored on the low side of the boundary."""
    rows = []
    for i in range(20):  # good: 50 words, every 4th a required function word
        rows.append((i, " ".join(("the" if j % 4 == 0 else f"tok{j}x") for j in range(50))))
    for i in range(20, 40):  # bad: 12 words, no stopwords
        rows.append((i, " ".join(f"zq{j}word" for j in range(12))))
    rows.append((40, "   "))  # blank doc
    out = {
        r["doc_id"]: r.asDict()
        for r in tq.logreg_quality_frame(_docs(spark, rows)).collect()
    }
    assert len(out) == 41
    for i in range(20):
        assert out[i]["weak_label"] == 1
        assert out[i]["predicted"] is True
        assert out[i]["score_micro"] > 800_000  # sim margin: min pos ~0.945
    for i in range(20, 40):
        assert out[i]["weak_label"] == 0
        assert out[i]["predicted"] is False
        assert out[i]["score_micro"] < 200_000  # sim margin: max neg ~0.055
    blank = out[40]
    assert blank["weak_label"] == 0 and blank["predicted"] is False


def test_hashed_ngram_langid_separates_planted_marker_languages(spark):
    """Two planted 'languages' sharing high-df filler but carrying disjoint
    rotating marker-token pools (each marker's df stays under the 1/4 cap,
    so the cap drops ONLY the shared filler): the distributed hashed-gram
    classifier must separate them perfectly with a wide margin (sim:
    min-pos 0.986 vs max-neg 0.014). The shared filler exceeding the df cap
    is itself load-bearing -- without the cap the common grams dominate
    every normalized feature vector."""
    rows = []
    for i in range(20):  # 'en' docs: rotating enmark pool, df per marker = 6
        mk = [f"enmark{(i + k) % 10}" for k in range(3)]
        rows.append((i, " ".join(["filler common soup word"] * 3 + mk * 4), "en"))
    for i in range(20, 40):  # 'de' docs: disjoint demark pool
        mk = [f"demark{(i + k) % 10}" for k in range(3)]
        rows.append((i, " ".join(["filler common soup word"] * 3 + mk * 4), "de"))
    d = spark.createDataFrame(rows, "doc_id bigint, text string, lang string")
    out = {r["doc_id"]: r.asDict() for r in tq.hashed_langid_frame(d).collect()}
    assert len(out) == 40
    for i in range(20):
        assert out[i]["is_target_lang"] == 1
        assert out[i]["predicted"] is True
        assert out[i]["score_micro"] > 900_000
    for i in range(20, 40):
        assert out[i]["is_target_lang"] == 0
        assert out[i]["predicted"] is False
        assert out[i]["score_micro"] < 100_000


def test_logreg_holdout_eval_perfect_on_planted_separable_corpus(spark):
    """On the linearly separable planted corpus the leakage-free protocol
    must still classify BOTH splits perfectly: the model sees only the
    md5-bucket train docs (moments included) yet the heldout docs -- drawn
    from the same two planted populations -- land on the right side of the
    learned boundary. Both accuracy_milli values must be 1000 and the split
    sizes must sum to the corpus."""
    rows = []
    for i in range(20):
        rows.append((i, " ".join(("the" if j % 4 == 0 else f"tok{j}x") for j in range(50))))
    for i in range(20, 40):
        rows.append((i, " ".join(f"zq{j}word" for j in range(12))))
    # NO blank doc here: an all-zero feature row is out-of-distribution for
    # a linear model that never trained on one (the heldout fit excludes it
    # by hash), and its standardized extremes land on an arbitrary side of
    # the boundary -- the all-docs fixture above covers the blank-doc edge.
    out = {
        r["split"]: r.asDict()
        for r in tq.logreg_holdout_report_frame(_docs(spark, rows)).collect()
    }
    assert set(out) == {"train", "heldout"}
    assert out["train"]["n_docs"] + out["heldout"]["n_docs"] == 40
    assert out["heldout"]["n_docs"] > 0  # the hash split actually holds docs out
    assert out["heldout"]["n_pos"] > 0  # ...and both planted classes reach it
    assert out["heldout"]["n_pos"] < out["heldout"]["n_docs"]
    for split in ("train", "heldout"):
        assert out[split]["accuracy_milli"] == 1000
        assert out[split]["n_correct"] == out[split]["n_docs"]


def test_source_curation_report_counts_dups_and_labels_per_source(spark):
    """Planted two-source corpus: source A carries a duplicated doc and
    rule-positive docs, source B is dup-free and rule-negative -- the
    scorecard's structural columns (doc/token counts, dup incidence,
    weak-label rate) must be exact; the trained-score column is asserted
    only directionally (A's rule-positive mean above B's)."""
    good = " ".join(("the" if j % 4 == 0 else f"tok{j}x") for j in range(50))
    bad = " ".join(f"zq{j}word" for j in range(12))
    rows = [
        (1, good, "A"),
        (2, good, "A"),          # exact dup of doc 1
        (3, good + " tail", "A"),
        (4, bad, "B"),
        (5, bad + " more", "B"),
    ]
    d = spark.createDataFrame(rows, "doc_id bigint, text string, source string")
    out = {r["source"]: r.asDict() for r in tq.source_curation_report_frame(d).collect()}
    a, b = out["A"], out["B"]
    assert a["n_docs"] == 3 and b["n_docs"] == 2
    assert a["tokens_total"] == 151 and b["tokens_total"] == 25
    assert a["n_dup_docs"] == 2 and a["dup_rate_milli"] == 666
    assert b["n_dup_docs"] == 0 and b["dup_rate_milli"] == 0
    assert a["weak_label_rate_milli"] == 1000  # all three pass the rule
    assert b["weak_label_rate_milli"] == 0
    assert a["mean_score_micro"] > b["mean_score_micro"]


def test_langid_multiclass_separates_three_planted_marker_languages(spark):
    """Three planted 'languages' sharing over-the-cap filler but carrying
    disjoint rotating marker pools: the one-vs-rest frame must put every
    doc on the confusion diagonal (perfect 3-way separation), and the
    argmax serving path must agree with the registered rollup."""
    rows = []
    for li, lang in enumerate(("en", "de", "fr")):
        for i in range(15):
            mk = [f"{lang}mark{(i + k) % 8}" for k in range(3)]
            rows.append(
                (li * 100 + i, " ".join(["filler common soup word"] * 3 + mk * 4), lang)
            )
    d = spark.createDataFrame(rows, "doc_id bigint, text string, lang string")
    conf = {(r["lang"], r["predicted"]): r["n_docs"]
            for r in tq.hashed_langid_multiclass_frame(d).collect()}
    assert conf == {("en", "en"): 15, ("de", "de"): 15, ("fr", "fr"): 15}

    # serving path: fit once, score unseen docs from the same marker pools
    weights, hot = tq.hashed_langid_multiclass_fit(d)
    serve = spark.createDataFrame(
        [(900, "filler enmark1 enmark4 enmark7 common"),
         (901, "demark0 demark2 soup demark5"),
         (902, "frmark3 frmark6 word frmark1"),
         (903, "   ")],  # no kept grams -> z=0 everywhere -> first class wins
        "doc_id bigint, text string")
    got = {r["doc_id"]: r["predicted"]
           for r in tq.hashed_langid_multiclass_score(serve, weights, hot).collect()}
    assert got == {900: "en", 901: "de", 902: "fr", 903: "de"}


def test_hlr_weight_join_switches_strategy_past_broadcast_bound(spark):
    """The bucket-keyed weight join must broadcast while the bucket space
    is provably broadcast-sized and FALL BACK to a planner-chosen join
    beyond (fastText's 2M-bucket x 176-class space cannot build a driver
    broadcast): below the bound the plan carries the broadcast hint, above
    it the weight side is unhinted."""
    w = spark.createDataFrame([(1, 0.5)], "b int, w double")
    f = spark.createDataFrame([(1, 1, 0.25)], "doc_id int, b int, f double")

    hinted = f.join(tq._hlr_wside(w, tq._HLR_BROADCAST_MAX_ROWS), "b")
    plan_h = hinted._jdf.queryExecution().optimizedPlan().toString()
    unhinted = f.join(tq._hlr_wside(w, tq._HLR_BROADCAST_MAX_ROWS + 1), "b")
    plan_u = unhinted._jdf.queryExecution().optimizedPlan().toString()
    assert "strategy=broadcast" in plan_h  # the hint survives optimization
    assert "strategy=broadcast" not in plan_u  # planner's choice, no forced build


def test_score_drift_report_flags_planted_shift_and_stays_flat_without(spark):
    """PSI semantics on planted corpora: (a) identical text on both md5
    halves -> every bin's PSI contribution is ~0 (shares differ only by
    Laplace smoothing of the half sizes); (b) the 'current' half planted
    with high-quality text while the reference half is junk -> large
    positive PSI mass in the bins the current scores moved into."""
    from flink_cdc_fluss_quickstart_spark.functions import dedup as dd

    ids = list(range(400))
    # precompute the md5 split the frame uses, so the test can PLACE texts
    buckets = {
        r["doc_id"]: r["b"]
        for r in spark.createDataFrame([(i,) for i in ids], "doc_id bigint")
        .select("doc_id", dd.hash_bucket(F.col("doc_id").cast("string")).alias("b"))
        .collect()
    }
    good = ("the of a to and in is it that for " * 8).strip()  # stop-rich, long
    junk = "zzz qqq xxx"

    flat = spark.createDataFrame(
        [(i, good) for i in ids], "doc_id bigint, text string"
    )
    rep_flat = {r["bin"]: r for r in tq.score_drift_frame(flat).collect()}
    assert len(rep_flat) == tq.DRIFT_BINS
    # all docs identical -> one occupied bin; its shares track the half
    # sizes, so |psi| stays tiny everywhere
    assert all(abs(r["psi_contrib"]) < 2_000_000 for r in rep_flat.values())

    shifted = spark.createDataFrame(
        [
            (i, good if buckets[i] >= tq.DRIFT_REF_BUCKET else junk)
            for i in ids
        ],
        "doc_id bigint, text string",
    )
    rep = tq.score_drift_frame(shifted).collect()
    psi_total = sum(r["psi_contrib"] for r in rep)
    flat_total = sum(r["psi_contrib"] for r in rep_flat.values())
    # ref and cur concentrate in different bins -> large positive PSI mass
    # (measured ~58M on this fixture), orders of magnitude over the flat
    # corpus's Laplace residual
    assert psi_total > 20_000_000
    assert abs(flat_total) < 5_000_000
    assert psi_total > 10 * max(abs(flat_total), 1)


def test_logreg_calibration_planted_separable_is_sharp_and_calibrated(spark):
    """On the linearly separable planted corpus (scores > 0.8 for every
    positive, < 0.2 for every negative, labels matching), the reliability
    report must put all mass in the extreme bins with SMALL gaps -- the
    mean predicted probability in an extreme bin tracks its label rate
    (1000 or 0 milli) within the score margin -- and the empty middle bins
    must emit NULL curve points with zero ECE mass."""
    rows = []
    for i in range(20):
        rows.append((i, " ".join(("the" if j % 4 == 0 else f"tok{j}x") for j in range(50))))
    for i in range(20, 40):
        rows.append((i, " ".join(f"zq{j}word" for j in range(12))))
    rep = {r["bin"]: r.asDict()
           for r in tq.calibration_frame(_docs(spark, rows)).collect()}
    assert set(rep) == set(range(tq.DRIFT_BINS))
    occupied = {b for b, r in rep.items() if r["n_docs"] > 0}
    assert occupied <= {0, 1, 8, 9} and {min(occupied), max(occupied)} <= {0, 1, 8, 9}
    low = sum(rep[b]["n_docs"] for b in occupied if b <= 1)
    high = sum(rep[b]["n_docs"] for b in occupied if b >= 8)
    assert low == 20 and high == 20
    for b in occupied:
        r = rep[b]
        assert r["label_rate_milli"] == (1000 if b >= 8 else 0)
        assert r["gap_milli"] <= 200  # within the planted score margin
        assert r["ece_contrib"] == r["n_docs"] * r["gap_milli"]
    for b in set(range(tq.DRIFT_BINS)) - occupied:
        r = rep[b]
        assert r["n_docs"] == 0 and r["ece_contrib"] == 0
        assert r["mean_score_milli"] is None and r["gap_milli"] is None
