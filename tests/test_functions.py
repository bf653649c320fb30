"""Dedup / similarity / textstats unit tests on literal micro-corpora."""

from __future__ import annotations

import math

from pasgal_spark.functions import dedup, similarity, textstats


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t, "en") for i, t in enumerate(texts)], "doc_id long, text string, lang string"
    )


DUP_TEXTS = [
    "the quick brown fox jumps over the lazy dog near the river bank",
    "the quick brown fox jumps over the lazy dog near the river bank",  # exact dup of 0
    "a completely different document about spark dataframes and shuffle partitions",
    "the quick brown fox jumps over the lazy dog near the river bend",  # near dup of 0
    "unrelated text with other words entirely like graph kernels and pagerank",
]


def test_exact_dedup(spark):
    out = {r["doc_id"]: (r["keeper"], r["is_dup"]) for r in dedup.exact_dedup(_docs(spark, DUP_TEXTS)).collect()}
    assert out[0] == (0, False)
    assert out[1] == (0, True)
    assert out[2] == (2, False)


def test_minhash_identical_docs_equal_signatures(spark):
    sigs = dedup.minhash_signatures(_docs(spark, DUP_TEXTS)).collect()
    by_doc = {}
    for r in sigs:
        by_doc.setdefault(r["doc_id"], {})[r["seed"]] = r["minhash"]
    assert by_doc[0] == by_doc[1]
    assert by_doc[0] != by_doc[2]


def test_lsh_finds_near_dups_and_jaccard_verifies(spark):
    docs = _docs(spark, DUP_TEXTS)
    pairs = {(r["a"], r["b"]) for r in dedup.lsh_candidate_pairs(docs).collect()}
    assert (0, 1) in pairs  # exact dup always collides in every band
    verified = {
        (r["a"], r["b"]): r["jaccard"]
        for r in dedup.jaccard_verify(docs, dedup.lsh_candidate_pairs(docs), 0.5).collect()
    }
    assert verified[(0, 1)] == 1.0
    if (0, 3) in verified:  # near dup: high but < 1
        assert 0.5 <= verified[(0, 3)] < 1.0


def test_simhash_hamming_close_for_near_dups(spark):
    out = {r["doc_id"]: r["simhash"] for r in dedup.simhash(_docs(spark, DUP_TEXTS)).collect()}
    assert out[0] == out[1]

    def ham(a, b):
        return bin(a ^ b).count("1")

    assert ham(out[0], out[3]) < ham(out[0], out[2])


def test_cosine_topk_finds_identical_vector(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.0]),   # identical to 0
        (2, [0.0, 1.0, 0.0]),
        (3, [0.7, 0.7, 0.0]),
        (4, [0.0, 0.0, 1.0]),
        (5, [-1.0, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    top = similarity.cosine_topk(emb, n_queries=1, k=2).collect()
    assert [r["neighbor_id"] for r in top] == [1, 3]
    assert top[0]["score"] == 1.0


def test_hyperplane_buckets_deterministic_and_identical_for_equal_vecs(spark):
    rows = [(i, [float((i * 7 + j) % 5 - 2) for j in range(64)]) for i in range(10)]
    rows.append((10, rows[0][1]))  # same vector as 0
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    b1 = {r["vec_id"]: r["bucket"] for r in similarity.hyperplane_buckets(emb).collect()}
    b2 = {r["vec_id"]: r["bucket"] for r in similarity.hyperplane_buckets(emb).collect()}
    assert b1 == b2
    assert b1[0] == b1[10]


def test_token_count_and_fingerprint_order_sensitivity(spark):
    docs = _docs(spark, ["alpha beta gamma", "gamma beta alpha"])
    counts = {r["doc_id"]: r["n_tokens"] for r in textstats.token_count(docs).collect()}
    assert counts == {0: 3, 1: 3}
    fps = {r["doc_id"]: r["fingerprint"] for r in textstats.doc_fingerprint(docs).collect()}
    assert fps[0] != fps[1]  # position-weighted: order matters


def test_lang_id_picks_stopword_language(spark):
    docs = _docs(
        spark,
        [
            "the cat and the dog sat in a corner of the house",
            "der hund und die katze sind nicht mit dem mann",
            "le chat et les chiens sont pour la maison que nous avons",
        ],
    )
    out = {r["doc_id"]: r["pred_lang"] for r in textstats.lang_id(docs).collect()}
    assert out == {0: "en", 1: "de", 2: "fr"}


def test_quality_score_monotone_in_stopwords(spark):
    docs = _docs(spark, ["the of and to in a is that for it", "xyzzy qwerty asdf"])
    out = {r["doc_id"]: r["quality"] for r in textstats.quality_score(docs).collect()}
    assert out[0] > out[1]


def _rand_emb(spark, n=30, dim=64):
    rows = [
        (i, [float(((i * 131 + j * 17) % 19) - 9) / 3.0 for j in range(dim)])
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_bucketed_ann_blocked_gram_matches_unblocked(spark, monkeypatch):
    """Blocked Gram accumulation (BLOCK_BYTES peak bound, VERDICT r4 #6)
    must be bit-identical to a single-block pass: same ascending-j fold per
    element, only the row-range partitioning differs."""
    emb = _rand_emb(spark)
    whole = sorted(map(tuple, similarity.bucketed_ann(emb, k=3).collect()))
    # shrink the budget so every bucket of >1 rows splits into many blocks
    monkeypatch.setattr(similarity, "BLOCK_BYTES", 1)
    blocked = sorted(map(tuple, similarity.bucketed_ann(emb, k=3).collect()))
    assert whole == blocked and len(whole) > 0


def test_bucketed_ann_rejects_zero_norm_embedding(spark):
    """NaN cosine orders differently in NumPy vs SQL ORDER BY — the kernel
    refuses zero-norm vectors rather than silently diverging (ADVICE r4)."""
    import pytest

    # two zero vectors share bucket 0 (no plane fires), so the kernel's
    # norm check engages (a lone zero vector short-circuits at n < 2)
    rows = [(0, [0.0] * 64), (1, [0.0] * 64)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    with pytest.raises(Exception, match="zero-norm"):
        similarity.bucketed_ann(emb, k=1).collect()


def test_similarity_kernels_reject_null_and_ragged_embeddings(spark):
    """np.stack on a null/ragged batch used to crash mid-job with an opaque
    error; the kernels now fail loudly naming the defect (ADVICE r4)."""
    import pytest

    null_emb = spark.createDataFrame(
        [(0, [1.0] * 64), (1, None)], "vec_id long, embedding array<float>"
    )
    with pytest.raises(Exception, match="null embedding"):
        similarity.hyperplane_buckets(null_emb).collect()
    ragged = spark.createDataFrame(
        [(0, [1.0] * 64), (1, [1.0] * 63)], "vec_id long, embedding array<float>"
    )
    with pytest.raises(Exception, match="not 64-wide"):
        similarity.hyperplane_buckets(ragged).collect()


def test_pricing_summary_sums_are_partition_order_invariant(spark):
    """Money sums aggregate in decimal(18,4) so the result is one exact
    answer under ANY partitioning/summation order — the sf10 gate caught a
    double SUM differing from the oracle in the last rounded cent purely
    from fp association order (BASELINE.md r5 defect #6). Pin the property
    the fix exists for: identical bytes across adversarial repartitionings."""
    import datetime
    import random

    from pasgal_spark.functions import events as ev

    rng = random.Random(42)
    rows = [
        (
            "A" if i % 3 else "R",
            "F" if i % 2 else "O",
            float(rng.randint(1, 50)),
            # prices with cents that stress the rounded last digit
            rng.randint(100, 99999) / 100.0,
            rng.randint(0, 10) / 100.0,
            datetime.date(1997, 1, 1 + (i % 28)),
        )
        for i in range(5000)
    ]
    schema = (
        "l_returnflag string, l_linestatus string, l_quantity double, "
        "l_extendedprice double, l_discount double, l_shipdate date"
    )
    li = spark.createDataFrame(rows, schema)

    def snapshot(df):
        out = ev.pricing_summary(df).collect()
        return sorted(
            (r["l_returnflag"], r["l_linestatus"], r["sum_qty"],
             r["sum_base_price"], r["sum_disc_price"], r["avg_disc"],
             r["count_order"])
            for r in out
        )

    base = snapshot(li.coalesce(1))
    # adversarial orders: many tiny partitions, hash-scattered, reversed
    assert snapshot(li.repartition(37)) == base
    assert snapshot(li.repartition(11, "l_discount")) == base
    assert snapshot(li.orderBy("l_extendedprice", ascending=False)) == base


def test_sessionize_gap_threshold_and_hourly_rollup(spark):
    """The batch event functions on a hand-built frame. A gap of exactly
    1800 s stays in the session; 1800.4 s starts a new one (a whole-second
    gap would merge it, as the sf1 tier once showed against DuckDB's
    fractional epoch). Two events share a ts: the tie sorts by event_id,
    which only the prefix sum can show (sessionize sees a 0 s gap either
    way). An event in the last second of an hour stays in that bucket."""
    import datetime

    from pasgal_spark.functions import events as ev

    t0 = datetime.datetime(2024, 1, 1)  # epoch 1704067200 = hour 473352

    def at(seconds):
        return t0 + datetime.timedelta(seconds=seconds)

    events = spark.createDataFrame(
        [
            (0, at(0), 1, "view", 1.5),
            (1, at(1800), 1, "view", 2.25),  # gap 1800 s: same session
            (2, at(3600.4), 1, "click", 3.0),  # gap 1800.4 s: new session
            (3, at(600), 2, "view", 4.0),
            (5, at(2400.4), 2, "click", 0.5),  # gap 1800.4 s, tied ts ...
            (4, at(2400.4), 2, "view", 0.25),  # ... event 4 sorts first
            (6, at(7199.5), 3, "view", 8.0),  # last second of hour 473353
        ],
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double",
    )

    assert dict(ev.sessionize(events).collect()) == {1: 2, 2: 2, 3: 1}
    assert {
        (r["hour_bucket"], r["event_type"]): (r["n"], r["sum_value"])
        for r in ev.hourly_rollup(events).collect()
    } == {
        (473352, "view"): (4, 8.0),
        (473352, "click"): (1, 0.5),
        (473353, "click"): (1, 3.0),
        (473353, "view"): (1, 8.0),
    }
    assert {
        r["event_id"]: r["cum_value"] for r in ev.running_total(events).collect()
    } == {0: 1.5, 1: 3.75, 2: 6.75, 3: 4.0, 4: 4.25, 5: 4.75, 6: 8.0}
