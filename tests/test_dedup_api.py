"""The training-data operators' DataFrame API, and the dual-dialect SQL
templates the oracle harness validates, run over custom inputs through the
operators' own SQL runner."""

from __future__ import annotations

import uuid

import pytest

from geojson_vt_cpp_spark.functions import dialect_sql as D
from geojson_vt_cpp_spark.operators import dedup as DD

SF_DIR = "/root/testdata/sf0.01"

pytestmark = pytest.mark.spark


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="module")
def embs(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def _sql(docs, name: str):
    """Template ``name`` over ``docs`` (doc_id, text[, lang])."""
    return DD._run(docs, "t", name)


def _sql_emb(embs, name: str):
    """Template ``name`` over ``embs`` (vec_id, embedding)."""
    tmp = f"emb_{uuid.uuid4().hex[:8]}"
    embs.select("vec_id", "embedding").createOrReplaceTempView(tmp)
    return embs.sparkSession.sql(D.queries_sql("spark")[name].replace("embeddings", tmp))


def test_text_operators_run_and_agree(spark, docs):
    n = docs.count()
    assert _sql(docs, "dedup_exact").count() == n
    sig = DD.minhash_signatures(docs)
    assert sig.count() == n and set(sig.columns) == {"doc_id", "mh0", "mh1", "mh2", "mh3"}
    assert DD.simhash(docs).count() == n
    assert _sql(docs, "text_lang_id").count() == n
    assert _sql(docs, "text_quality_score").count() == n
    assert _sql(docs, "text_token_stats").count() == n
    fp = _sql(docs, "text_fingerprint")
    assert fp.select("fingerprint").distinct().count() == n  # no dups at sf0.01
    assert _sql(docs, "dedup_ngram_jaccard").count() > 0


def test_simhash_pairs_exhaustive_completeness(spark, docs):
    """Hamming-LSH recall guarantee, checked exhaustively: the band-join
    candidates filtered at hamming <= 3 must equal ALL pairs at hamming
    <= 3 computed brute-force over the collected simhash table."""
    sh = {r["doc_id"]: r["simhash16"] for r in DD.simhash(docs).collect()}
    ids = sorted(sh)
    want = {
        (a, b, bin(sh[a] ^ sh[b]).count("1"))
        for i, a in enumerate(ids)
        for b in ids[i + 1:]
        if bin(sh[a] ^ sh[b]).count("1") <= 3
    }
    got = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in DD.simhash_pairs(docs).collect()
    }
    assert got == want and len(got) > 0


def test_tfidf_top_terms_hand_computed(spark):
    import math

    docs = spark.createDataFrame(
        [(0, "a a b"), (1, "a c"), (2, "a d")], "doc_id long, text string"
    )
    got = {
        (r["doc_id"], r["term_rank"]): (r["term"], r["tfidf"])
        for r in _sql(docs, "text_tfidf_top_terms").collect()
    }
    ln3 = round(math.log(3.0), 6)
    assert got == {
        (0, 1): ("b", ln3), (0, 2): ("a", 0.0),
        (1, 1): ("c", ln3), (1, 2): ("a", 0.0),
        (2, 1): ("d", ln3), (2, 2): ("a", 0.0),
    }


def test_cross_split_leakage_straddles_only(spark, docs):
    """Decontamination: every reported pair is a minhash candidate whose
    endpoints land in DIFFERENT deterministic splits — and the set equals
    the brute composition of the two underlying queries."""
    docs.createOrReplaceTempView("documents")
    spark_sqls = D.queries_sql("spark")
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in spark.sql(spark_sqls["dedup_minhash_pairs"]).collect()
    }
    split = {
        r["doc_id"]: r["split"]
        for r in spark.sql(
            "select doc_id, case when cast(conv(substring(md5(concat('split-', "
            "cast(doc_id as string))),1,15),16,10) as bigint) % 10 < 9 "
            "then 'train' else 'val' end as split from documents"
        ).collect()
    }
    want = {
        (a, b, split[a], split[b]) for (a, b) in pairs if split[a] != split[b]
    }
    got = {
        (r["doc_a"], r["doc_b"], r["split_a"], r["split_b"])
        for r in DD.cross_split_leakage(docs).collect()
    }
    assert got == want
    assert all(sa != sb for (_, _, sa, sb) in got)


def test_text_chunks_windows(spark):
    """Overlapping 200/150 chunk windows: hand-checked boundaries, last
    partial window kept, single-chunk short docs, per-chunk coverage."""
    docs = spark.createDataFrame(
        [(1, "a" * 500), (2, "b" * 150), (3, "c" * 151)],
        "doc_id long, text string",
    )
    got = {
        (r["doc_id"], r["chunk_idx"]): r["chunk_chars"]
        for r in _sql(docs, "text_chunks").collect()
    }
    # len 500: idx 0 [1..200], 1 [151..350], 2 [301..500], 3 [451..500]
    assert got == {
        (1, 0): 200, (1, 1): 200, (1, 2): 200, (1, 3): 50,
        (2, 0): 150,
        (3, 0): 151, (3, 1): 1,
    }


def test_jaccard_refine_adversarial_pairs(spark):
    """jaccard_refine over hand-built pairs: identical docs (1.0), partial
    overlap (exact fraction), ZERO-overlap candidates (row kept, 0.0), and
    short-text degenerate grams — values computed by hand."""
    docs = spark.createDataFrame(
        [
            (1, "abcdef"),   # grams: abcd bcde cdef (3)
            (2, "abcdxy"),   # grams: abcd bcdx cdxy (3); inter w/ 1 = {abcd}
            (3, "zzzzzz"),   # grams: zzzz (1 distinct)
            (4, "abcdef"),   # identical to doc 1
            (5, "ab"),       # short text: single gram 'ab'
            (6, None),       # null text: no gram row at all
        ],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        # (1, 6): null-text doc; (7, 1): doc_a absent from docs entirely —
        # both must keep their row (counts 0, jaccard 0.0), the
        # one-row-per-input-pair contract for arbitrary candidate pairs
        [(1, 2), (1, 3), (1, 4), (3, 5), (1, 6), (7, 1)],
        "doc_a long, doc_b long",
    )
    got = {
        (r["doc_a"], r["doc_b"]): (r["n_inter"], r["n_a"], r["n_b"], r["jaccard"])
        for r in DD.jaccard_refine(pairs, docs, n=4).collect()
    }
    assert got == {
        (1, 2): (1, 3, 3, 0.2),
        (1, 3): (0, 3, 1, 0.0),   # zero-overlap pair is retained
        (1, 4): (3, 3, 3, 1.0),
        (3, 5): (0, 1, 1, 0.0),
        (1, 6): (0, 3, 0, 0.0),   # null-text doc: row kept, counts 0
        (7, 1): (0, 0, 3, 0.0),   # missing doc id: row kept, counts 0
    }


def test_jaccard_refine_randomized_vs_python(spark):
    """Seeded random corpus (ragged lengths incl. shorter-than-n texts,
    small alphabet for dense gram collisions) x random pairs, checked
    against a pure-python set-based Jaccard in one batch."""
    import random

    rng = random.Random(99)
    texts = {
        i: "".join(rng.choice("abcd ") for _ in range(rng.randint(1, 60)))
        for i in range(40)
    }
    pairs = {(a, rng.randrange(40)) for a in range(40)}
    pairs = [(a, b) for a, b in pairs if a != b]
    docs = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    pdf = spark.createDataFrame(pairs, "doc_a long, doc_b long")

    def grams(t):
        return {t[i:i + 4] for i in range(max(len(t) - 3, 1))}

    want = {}
    for a, b in pairs:
        ga, gb = grams(texts[a]), grams(texts[b])
        ni = len(ga & gb)
        want[(a, b)] = (ni, len(ga), len(gb), round(ni / (len(ga) + len(gb) - ni), 6))
    got = {
        (r["doc_a"], r["doc_b"]): (r["n_inter"], r["n_a"], r["n_b"], r["jaccard"])
        for r in DD.jaccard_refine(pdf, docs, n=4).collect()
    }
    assert got == want and len(got) >= 30


def test_minhash_jaccard_chain_matches_declarative_twin(spark, docs):
    """The chained operator (minhash pairs -> jaccard_refine) must equal
    the declarative dual-dialect template run through Spark SQL."""
    docs.createOrReplaceTempView("documents")
    want = {
        tuple(r) for r in spark.sql(D.minhash_jaccard_sql("spark")).collect()
    }
    got = {
        tuple(r)
        for r in DD.jaccard_refine(DD.minhash_near_dup_pairs(docs), docs, n=4).collect()
    }
    assert got == want and len(got) > 0


def test_embedding_operators(spark, embs):
    topk_df = DD.cosine_top_k(embs)
    # scale-shape evidence: the operator's top-k is TakeOrderedAndProject
    # (distributed partial top-k), and the only Window is the rank stamp
    # AFTER the k-row limit — never a global window over every vector
    plan = topk_df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan
    window_pos = plan.find("Window")
    take_pos = plan.find("TakeOrderedAndProject")
    assert window_pos == -1 or window_pos < take_pos, plan  # window consumes the limit
    topk = topk_df.collect()
    assert len(topk) == 10
    assert [r["sim_rank"] for r in sorted(topk, key=lambda r: r["sim_rank"])] == list(range(1, 11))
    assert _sql_emb(embs, "sim_lsh_buckets").count() == embs.count()
    nd = _sql_emb(embs, "dedup_embedding_neardup")
    assert nd.count() > 0
    assert all(r["cosine"] >= 0.35 for r in nd.collect())


def test_pipeline_composition_operators(spark, docs, embs):
    n = docs.count()
    kept = _sql(docs, "dedup_keep_corpus")
    assert 0 < kept.count() < n  # simhash buckets genuinely merge
    splits = {r["split"]: r["n_docs"] for r in _sql(docs, "text_train_split").collect()}
    assert set(splits) == {"train", "val"} and sum(splits.values()) == n
    qf = _sql(docs, "text_quality_filter")
    assert qf.count() == n and set(qf.columns) >= {"doc_id", "keep_flag"}
    ann = _sql_emb(embs, "sim_ann_bucket_topk")
    rows = ann.collect()
    assert all(1 <= r["ann_rank"] <= 2 for r in rows)
    per_vec = {}
    for r in rows:
        per_vec.setdefault(r["vec_id"], []).append(r["ann_rank"])
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in per_vec.values())


def test_custom_column_names(spark, docs):
    renamed = docs.selectExpr("doc_id as id", "text as body", "lang")
    out = DD.minhash_signatures(renamed, text_col="body", id_col="id")
    assert out.count() == docs.count()


def test_resize_nearest_exact():
    """Pure-numpy nearest-neighbor resize: exact index-map semantics
    (output (r,c) = input (floor(r*H/oh), floor(c*W/ow))), shape checks,
    identity at same size, and determinism through the stub decode chain."""
    import numpy as np

    from geojson_vt_cpp_spark.operators.multimodal import (
        decode_image_stub,
        resize_nearest,
    )

    img = np.arange(5 * 7 * 3, dtype=np.uint8).reshape(5, 7, 3)
    out = resize_nearest(img, 3, 2)
    assert out.shape == (2, 3, 3)
    for r in range(2):
        for c in range(3):
            assert (out[r, c] == img[(r * 5) // 2, (c * 7) // 3]).all()
    assert (resize_nearest(img, 7, 5) == img).all()  # identity
    up = resize_nearest(img, 14, 10)                 # upscale replicates
    assert up.shape == (10, 14, 3)
    assert (up[::2, ::2] == img).all()
    a = resize_nearest(decode_image_stub(b"x", 100, 60, fake=True), 8, 8)
    b = resize_nearest(decode_image_stub(b"x", 100, 60, fake=True), 8, 8)
    assert (a == b).all()


def test_video_frame_sampling_spark(spark):
    """sample_video_frames plumbing: one row per every-3rd frame, counts
    derived from the hash metadata, deterministic."""
    from geojson_vt_cpp_spark.operators.multimodal import (
        sample_video_frames,
        synthesize_video_table,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").where("doc_id < 8")
    media = synthesize_video_table(docs)
    out = sample_video_frames(media, every_k=3).collect()
    meta = {r["doc_id"]: r["n_frames"] for r in media.collect()}
    want_rows = sum((n + 2) // 3 for n in meta.values())
    assert len(out) == want_rows
    assert all(r["frame_idx"] % 3 == 0 and r["frame_idx"] < r["n_frames"] for r in out)


def test_capped_pairs_flood_bounded_and_cluster_equivalent(spark):
    """Adversarial near-duplicate flood: 40 identical docs (one LSH bucket)
    + 20 distinct docs. Uncapped pairs explode O(n^2) in the hot bucket;
    the capped operator emits O(n) star pairs for it, keeps exact
    all-pairs for small buckets, and yields the SAME connected components
    (the consumer of the pair stream)."""
    from geojson_vt_cpp_spark.operators.dedup import (
        connected_components,
        minhash_near_dup_pairs,
        minhash_near_dup_pairs_capped,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, base, "en") for i in range(40)]
    rows += [(100 + i, f"distinct document number {i} " + "x" * i, "en")
             for i in range(20)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")

    full = minhash_near_dup_pairs(docs)
    capped = minhash_near_dup_pairs_capped(docs, cap=8)
    n_full, n_capped = full.count(), capped.count()
    # hot bucket: 40*39/2 = 780 exact pairs vs 39 star pairs
    assert n_full >= 780
    assert n_capped < n_full and n_capped <= 39 + 8 * 7 // 2 * 20

    from pyspark.sql import functions as F

    nodes = docs.select(F.col("doc_id").alias("id"))

    def comps(pairs):
        cc = connected_components(pairs, nodes, src="doc_a", dst="doc_b")
        return {
            tuple(sorted(r["m"]))
            for r in cc.groupBy("comp")
            .agg(F.collect_list("id").alias("m"))
            .collect()
        }

    assert comps(full) == comps(capped)


def test_capped_pairs_equal_uncapped_when_no_hot_bucket(spark, docs):
    """On a corpus whose buckets all fit the cap, capped == uncapped."""
    from geojson_vt_cpp_spark.operators.dedup import (
        minhash_near_dup_pairs,
        minhash_near_dup_pairs_capped,
    )

    small = docs.where("doc_id % 7 = 3")  # thin the dup groups under cap=32
    full = minhash_near_dup_pairs(small)
    capped = minhash_near_dup_pairs_capped(small, cap=32)
    assert full.exceptAll(capped).count() == 0
    assert capped.exceptAll(full).count() == 0
