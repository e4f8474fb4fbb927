"""Semantics tests for the round-3 training-pipeline operators —
constructed cases and brute-force cross-checks, complementing the
DuckDB oracles (which run on fixture data and could in principle both
be wrong the same way about an edge the fixtures never hit)."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from grpc_map_reduce_spark.operators.dedup import repeated_spans
from grpc_map_reduce_spark.operators.sampling import (
    EPOCH_SHUFFLE_SHARDS,
    epoch_shuffle,
)
from grpc_map_reduce_spark.operators.similarity import (
    SEMDEDUP_THRESHOLD,
    embedding_kmeans,
    semdedup,
)
from grpc_map_reduce_spark.sources.tables import table


def test_repeated_spans_constructed_semantics(spark):
    """Shared windows count only across docs; a window repeated INSIDE
    one doc is not 'shared'; docs shorter than the window emit 0/0."""
    phrase = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    docs = spark.createDataFrame(
        [
            (1, phrase + " one two three"),          # shares the phrase w/ doc 2
            (2, "x y " + phrase),                     # shares w/ doc 1
            (3, phrase.replace("alpha", "omega")),    # unique windows only
            (4, "too short"),                         # < 8 tokens → no windows
            (5, phrase + " filler " + phrase),        # internal repeat, no partner
        ],
        schema="doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in repeated_spans(docs, w=8).collect()}
    assert out[4]["n_windows"] == 0 and out[4]["n_shared_windows"] == 0
    # docs 1 and 2 share exactly the one full-phrase window
    assert out[1]["n_shared_windows"] == 1
    assert out[2]["n_shared_windows"] == 1
    assert out[3]["n_shared_windows"] == 0
    # doc 5's repeat of the phrase matches docs 1/2 (cross-doc), but its
    # internal duplication must not inflate the count beyond its
    # DISTINCT shared windows
    assert out[5]["n_shared_windows"] <= out[5]["n_windows"]
    for r in out.values():
        if r["n_windows"]:
            assert r["shared_bp"] == r["n_shared_windows"] * 10000 // r["n_windows"]


def test_semdedup_matches_bruteforce(spark, sf_dir):
    """keep/n_prior_dups must equal a numpy brute force that reuses the
    operator's own cluster assignment."""
    emb = table(spark, sf_dir, "embeddings")
    rows = emb.select("vec_id", "embedding").collect()
    vids = np.array([r["vec_id"] for r in rows])
    V = np.array([r["embedding"] for r in rows], dtype=np.float64)
    V /= np.linalg.norm(V, axis=1, keepdims=True)
    order = np.argsort(vids)
    vids, V = vids[order], V[order]

    assign = {
        r["vec_id"]: r["cluster"]
        for r in embedding_kmeans(emb).collect()
    }
    got = {r["vec_id"]: r for r in semdedup(emb).collect()}
    assert set(got) == set(assign)

    sims = np.round(V @ V.T, 6)
    for i, vid in enumerate(vids):
        prior = [
            j for j in range(i)
            if assign[int(vids[j])] == assign[int(vid)]
        ]
        nd = sum(1 for j in prior if sims[i, j] >= SEMDEDUP_THRESHOLD)
        r = got[int(vid)]
        assert r["cluster"] == assign[int(vid)]
        assert r["n_prior_dups"] == nd, f"vec {vid}"
        assert r["keep"] == (nd == 0)
        want_mx = max((sims[i, j] for j in prior), default=-2.0)
        assert abs(r["max_prior_sim"] - want_mx) < 1e-9


def test_epoch_shuffle_is_a_sharded_permutation(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    out = epoch_shuffle(docs).select("doc_id", "shard", "shuffle_pos").collect()
    assert len(out) == docs.count()
    by_shard: dict[int, list[int]] = {}
    for r in out:
        assert 0 <= r["shard"] < EPOCH_SHUFFLE_SHARDS
        by_shard.setdefault(r["shard"], []).append(r["shuffle_pos"])
    # positions within each shard are exactly 1..n (a permutation)
    for shard, pos in by_shard.items():
        assert sorted(pos) == list(range(1, len(pos) + 1)), shard
    # a different seed produces a different permutation (same doc set)
    a = {(r["doc_id"], r["shard"], r["shuffle_pos"]) for r in out}
    b = {
        (r["doc_id"], r["shard"], r["shuffle_pos"])
        for r in epoch_shuffle(docs, seed=18)
        .select("doc_id", "shard", "shuffle_pos").collect()
    }
    assert a != b
    # ...and the same seed is bit-identical (determinism)
    c = {
        (r["doc_id"], r["shard"], r["shuffle_pos"])
        for r in epoch_shuffle(docs)
        .select("doc_id", "shard", "shuffle_pos").collect()
    }
    assert a == c


def test_dsir_scores_match_pure_python(spark, sf_dir):
    """logw must equal an independent pure-Python reconstruction of
    the hashed-unigram importance weights (same md5 bucketing, same
    add-one smoothing) to within float-sum reordering tolerance."""
    import hashlib
    import math
    import re
    from collections import Counter

    from grpc_map_reduce_spark.operators.sampling import (
        DSIR_BUCKETS,
        DSIR_TARGET_SOURCE,
        dsir_scores,
    )

    docs = table(spark, sf_dir, "documents")
    token_re = re.compile(r"[^a-z]+")
    per_doc: dict[int, tuple[str, list[int]]] = {}
    for r in docs.select("doc_id", "source", "text").collect():
        bs = [
            int(hashlib.md5(w.encode()).hexdigest()[:8], 16) % DSIR_BUCKETS
            for w in token_re.split(r["text"].lower()) if w
        ]
        per_doc[r["doc_id"]] = (r["source"], bs)

    cr: Counter = Counter()
    ct: Counter = Counter()
    for src, bs in per_doc.values():
        cr.update(bs)
        if src == DSIR_TARGET_SOURCE:
            ct.update(bs)
    r_total, t_total = sum(cr.values()), sum(ct.values())
    lam = {
        b: math.log((ct[b] + 1) / (t_total + DSIR_BUCKETS))
        - math.log((cr[b] + 1) / (r_total + DSIR_BUCKETS))
        for b in cr
    }

    got = {r["doc_id"]: r for r in dsir_scores(docs).collect()}
    assert set(got) == set(per_doc)
    for doc_id, (src, bs) in per_doc.items():
        want = round(sum(lam[b] for b in bs), 4)
        r = got[doc_id]
        assert abs(r["logw"] - want) <= 1e-4 + 1e-9, doc_id
        assert r["target_like"] == (r["logw"] > 0)
        assert r["source"] == src


def test_lang_id_profiles_and_totality(spark, sf_dir):
    from grpc_map_reduce_spark.operators.lang_id import (
        LANG_PROFILE_K,
        classify_langs,
        lang_profiles,
    )
    from grpc_map_reduce_spark.sources.tables import table

    docs = table(spark, sf_dir, "documents")
    prof = lang_profiles(docs).collect()
    per_lang = {}
    for r in prof:
        per_lang.setdefault(r["lang"], set()).add(r["tg"])
    assert per_lang and all(len(v) <= LANG_PROFILE_K for v in per_lang.values())
    assert all(len(tg) == 3 for v in per_lang.values() for tg in v)

    out = classify_langs(docs, lang_profiles(docs))
    # total: one row per document, even ones too short to produce
    # trigrams (they'd predict 'und')
    assert out.count() == docs.count()
    langs = {r["lang"] for r in prof}
    assert out.filter(~F.col("pred_lang").isin(*langs, "und")).count() == 0


def test_lang_id_code_path_matches_string_path(spark, sf_dir):
    """The packed-int64 vectorized formulation (the registered query,
    round 11) must be row-identical to the string/HOF reference twin —
    including profile tie-breaks, which is exactly what the
    order-preserving codepoint packing guarantees."""
    from grpc_map_reduce_spark.operators.lang_id import (
        classify_langs,
        classify_langs_codes,
        lang_profile_codes,
        lang_profiles,
    )
    from grpc_map_reduce_spark.sources.tables import table

    docs = table(spark, sf_dir, "documents")
    ref = {r["doc_id"]: (r["lang"], r["pred_lang"], r["score"],
                         r["is_correct"])
           for r in classify_langs(docs, lang_profiles(docs)).collect()}
    profile = [(r["lang"], r["code"])
               for r in lang_profile_codes(docs).collect()]
    got = {r["doc_id"]: (r["lang"], r["pred_lang"], r["score"],
                         r["is_correct"])
           for r in classify_langs_codes(docs, profile).collect()}
    assert got == ref


def test_lang_id_short_doc_gets_und(spark):
    from grpc_map_reduce_spark.operators.lang_id import (
        classify_langs,
        lang_profiles,
    )

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps", "en"), (2, "ab", "de")],
        "doc_id long, text string, lang string",
    )
    rows = {r["doc_id"]: r for r in classify_langs(docs, lang_profiles(docs)).collect()}
    assert rows[2]["pred_lang"] == "und" and rows[2]["score"] == 0
    assert not rows[2]["is_correct"]
    assert rows[1]["pred_lang"] == "en" and rows[1]["is_correct"]


def test_semdedup_auto_k_rule():
    """The auto-scaled K must be fixture-invisible (floor at KMEANS_K
    for every test SF, keeping the unrolled-Lloyd oracle an exact
    twin) and grow ∝ n past the floor so per-cluster work stays
    bounded."""
    from grpc_map_reduce_spark.operators.similarity import (
        KMEANS_K,
        SEMDEDUP_TARGET_CLUSTER_ROWS,
        semdedup_auto_k,
    )

    assert semdedup_auto_k(200) == KMEANS_K       # sf0.01 fixture
    assert semdedup_auto_k(2000) == KMEANS_K      # sf0.1 fixture
    boundary = KMEANS_K * SEMDEDUP_TARGET_CLUSTER_ROWS
    assert semdedup_auto_k(boundary - 1) == KMEANS_K
    assert semdedup_auto_k(50_000) == 50_000 // SEMDEDUP_TARGET_CLUSTER_ROWS
    assert semdedup_auto_k(50_000) > KMEANS_K


def test_centroid_operators_empty_corpus_returns_empty(spark):
    """A pipeline that filters everything out must get an empty result
    with the operator's schema, not a crash — the behavior the retired
    per-row centroid join provided implicitly."""
    from grpc_map_reduce_spark.operators.similarity import (
        embedding_kmeans,
        ivf_topk,
    )

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    km = embedding_kmeans(empty)
    assert km.count() == 0
    assert km.columns == ["vec_id", "cluster", "cluster_size"]
    sd = semdedup(empty, k=4)
    assert sd.count() == 0
    assert sd.columns == [
        "vec_id", "cluster", "n_prior_dups", "keep", "max_prior_sim"]
    queries = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<float>")
    for qs in (empty, queries):
        iv = ivf_topk(empty, qs, k=3, n_lists=4)
        assert iv.count() == 0
        assert iv.columns == ["query_id", "neighbor_id", "sim", "rank"]
