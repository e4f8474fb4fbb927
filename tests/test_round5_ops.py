"""Round-5 operator gates: the all-pairs guards must be ON by default
(VERDICT r4 item 5) — a bare call to an exact-baseline operator cannot
silently build a hot-key quadratic join / oversized kernel block."""

from __future__ import annotations

import pytest


def test_ngram_jaccard_default_guard_drops_planted_hot_shingle(spark):
    """1001 boilerplate clones share one shingle (df=1001 > the 1000
    default); by default that shingle is dropped before the self-join,
    so the clones pair with NOTHING while a control near-dup pair
    (unique shingles) still surfaces."""
    from grpc_map_reduce_spark.operators.dedup import (
        NGRAM_MAX_DF_DEFAULT,
        ngram_jaccard_pairs,
    )

    n_clones = NGRAM_MAX_DF_DEFAULT + 1
    rows = [(i, "alpha beta gamma delta") for i in range(n_clones)]
    rows += [
        (100_000, "unique control text about spark engines"),
        (100_001, "unique control text about spark engines"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    got = {(r.doc_a, r.doc_b) for r in ngram_jaccard_pairs(docs).collect()}
    assert got == {(100_000, 100_001)}, (
        "default guard must drop the df>max_df shingle entirely and "
        "keep the control pair"
    )


def test_ngram_jaccard_explicit_none_keeps_hot_shingle(spark):
    """max_df=None (the oracle-twin config) keeps hot shingles — the
    quadratic semantics remain available, but only by explicit ask."""
    from grpc_map_reduce_spark.operators.dedup import ngram_jaccard_pairs

    rows = [(i, "alpha beta gamma delta") for i in range(5)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # with the tiny corpus the default guard is a no-op too, so force
    # a max_df the clones exceed, then show None disables it
    assert ngram_jaccard_pairs(docs, max_df=3).count() == 0
    assert ngram_jaccard_pairs(docs, max_df=None).count() == 10  # C(5,2)


def test_int8_topk_recall_vs_float_baseline(spark, sf_dir):
    """Quantization must cost little retrieval quality: int8 top-10
    overlaps the float cosine top-10 at >= 0.8 mean recall on the
    fixture embeddings (the standard SQ sanity bar)."""
    from pyspark.sql import functions as F

    from grpc_map_reduce_spark.operators.similarity import cosine_topk, int8_topk
    from grpc_map_reduce_spark.sources.tables import table

    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    exact = {}
    for r in cosine_topk(emb, queries).collect():
        exact.setdefault(r.query_id, set()).add(r.neighbor_id)
    quant = {}
    for r in int8_topk(emb, queries).collect():
        quant.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = [
        len(exact[q] & quant.get(q, set())) / len(exact[q]) for q in exact
    ]
    assert sum(recalls) / len(recalls) >= 0.8, recalls

    # Worst-case inputs for the float kernel's exactness: 1-dim vectors
    # quantize every component to ±127 (the largest product), and
    # 64-dim sign vectors round every component up (127/8 → 16).  Every
    # dot_q and the (dot desc, id) ranking must equal an int64 numpy
    # recompute over the operator's own quantized vectors.
    import numpy as np

    from grpc_map_reduce_spark.operators.similarity import int8_quantize

    rng = np.random.RandomState(5)
    for dim in (1, 64):
        rows = [(i, [float(x) for x in rng.choice([-1.0, 1.0], dim)])
                for i in range(40)]
        vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        qv = {r.id: np.array(r.qvec, dtype=np.int64)
              for r in int8_quantize(vecs).collect()}
        if dim == 1:
            assert all(abs(int(v[0])) == 127 for v in qv.values())
        got = {}
        for r in int8_topk(vecs, vecs.filter(F.col("vec_id") < 6), k=5,
                           n_blocks=4).collect():
            got.setdefault(r.query_id, []).append((r.rank, r.neighbor_id, r.dot_q))
        for q in range(6):
            ranked = sorted((-int(qv[q] @ qv[c]), c) for c in qv if c != q)[:5]
            want = [(i + 1, c, -d) for i, (d, c) in enumerate(ranked)]
            assert sorted(got[q]) == want, (dim, q)


def test_grouped_topk_string_group_col(spark, sf_dir):
    """The group key of a grouped top-k may be any column type: the
    packs read it from the input schema.  A string relabeling of the
    int ``label`` groups must give the registered grouped query's rows."""
    from pyspark.sql import functions as F

    from grpc_map_reduce_spark.operators.similarity import (
        GROUPED_ANN_K,
        cosine_topk,
        q_grouped_topk,
    )
    from grpc_map_reduce_spark.sources.tables import table

    emb = table(spark, sf_dir, "embeddings").withColumn(
        "label", F.concat(F.lit("g"), F.col("label").cast("string")))
    got = cosine_topk(emb, emb.filter(F.col("vec_id") < 8), k=GROUPED_ANN_K,
                      n_blocks=4, group_col="label").collect()
    want = q_grouped_topk(spark, sf_dir).collect()
    assert got and sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_source_overlap_kmv_exact_when_k_covers_union(spark):
    """With k >= |A ∪ B| the KMV estimate IS the exact Jaccard of the
    shingle sets — planted sources with known overlap must come out
    exactly right (estimator math, not just plumbing)."""
    import hashlib
    import re

    from grpc_map_reduce_spark.operators.sketches import source_overlap_kmv

    texts = {
        "a": ["the quick brown fox jumps over the lazy dog",
              "pack my box with five dozen liquor jugs"],
        "b": ["the quick brown fox jumps over the lazy dog",  # clone of a1
              "how vexingly quick daft zebras jump today"],
        "c": ["completely disjoint content about spark engines here"],
    }
    rows = [
        (100 * i + j, src, t)
        for i, (src, ts) in enumerate(sorted(texts.items()))
        for j, t in enumerate(ts)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")

    def shingle_set(ts):
        out = set()
        for t in ts:
            ws = [w for w in re.split(r"[^a-z]+", t.lower()) if w]
            grams = ([" ".join(ws)] if len(ws) <= 3 else
                     [" ".join(ws[i:i + 3]) for i in range(len(ws) - 2)])
            out |= {int(hashlib.md5(g.encode()).hexdigest()[:15], 16)
                    for g in grams}
        return out

    sets = {s: shingle_set(ts) for s, ts in texts.items()}
    got = {
        (r.source_a, r.source_b): (r.k_used, r.n_common, r.jaccard_bp)
        for r in source_overlap_kmv(docs, k=1024).collect()
    }
    for sa, sb in [("a", "b"), ("a", "c"), ("b", "c")]:
        union = sets[sa] | sets[sb]
        inter = sets[sa] & sets[sb]
        assert got[(sa, sb)] == (
            len(union), len(inter), len(inter) * 10000 // len(union)
        )
    assert got[("a", "b")][1] > 0          # the planted clone overlaps
    assert got[("a", "c")][1] == 0         # disjoint stays disjoint


def test_label_propagation_matches_pure_python(spark):
    """Fixed-K synchronous LPA on a planted two-clique graph must
    equal an independent pure-Python run of the same contract
    (majority vote, ties (count desc, label asc))."""
    from collections import Counter, defaultdict

    from grpc_map_reduce_spark.operators.clustering import (
        LPA_ITERS,
        label_propagation,
    )

    cliques = [[1, 2, 3, 4], [11, 12, 13, 14, 15]]
    edges = [(a, b) for c in cliques for a in c for b in c if a < b]
    edges.append((4, 11))  # one bridge — communities must still split
    df = spark.createDataFrame(edges, "src long, dst long")

    adj = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    labels = {n: n for n in adj}
    for _ in range(LPA_ITERS):
        new = {}
        for n, nbrs in adj.items():
            votes = Counter(labels[v] for v in nbrs)
            new[n] = min(votes, key=lambda l: (-votes[l], l))
        labels = new
    sizes = Counter(labels.values())
    want = {n: (l, sizes[l]) for n, l in labels.items()}

    got = {
        r.node: (r.community, r.community_size)
        for r in label_propagation(df).collect()
    }
    assert got == want
    # the bridge must not merge the cliques into one community
    assert len({c for c, _ in got.values()}) >= 2


def test_peak_concurrency_matches_pure_python_sweep(spark, sf_dir):
    """The two-phase prefix sum must equal a single-threaded
    sweep-line over the full sorted delta stream."""
    from collections import defaultdict

    from grpc_map_reduce_spark.operators.timeseries import (
        CONC_WINDOW_S,
        peak_concurrency,
    )
    from grpc_map_reduce_spark.sources.tables import table

    events = table(spark, sf_dir, "events")
    got = {
        r.hour: (r.peak_concurrency, r.n_starts)
        for r in peak_concurrency(events).collect()
    }

    import datetime

    ts = [r.ts for r in events.select("ts").collect()]
    deltas = [(t, 1) for t in ts] + [
        (t + datetime.timedelta(seconds=CONC_WINDOW_S), -1) for t in ts
    ]
    deltas.sort()
    run = 0
    peak: dict = {}
    starts: dict = defaultdict(int)
    for t, d in deltas:
        run += d
        h = t.replace(minute=0, second=0, microsecond=0)
        peak[h] = max(peak.get(h, run), run)
        if d == 1:
            starts[h] += 1
    want = {h: (peak[h], starts.get(h, 0)) for h in peak}
    assert got == want


def test_centroid_classifier_learns_and_matches_pure_python(spark, sf_dir):
    """The in-engine nearest-centroid classifier must (a) reproduce an
    independent pure-Python training run exactly (quantize → class
    sums → cleared-denominator margins) and (b) actually learn —
    accuracy above the majority-class baseline on the label-0-vs-1
    problem."""
    import math

    from grpc_map_reduce_spark.operators.classifier import centroid_classifier
    from grpc_map_reduce_spark.sources.tables import table

    emb = table(spark, sf_dir, "embeddings")
    rows = emb.filter("label IN (0, 1)").select(
        "vec_id", "embedding", "label"
    ).collect()
    data = []
    for r in rows:
        nrm = math.sqrt(sum(float(x) * float(x) for x in r.embedding))
        q = tuple(round(float(x) / nrm * 127) for x in r.embedding)
        data.append((r.vec_id, r.label, q))
    A = [x for _, l, x in data if l == 0]
    B = [x for _, l, x in data if l == 1]
    na, nb = len(A), len(B)
    dims = len(data[0][2])
    sa = [sum(v[j] for v in A) for j in range(dims)]
    sb = [sum(v[j] for v in B) for j in range(dims)]
    saa = sum(a * a for a in sa)
    sbb = sum(b * b for b in sb)
    scale = na * na * nb * nb

    want = {}
    for vid, lab, x in data:
        xsa = sum(a * b for a, b in zip(x, sa))
        xsb = sum(a * b for a, b in zip(x, sb))
        m = (2 * xsa * na * nb * nb - saa * nb * nb
             - 2 * xsb * nb * na * na + sbb * na * na)
        ms = -((-m) // scale) if m < 0 else m // scale
        pred = 0 if m > 0 else 1
        want[vid] = (ms, pred, lab, pred == lab)

    got = {
        r.vec_id: (r.margin_scaled, r.pred_label, r.true_label, r.correct)
        for r in centroid_classifier(emb).collect()
    }
    assert got == want

    acc = sum(1 for v in got.values() if v[3]) / len(got)
    majority = max(na, nb) / (na + nb)
    assert acc > majority + 0.1, (acc, majority)


def test_psi_detects_planted_drift(spark):
    """A minority source with a shifted score distribution must show a
    much larger PSI than a majority source that IS the reference."""
    from grpc_map_reduce_spark.operators.data_quality import source_quality_psi

    rows = []
    for i in range(90):  # majority: stopword-rich English-ish
        rows.append((i, "en", "steady", "the cat sat on the mat with a dog"))
    for i in range(90, 100):  # minority: stopword-free — shifted bins
        rows.append((i, "xx", "drifted", "zyx wvu tsr qpo nml kji hgf edc"))
    docs = spark.createDataFrame(
        rows, "doc_id long, lang string, source string, text string"
    )
    psi = {r.source: r.psi_e6 for r in source_quality_psi(docs).collect()}
    assert psi["drifted"] > 10 * max(psi["steady"], 1), psi


# --------------------------------------------------------------------------
# Plan gates + invariants for the round-5 shapes


def test_vocab_oov_single_tokenize_plan(spark, sf_dir):
    """The registered vocab_oov must read the PINNED (doc_id, word,
    tf) table in both consumers — no parquet re-scan, no second
    tokenize, no distinct expand (VERDICT r4 item 2)."""
    from grpc_map_reduce_spark import registry
    from grpc_map_reduce_spark.plans.audit import explain_str

    df = registry.all_queries()["vocab_oov"].spark_fn(spark, sf_dir)
    plan = explain_str(df)
    assert "Scan parquet" not in plan, "consumers must read the checkpoint"
    assert plan.count("Scan ExistingRDD") >= 2  # vocab side + probe side
    assert "Expand" not in plan, "no two-phase distinct (tf is unique)"


def test_peak_concurrency_no_global_sort(spark, sf_dir):
    """The two-phase prefix sum must never range-partition the delta
    stream (that would be the single-ordering trap it exists to
    avoid); the only unpartitioned window is the hour-domain carry."""
    from grpc_map_reduce_spark import registry
    from grpc_map_reduce_spark.plans.audit import explain_str

    df = registry.all_queries()["events_peak_concurrency"].spark_fn(
        spark, sf_dir
    )
    assert "rangepartitioning" not in explain_str(df).lower()


def test_packing_efficiency_invariants(spark, sf_dir):
    """Accounting identities: n_seqs·B == total + pad, 0 <= pad_bp <
    10000, and more/smaller sequences as the budget shrinks."""
    from grpc_map_reduce_spark import registry

    rows = registry.all_queries()["packing_efficiency"].spark_fn(
        spark, sf_dir
    ).collect()
    assert len(rows) == 4
    by_budget = {}
    for r in rows:
        assert r.n_seqs * r.seq_budget == r.total_tokens + r.pad_tokens
        assert 0 <= r.pad_bp < 10000
        assert 0 <= r.n_split_docs
        by_budget[r.seq_budget] = r.n_seqs
    budgets = sorted(by_budget)
    for small, big in zip(budgets, budgets[1:]):
        assert by_budget[small] >= by_budget[big]


def test_vocab_coverage_curve_monotone(spark, sf_dir):
    """Coverage must be non-decreasing in vocabulary size and bounded
    by 100%."""
    from grpc_map_reduce_spark import registry

    rows = sorted(
        registry.all_queries()["vocab_coverage_curve"].spark_fn(
            spark, sf_dir
        ).collect(),
        key=lambda r: r.k,
    )
    prev = -1
    for r in rows:
        assert 0 <= r.coverage_bp <= 10000
        assert r.coverage_bp >= prev
        assert r.vocab_tokens <= r.total_tokens
        prev = r.coverage_bp


def test_embedding_near_dup_block_guard_trips(spark):
    """A block bigger than max_block_rows must raise with sizing
    guidance instead of letting the O(rows²) kernel OOM the task."""
    from grpc_map_reduce_spark.operators.similarity import embedding_near_dup

    rows = [(i, [float(i), 1.0]) for i in range(8)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    with pytest.raises(Exception, match="max_block_rows"):
        embedding_near_dup(emb, n_blocks=1, max_block_rows=4).collect()
    # same data under the bound: runs fine
    assert embedding_near_dup(emb, n_blocks=1, max_block_rows=None).count() >= 0
