"""Streaming incremental dedup — the streaming twin of
``operators/dedup.incremental_dedup``: a STREAM of incoming documents
is deduped against a STATIC corpus index, which is how a production
ingest hop actually runs (each arriving shard probes the already-kept
corpus; the corpus is a pre-materialized signature table, not
re-hashed per batch).

Everything stream-side is map-only or a stream-static join — no
stream-side shuffle of the corpus ever happens:

  * one Arrow-batched UDF per incoming doc computes BOTH its distinct
    60-bit shingle-hash set and its full MinHash signature (the batch
    path's ``groupBy(doc_id)`` signature aggregation would be a
    stateful streaming agg; fusing it into the map-only UDF removes
    the state entirely while producing bit-identical signatures);
  * band keys are derived JVM-side from the signature array by the
    batch index's own ``band_rows`` (same ``concat_ws("_", m_i...)``
    format);
  * candidates come from a stream-static join against the corpus
    band-bucket table; multi-band duplicates collapse via
    ``dropDuplicates`` (bounded by the in-flight shard in the
    availableNow/replay harness; a production continuous stream would
    use ``dropDuplicatesWithinWatermark`` on an ingest timestamp);
  * the exact-Jaccard rescore is a second stream-static join against
    the corpus shingle-set table, scored by the batch ``jaccard_scores``.

Output rows ``(doc_id, match_id, jaccard)`` append per micro-batch —
exactly ``operators/dedup.incremental_scored_pairs`` (parity-gated in
tests/test_streaming.py).
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from grpc_map_reduce_spark.operators.dedup import (
    LSH_NEAR_DUP_THRESHOLD,
    LSH_ROWS_PER_BAND,
    MINHASH_A,
    MINHASH_B,
    MINHASH_P,
    SKETCH_THRESHOLD,
    _shingle_sets,
    _side_is_corpus,
    band_rows,
    jaccard_scores,
    minhash_signatures,
)
from grpc_map_reduce_spark.plans.checkpoint import PIN_LEVEL


def minhash_struct_udf(n: int = 3):
    """Map-only producer of ``struct<sh_set: array<long>, sigs:
    array<long>>`` per document — the same 60-bit shingle hashes as
    ``functions.text.distinct_shingle_hashes_udf`` and the same
    signature arithmetic as the batch ``minhash_signatures``
    (``min((a·(h mod P) + b) mod P)``), fused so a stream needs no
    signature aggregation state."""
    import hashlib
    import re

    from pyspark.sql.functions import pandas_udf

    from grpc_map_reduce_spark.functions.text import TOKEN_SPLIT_RE

    token_re = re.compile(TOKEN_SPLIT_RE)

    @pandas_udf("struct<sh_set: array<long>, sigs: array<long>>")
    def _ms(text: pd.Series) -> pd.DataFrame:
        sh_col, sig_col = [], []
        for t in text:
            ws = [w for w in token_re.split(t.lower()) if w]
            if len(ws) <= n:
                grams = [" ".join(ws)] if ws else []
            else:
                grams = [" ".join(ws[i:i + n]) for i in range(len(ws) - n + 1)]
            hs = [
                int(hashlib.md5(g.encode()).hexdigest()[:15], 16)
                for g in dict.fromkeys(grams)
            ]
            sh_col.append(hs)
            if hs:
                mod = [h % MINHASH_P for h in hs]
                sig_col.append([
                    min((a * h + b) % MINHASH_P for h in mod)
                    for a, b in zip(MINHASH_A, MINHASH_B)
                ])
            else:
                sig_col.append([])
        return pd.DataFrame({"sh_set": sh_col, "sigs": sig_col})

    return _ms.asNondeterministic()


#: A stream row's 16 signature components, read from the map-only
#: struct's ``sigs`` array (SQL strings for :func:`band_rows`).
_STREAM_SIG_COMPONENTS = [
    f"element_at(ms.sigs, {i + 1})" for i in range(len(MINHASH_A))]


def corpus_index(docs: DataFrame, n: int = 3,
                 rows_per_band: int = LSH_ROWS_PER_BAND
                 ) -> tuple[DataFrame, DataFrame]:
    """The static corpus side, built once with the BATCH machinery:
    ``buckets (band_idx, key, match_id)`` and ``sets (match_id,
    sh_set)``.  At scale both live as bucketed parquet, maintained
    incrementally as shards are accepted."""
    corpus = docs.filter(_side_is_corpus(F.col("doc_id")))
    sets = _shingle_sets(corpus, n)
    buckets = band_rows(minhash_signatures(corpus, n, sets=sets),
                        ["doc_id AS match_id"], rows_per_band)
    return buckets, sets.selectExpr("doc_id AS match_id", "sh_set AS _sb")


def streaming_incremental_dedup(doc_stream: DataFrame, buckets: DataFrame,
                                corpus_sets: DataFrame, n: int = 3,
                                threshold: float = LSH_NEAR_DUP_THRESHOLD,
                                rows_per_band: int = LSH_ROWS_PER_BAND,
                                ts_col: str | None = None,
                                dedup_within: str = "1 hour") -> DataFrame:
    """(doc_id, match_id, jaccard) appended per micro-batch: each
    streamed doc's above-threshold corpus matches.

    ``ts_col``: optional ingest-timestamp column on the stream.  When
    given, the candidate dedup becomes
    ``dropDuplicatesWithinWatermark`` under a ``dedup_within``
    watermark — the CONTINUOUS-stream state contract (state expires
    with event time instead of accumulating for the run), exactly the
    swap the module docstring promises.  Default (None) keeps the
    run-scoped ``dropDuplicates`` for bounded replays.

    RETURNED CONTRACT under ``ts_col``: output uniqueness of a
    (doc_id, match_id) pair holds only WITHIN a ``dedup_within``
    window.  A candidate recurring more than ``dedup_within`` of
    event time later re-emits the same scored pair — that re-emit IS
    the state-expiry contract, not a bug — so the append sink is
    at-least-once per pair and downstream consumers must dedup (or
    upsert) on (doc_id, match_id) if they need exactly-once pairs
    (ADVICE r8)."""
    if ts_col is not None:
        doc_stream = doc_stream.withWatermark(ts_col, dedup_within)
    ts_cols = [ts_col] if ts_col is not None else []
    enriched = (
        doc_stream.select(
            "doc_id", *ts_cols, minhash_struct_udf(n)("text").alias("ms")
        )
        .filter(F.size("ms.sh_set") > 0)
    )
    exp = band_rows(enriched, ["doc_id", *ts_cols, "ms.sh_set AS _sa"],
                    rows_per_band, _STREAM_SIG_COMPONENTS)
    joined = exp.join(buckets, ["band_idx", "key"])  # stream-static
    if ts_col is not None:
        cand = joined.dropDuplicatesWithinWatermark(
            ["doc_id", "match_id"]
        ).drop(ts_col)
    else:
        cand = joined.dropDuplicates(["doc_id", "match_id"])
    return (
        jaccard_scores(cand.join(corpus_sets, "match_id"))  # stream-static
        .where(F.col("jaccard") >= threshold)
        .select("doc_id", "match_id", "jaccard")
    )


# --------------------------------------------------------------------------
# Sketch-mode twin (round 11): the rescore decision propagates into
# the streaming engine.  The exact twin above joins every candidate to
# the corpus SHINGLE-SET table (`corpus_sets`) — per-candidate
# transport proportional to document size, the same floor the batch
# sketch path removed.  Here the score is MinHash signature agreement
# computed from FIXED-WIDTH arrays: the stream row carries its own 16
# signature components (already in the map-only struct), the corpus
# side a (match_id, 16-long array) table, and the agreement count is
# pure column math after the stream-static join — transport per
# candidate is 16 longs regardless of document length, and the corpus
# shingle sets are never read.  At r=1 the number of equal signature
# components IS the number of shared band buckets, so this equals the
# batch `incremental_sketch_pairs` score exactly (parity-gated).


def corpus_sketch_index(docs: DataFrame, n: int = 3,
                        rows_per_band: int = LSH_ROWS_PER_BAND
                        ) -> tuple[DataFrame, DataFrame]:
    """Static corpus side for the sketch-mode stream: ``buckets
    (band_idx, key, match_id)`` and ``sigs (match_id, _sigb:
    array<long>)`` — no shingle sets ever materialized (the whole
    point of the mode).

    Both outputs are lazily pinned (round-11 review): stream-static
    joins re-execute the static side's plan EVERY micro-batch, so an
    unpinned index would re-run the corpus tokenization UDF per
    trigger, twice.  The pinned frames are the two small fixed-width
    products (band keys + 16-long signatures), not the shingle-array
    frame whose pin was the 3125× OOM — at real scale both live as
    bucketed parquet, exactly like the exact twin's index."""
    corpus = docs.filter(_side_is_corpus(F.col("doc_id")))
    sig = minhash_signatures(corpus, n).localCheckpoint(
        eager=False, storageLevel=PIN_LEVEL)
    buckets = band_rows(sig, ["doc_id AS match_id"], rows_per_band)
    comps = ", ".join(f"m{i}" for i in range(len(MINHASH_A)))
    return buckets, sig.selectExpr("doc_id AS match_id",
                                   f"array({comps}) AS _sigb")


def streaming_incremental_dedup_sketch(
        doc_stream: DataFrame, buckets: DataFrame, corpus_sigs: DataFrame,
        n: int = 3, threshold: float = SKETCH_THRESHOLD,
        rows_per_band: int = LSH_ROWS_PER_BAND,
        ts_col: str | None = None,
        dedup_within: str = "1 hour") -> DataFrame:
    """(doc_id, match_id, n_bands, est_jaccard) appended per
    micro-batch: each streamed doc's corpus candidates at signature
    agreement ≥ ``threshold``.  Same watermark/dedup-state contract as
    :func:`streaming_incremental_dedup`; the agreement count is
    recomputed from the two signature arrays AFTER the candidate
    dedup (the dedup collapses multi-band matches to one row, so the
    band join can't be counted — the arrays can, and at r=1 the two
    numbers are identical)."""
    if rows_per_band != 1:
        # At r>1 per-component agreement (what zip_with counts below)
        # is NOT the shared-band count the batch twin and the
        # estimator use: a pair sharing one 2-row band has agreement
        # 2 but n_bands 1.  The registered banding is r=1; refuse the
        # silent divergence instead of emitting a mislabeled estimate
        # (round-11 review).
        raise ValueError(
            "streaming sketch twin supports rows_per_band=1 only "
            "(signature agreement == shared-band count requires r=1)")
    n_bands_total = len(MINHASH_A)
    min_bands = max(1, math.ceil(threshold * n_bands_total))
    if ts_col is not None:
        doc_stream = doc_stream.withWatermark(ts_col, dedup_within)
    ts_cols = [ts_col] if ts_col is not None else []
    enriched = (
        doc_stream.select(
            "doc_id", *ts_cols, minhash_struct_udf(n)("text").alias("ms")
        )
        .filter(F.size("ms.sh_set") > 0)
    )
    exp = band_rows(enriched, ["doc_id", *ts_cols, "ms.sigs AS _siga"], 1,
                    _STREAM_SIG_COMPONENTS)
    joined = exp.join(buckets, ["band_idx", "key"])  # stream-static
    if ts_col is not None:
        cand = joined.dropDuplicatesWithinWatermark(
            ["doc_id", "match_id"]
        ).drop(ts_col)
    else:
        cand = joined.dropDuplicates(["doc_id", "match_id"])
    return (
        cand.join(corpus_sigs, "match_id")  # stream-static, 16 longs
        .selectExpr(
            "doc_id", "match_id",
            "CAST(size(filter(zip_with(_siga, _sigb, (a, b) -> a = b),"
            " x -> x)) AS BIGINT) AS n_bands")
        .where(f"n_bands >= {min_bands}")
        .selectExpr("doc_id", "match_id", "n_bands",
                    f"round(n_bands / {n_bands_total}, 6) AS est_jaccard")
    )


# --------------------------------------------------------------------------
# Embedding twin (round 7): a STREAM of incoming vectors deduped
# against a static corpus band index — the streaming face of
# operators/similarity.embedding_incremental_matches, same shape as
# the text twin above: map-only signature computation per micro-batch
# (one vectorized matmul per Arrow batch; the hyperplane matrix is
# seed-derived in every task, no broadcast state), stream-static
# band-bucket join, stream-static vector join + exact cosine rescore.
# No stream-side shuffle of the corpus ever happens.

def emb_band_keys_udf(n_bits: int, rows_per_band: int, seed: int):
    """Map-only producer of ``array<long>`` band keys per vector —
    the batch ``_emb_band_keys`` core (``hyperplane_band_keys`` against
    the seed-derived hyperplanes) fused into one pandas UDF so a
    stream needs no signature aggregation state."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    from grpc_map_reduce_spark.operators.similarity import (
        hyperplane_band_keys,
        hyperplanes,
    )

    assert n_bits % rows_per_band == 0

    @pandas_udf("array<long>")
    def _keys(v: pd.Series) -> pd.Series:
        if not len(v):
            return pd.Series([], dtype=object)
        V = np.array(v.tolist(), dtype=np.float64)
        H = hyperplanes(seed, n_bits, V.shape[1])
        return pd.Series(list(hyperplane_band_keys(V, H, rows_per_band)))

    return _keys


def cosine_sim_udf():
    """Exact cosine of two vector columns, rounded to 6 dp — the batch
    rescore's own numpy core (``cosine_rows``), so stream and batch
    sims are bit-equal."""
    from pyspark.sql.functions import pandas_udf

    from grpc_map_reduce_spark.operators.similarity import cosine_rows

    @pandas_udf("double")
    def _cos(va: pd.Series, vb: pd.Series) -> pd.Series:
        if not len(va):
            return pd.Series([], dtype=float)
        return pd.Series(cosine_rows(va, vb))

    return _cos


def embedding_corpus_index(corpus: DataFrame,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding"
                           ) -> tuple[DataFrame, DataFrame]:
    """The static corpus side, built once with the BATCH machinery at
    the selective production calibration (guard ON): ``buckets
    (band_idx, key, match_id)`` and ``vectors (match_id, _vb)``.  At
    scale both live as bucketed parquet, maintained incrementally as
    shards are accepted."""
    from grpc_map_reduce_spark.operators.similarity import (
        EMB_LSH_BITS,
        EMB_LSH_MAX_BUCKET_DEFAULT,
        EMB_LSH_SEED,
        EMB_SELECTIVE_ROWS_PER_BAND,
        _emb_band_keys,
    )

    cor_k = _emb_band_keys(
        corpus, EMB_LSH_BITS, EMB_SELECTIVE_ROWS_PER_BAND, EMB_LSH_SEED,
        id_col, vec_col,
    ).withColumnRenamed("id", "match_id")
    hot = (
        cor_k.groupBy("band_idx", "key")
        .agg(F.count("*").alias("sz"))
        .filter(F.col("sz") > EMB_LSH_MAX_BUCKET_DEFAULT)
        .select("band_idx", "key")
    )
    buckets = cor_k.join(F.broadcast(hot), ["band_idx", "key"], "left_anti")
    vectors = corpus.select(
        F.col(id_col).cast("long").alias("match_id"),
        F.col(vec_col).alias("_vb"),
    )
    return buckets, vectors


def streaming_embedding_dedup(vec_stream: DataFrame, buckets: DataFrame,
                              corpus_vecs: DataFrame,
                              id_col: str = "vec_id",
                              vec_col: str = "embedding",
                              ts_col: str | None = None,
                              dedup_within: str = "1 hour") -> DataFrame:
    """(vec_id, match_id, sim) appended per micro-batch: each
    streamed vector's above-threshold corpus matches at the selective
    calibration — parity-gated against
    ``embedding_incremental_matches`` in tests/test_streaming.py.
    ``ts_col``/``dedup_within``: same continuous-stream watermark
    contract as :func:`streaming_incremental_dedup`."""
    from grpc_map_reduce_spark.operators.similarity import (
        EMB_LSH_BITS,
        EMB_LSH_SEED,
        EMB_SELECTIVE_ROWS_PER_BAND,
        EMB_SELECTIVE_THRESHOLD,
    )

    keys_udf = emb_band_keys_udf(
        EMB_LSH_BITS, EMB_SELECTIVE_ROWS_PER_BAND, EMB_LSH_SEED
    )
    if ts_col is not None:
        vec_stream = vec_stream.withWatermark(ts_col, dedup_within)
    ts_cols = [ts_col] if ts_col is not None else []
    exp = (
        vec_stream.select(
            F.col(id_col).cast("long").alias("id"),
            *ts_cols,
            F.col(vec_col).alias("_va"),
            F.posexplode(keys_udf(F.col(vec_col))).alias("band_idx", "key"),
        )
    )
    joined = exp.join(buckets, ["band_idx", "key"])  # stream-static
    if ts_col is not None:
        cand = joined.dropDuplicatesWithinWatermark(
            ["id", "match_id"]
        ).drop(ts_col)
    else:
        cand = joined.dropDuplicates(["id", "match_id"])
    return (
        cand.join(corpus_vecs, "match_id")  # stream-static
        .withColumn("sim", cosine_sim_udf()(F.col("_va"), F.col("_vb")))
        .filter(F.col("sim") >= EMB_SELECTIVE_THRESHOLD)
        .select(F.col("id").alias(id_col), "match_id", "sim")
    )
