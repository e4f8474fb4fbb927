"""Deduplication operators over the ``documents`` corpus (extension E1
and the near-dup half of E2 — SURVEY.md §2.2).

Scale design:
  * Exact dedup is a hash aggregation on the dedup key — map-side
    partial keeps shuffle volume at O(distinct keys).  At 100 TB,
    group on a fixed-width digest (xxhash64/md5 of the text), never
    on the raw text bytes, so shuffle rows are ~16 B not ~10 KB.
  * N-gram Jaccard similarity join uses the inverted-index trick:
    explode distinct shingles, self-join on the shingle, count
    common shingles per pair.  Shuffle is on the shingle key; a
    hot shingle (appearing in many docs) quadratically blows up the
    pair count, so real corpora drop stop-shingles above a document
    frequency cap first (``max_df``).
  * Every shingle is represented by its 60-bit md5-derived hash from
    the moment it leaves the tokenizer (functions.text.
    distinct_shingle_hashes_udf): joins shuffle fixed-width 8 B longs,
    set intersections compare longs, and the shingle text never leaves
    the Python worker.  Counts are collision-identical to the string
    formulation (~n²/2⁶¹).
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from grpc_map_reduce_spark.functions.text import (
    distinct_shingle_hashes_udf,
    words,
)
from grpc_map_reduce_spark.sources.tables import spread, table
from grpc_map_reduce_spark.plans.checkpoint import PIN_LEVEL


# --------------------------------------------------------------------------
# E1: exact dedup.  Representative row = min(doc_id) per identical text.
def dedup_exact(docs: DataFrame, key_col: str = "text") -> DataFrame:
    """Group identical ``key_col`` payloads → keeper id + copy count.

    At scale, substitute ``F.xxhash64(key_col)`` as the grouping key
    (collision-checked) to keep shuffle rows fixed-width; fixtures are
    small enough to group on the raw text.
    """
    return (
        docs.groupBy(key_col)
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count("*").alias("n_copies"),
        )
        .select("keep_doc_id", "n_copies")
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_exact(table(spark, sf_dir, "documents"))


ORACLE_DEDUP_EXACT = """
SELECT min(doc_id) AS keep_doc_id, count(*) AS n_copies
FROM documents
GROUP BY text
"""


# --------------------------------------------------------------------------
# E2 (exact-arithmetic near-dup): word-3-gram Jaccard similarity join.

#: Stop-shingle document-frequency guard, ON by default: a shingle in
#: more than this many documents is boilerplate, and its self-join
#: term alone is df² rows — one hot shingle at df=10⁶ is a 10¹²-row
#: partition.  The oracle-twin configuration passes ``max_df=None``
#: EXPLICITLY (exact all-pairs semantics, quadratic by intent).
NGRAM_MAX_DF_DEFAULT = 1000


def ngram_jaccard_pairs(docs: DataFrame, n: int = 3, threshold: float = 0.008,
                        max_df: int | None = NGRAM_MAX_DF_DEFAULT) -> DataFrame:
    """Document pairs (doc_a < doc_b) with shingle-Jaccard ≥ threshold.

    ``max_df`` drops shingles present in more than that many docs
    before the self-join (stop-shingle guard for skew at scale) and is
    ON by default — a bare call cannot accidentally build a hot-key
    quadratic join.  Pass ``max_df=None`` for the exact all-pairs
    semantics (the oracle-checked configuration does, knowingly).
    """
    # Per-doc shingle set size is computed BEFORE the explode and
    # carried on every exploded row, so the pair sizes (na, nb) ride
    # along through the self-join for free — one shuffle join + one
    # aggregation total, instead of joining a separate sizes table
    # twice afterwards (3 shuffle joins).  The duplicated column costs
    # 8 bytes/row on the shuffle; the avoided joins cost two full
    # shuffles of the pair set.
    # The join key is the shingle's 60-bit hash, not the string: 8 B
    # fixed-width shuffle rows and long-equality probes instead of
    # ~20 B strings (see functions.text.distinct_shingle_hashes_udf
    # for the collision argument — counts are identical).
    # Lazy checkpoint: the self-join consumes sh on BOTH sides, and
    # Spark would otherwise run the shingling UDF twice over the whole
    # corpus.  Pinning the exploded shingle table costs O(total
    # shingles) local storage for a 2× cut in tokenization work — the
    # right trade below memory pressure; above it, drop the checkpoint
    # and pay the recompute.
    sh = (
        _shingle_sets(docs, n)
        .select(
            "doc_id",
            F.size("sh_set").alias("n_shingles"),
            F.explode("sh_set").alias("sh_h"),
        )
        .localCheckpoint(eager=False, storageLevel=PIN_LEVEL)
    )
    if max_df is not None:
        hot = (
            sh.groupBy("sh_h").agg(F.count("*").alias("df"))
            .filter(F.col("df") > max_df).select("sh_h")
        )
        sh = sh.join(F.broadcast(hot), "sh_h", "left_anti")
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(b, (F.col("a.sh_h") == F.col("b.sh_h"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n_shingles").alias("na"),
            F.col("b.n_shingles").alias("nb"),
        )
        .agg(F.count("*").alias("n_common"))
    )
    jac = F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common"))
    return (
        common.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # max_df=None EXPLICITLY: this registration is the exact all-pairs
    # oracle twin (hash-stable vs DuckDB); scale callers get the
    # default stop-shingle guard instead.  The round-9 125x probe
    # measured this exact baseline at 8.4x per 5x data — that is the
    # documented quadratic, not a regression; the guarded registration
    # below is the scale path under the same hash gate.
    return ngram_jaccard_pairs(table(spark, sf_dir, "documents"), max_df=None)


#: Stop-shingle cap for the guard-exercising registration (round 9,
#: same rationale as GUARD_DEMO_BUCKET): at the production cap (1000)
#: no fixture shingle is hot, so a guarded registration would be
#: vacuous in the hash.  4 is a cap with hot shingles at EVERY
#: fixture SF (186 @sf0.001, 151 @sf0.01, 25 829 @sf0.1), so the
#: broadcast anti-join drop path itself is what gets hash-checked.
NGRAM_GUARD_DEMO_DF = 4


def q_ngram_jaccard_guarded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Guard-ON twin of `dedup_ngram_jaccard`: the stop-shingle
    anti-join REGISTERED AND FIRING (df cap 4).  Semantics mirrored in
    the oracle exactly as the Spark code computes them: pair
    denominators (na, nb) are FULL distinct-shingle set sizes (sized
    before the guard), n_common counts only non-hot shared shingles —
    dropping a stop-shingle can only lower a pair's Jaccard, never
    raise it."""
    return ngram_jaccard_pairs(table(spark, sf_dir, "documents"),
                               max_df=NGRAM_GUARD_DEMO_DF)


ORACLE_NGRAM_JACCARD_GUARDED = f"""
WITH toks AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), w -> w <> '') AS ws
    FROM documents
),
sh AS (
    SELECT DISTINCT doc_id,
           unnest(list_transform(
               range(1, greatest(len(ws) - 2, 1) + 1),
               i -> array_to_string(ws[i:i+2], ' ')
           )) AS shingle
    FROM toks
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
kept AS (
    SELECT sh.doc_id, sh.shingle
    FROM sh
    JOIN (
        SELECT shingle FROM sh GROUP BY shingle
        HAVING count(*) <= {NGRAM_GUARD_DEMO_DF}
    ) ok USING (shingle)
),
common AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
    FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(n_common * 1.0 / (sa.n + sb.n - n_common), 6) AS jaccard
FROM common
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE round(n_common * 1.0 / (sa.n + sb.n - n_common), 6) >= 0.008
"""


# DuckDB twin: same shingling (1-based inclusive list slice ws[i:i+2]
# == Spark slice(ws, i, 3)), same join, same rounded Jaccard.
ORACLE_NGRAM_JACCARD = """
WITH toks AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), w -> w <> '') AS ws
    FROM documents
),
sh AS (
    SELECT DISTINCT doc_id,
           unnest(list_transform(
               range(1, greatest(len(ws) - 2, 1) + 1),
               i -> array_to_string(ws[i:i+2], ' ')
           )) AS shingle
    FROM toks
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
common AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(n_common * 1.0 / (sa.n + sb.n - n_common), 6) AS jaccard
FROM common
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE round(n_common * 1.0 / (sa.n + sb.n - n_common), 6) >= 0.008
"""


# --------------------------------------------------------------------------
# SimHash: 60-bit locality-sensitive document signature.
#
# Token hash = first 15 hex chars of md5 → int64 (identical in Spark
# and DuckDB, which is what makes this oracle-checkable).  Each bit of
# the signature is the sign of the tf-weighted vote of that bit across
# the document's tokens.  Hamming-near signatures ⇒ similar documents.
SIMHASH_BITS = 60


def simhash(docs: DataFrame) -> DataFrame:
    """Per-document 60-bit SimHash over tf-weighted md5 token hashes.

    The (doc, word, tf, h) term table is built JVM-side (tokenize /
    md5 / conv stay in codegen); the per-document bit vote then runs
    as one numpy segment-sum pass per partition via ``mapInPandas``
    instead of 60 separate conditional-sum aggregates — integer math
    throughout, so results are bit-identical to the SQL formulation
    (and the DuckDB oracle).  Terms are co-partitioned by doc_id, and
    the kernel accumulates votes across Arrow batches, so each doc
    emits exactly one signature regardless of batch boundaries.
    (A per-group ``applyInPandas`` is ~10× slower here: millions of
    tiny pandas frames; the batched groupby-sum amortizes that away.)
    """
    import numpy as np
    import pandas as pd

    tf = (
        docs.select("doc_id", F.explode(words("text")).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("tf"))
        .withColumn(
            "h", F.conv(F.substring(F.md5("word"), 1, 15), 16, 10).cast("long")
        )
    )

    bit_idx = np.arange(SIMHASH_BITS, dtype=np.int64)
    # Kernel-stage width: at least one partition per core, but never
    # NARROWER than the term table arriving from upstream — on a real
    # cluster with dynamic allocation, plan-build-time
    # defaultParallelism can be far below the width a 100-TB term
    # table scans at, and pinning to it would funnel the sort+kernel
    # stage through too few tasks (VERDICT r9 observation).  The
    # explicit width (vs. leaving it to AQE) is deliberate: the
    # repartition+sortWithinPartitions pair is what gives the kernel
    # its bounded-carry contract, and AQE coalescing of a
    # repartition-by-key would happily merge sorted runs into fewer,
    # larger partitions — still correct, but wider is what bounds
    # per-task memory.
    n_part = max(docs.sparkSession.sparkContext.defaultParallelism,
                 tf.rdd.getNumPartitions())

    # Terms arrive SORTED by doc_id within the partition (one
    # spillable intra-partition sort, no extra shuffle), so a doc's
    # rows are contiguous across Arrow batches and the kernel can
    # emit each batch's finished docs immediately, carrying only the
    # ONE doc that may straddle the batch boundary.  The previous
    # kernel accumulated every doc in the partition until iterator
    # end — O(docs/partition) Python dict state, which the round-9
    # 125x probe measured as a 14.5x-per-5x memory cliff (~230 k
    # vote arrays per worker at 7.5 M docs).  Bounded carry is
    # bit-identical: integer vote sums are associative.
    def _sigs(batches):
        def finish(ids: np.ndarray, votes: np.ndarray) -> pd.DataFrame:
            sigs = ((votes >= 0).astype(np.int64) << bit_idx).sum(axis=1)
            return pd.DataFrame({"doc_id": ids, "simhash": sigs})

        carry_id = None
        carry_votes = None
        for pdf in batches:
            if not len(pdf):
                continue
            bits = (pdf["h"].to_numpy(np.int64)[:, None] >> bit_idx) & 1
            contrib = (2 * bits - 1) * pdf["tf"].to_numpy(np.int64)[:, None]
            g = (
                pd.DataFrame(contrib, index=pdf["doc_id"].to_numpy(np.int64))
                .groupby(level=0).sum()
            )
            ids = g.index.to_numpy()
            votes = g.to_numpy()
            if carry_id is not None and ids[0] == carry_id:
                votes[0] += carry_votes
            elif carry_id is not None:
                yield finish(np.array([carry_id], dtype=np.int64),
                             carry_votes[None, :])
            carry_id = int(ids[-1])
            carry_votes = votes[-1].copy()
            if len(ids) > 1:
                yield finish(ids[:-1], votes[:-1])
        if carry_id is not None:
            yield finish(np.array([carry_id], dtype=np.int64),
                         carry_votes[None, :])

    return tf.repartition(n_part, "doc_id").sortWithinPartitions(
        "doc_id"
    ).mapInPandas(_sigs, schema="doc_id long, simhash long")


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash(table(spark, sf_dir, "documents"))


def _simhash_oracle() -> str:
    vote_cols = ",\n        ".join(
        f"sum(CASE WHEN ((h >> {b}) & 1) = 1 THEN tf ELSE -tf END) AS v{b}"
        for b in range(SIMHASH_BITS)
    )
    sig_terms = " + ".join(
        f"(CASE WHEN v{b} >= 0 THEN (1::BIGINT << {b}) ELSE 0 END)"
        for b in range(SIMHASH_BITS)
    )
    return f"""
WITH tf AS (
    SELECT doc_id, word, count(*) AS tf,
           (('0x' || substr(md5(word), 1, 15))::BIGINT) AS h
    FROM (
        SELECT doc_id,
               unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS word
        FROM documents
    )
    WHERE word <> ''
    GROUP BY doc_id, word
),
votes AS (
    SELECT doc_id,
        {vote_cols}
    FROM tf GROUP BY doc_id
)
SELECT doc_id, CAST({sig_terms} AS BIGINT) AS simhash FROM votes
"""


ORACLE_SIMHASH = _simhash_oracle()


# --------------------------------------------------------------------------
# MinHash + LSH banding: sub-quadratic near-dup candidate generation.
#
# 16 permutation hashes h_i(x) = (A_i·x + B_i) mod P over the md5
# shingle hash, banded 2 rows × 8 bands; docs sharing any band bucket
# are candidates.  At scale this replaces the quadratic Jaccard
# self-join: shuffle volume is O(docs × bands), and only candidates
# get exact rescoring (``ngram_jaccard_pairs`` is the rescorer).
MINHASH_P = 2_147_483_647  # 2^31 - 1
MINHASH_A = [7, 13, 31, 57, 101, 181, 331, 607, 1103, 2003, 3643, 6607, 11987, 21601, 39019, 70607]
MINHASH_B = [3, 11, 29, 53, 97, 173, 313, 577, 1049, 1907, 3469, 6277, 11369, 20521, 37057, 66943]
MINHASH_ROWS_PER_BAND = 2


def _shingle_sets(docs: DataFrame, n: int = 3, pin: bool = True) -> DataFrame:
    """(doc_id, sh_set) — each doc's DISTINCT shingle-HASH set
    (``array<long>``, see functions.text.distinct_shingle_hashes_udf),
    computed ONCE (lazy-checkpointed) so candidate generation and
    rescoring share the tokenization work instead of re-running the
    UDF.  Shingling runs as a vectorized Arrow UDF *after* a
    repartition: the exchange spreads the work across all cores (the
    corpus arrives as a handful of large parquet files), and the UDF
    is a single ArrowEvalPython node evaluated once per row — the
    Column-expression alternative gets duplicated by Catalyst into
    inferred filters/generator projections and re-runs the tokenizer
    per slice (measured ~10× slower at sf0.1; see functions.text).

    ``pin=False`` skips the checkpoint: consumers that traverse the
    sets exactly ONCE (the band-census and sketch-rescore paths —
    they read signatures, never rejoin the arrays) must not pin
    O(corpus) shingle arrays in storage memory.  The pin is what
    OOM'd the 8 GiB cap for `dedup_band_volume_census` at the 3125×
    tier (~6 GB of sets for a query whose output is a ≤200-row
    histogram — SURVEY §8.11, round-10 finding)."""
    out = spread(docs, "doc_id").select(
        "doc_id", distinct_shingle_hashes_udf(n)("text").alias("sh_set")
    )
    if pin:
        out = out.localCheckpoint(eager=False, storageLevel=PIN_LEVEL)
    return out


def minhash_signatures(docs: DataFrame, n: int = 3,
                       sets: DataFrame | None = None) -> DataFrame:
    """Per-doc MinHash signature columns m0..m15.

    Computed map-side: each permutation min is ``array_min`` over a
    ``transform`` of the doc's shingle-hash array — same arithmetic as
    the original explode→groupBy(min) formulation (hashes identical),
    but zero row expansion and zero aggregate: the explode version
    materialized docs×shingles rows only to re-collapse them, and at
    125× fixture volume that row stream is the widest intermediate in
    the whole LSH chain.  The ``size > 0`` filter reproduces explode's
    drop of empty shingle sets (``array_min([]) = NULL`` would
    otherwise bucket all empty docs together downstream).

    Sets derived here are read once, so they are never pinned; pass
    ``sets`` to share a caller's pinned sets instead."""
    if sets is None:
        sets = _shingle_sets(docs, n, pin=False)
    hs = F.transform("sh_set", lambda x: x % MINHASH_P)
    mins = [
        F.array_min(
            F.transform(F.col("_hs"), lambda h: (F.lit(a) * h + F.lit(b)) % MINHASH_P)
        ).alias(f"m{i}")
        for i, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B))
    ]
    return (
        sets.filter(F.size("sh_set") > 0)
        .select("doc_id", hs.alias("_hs"))
        .select("doc_id", *mins)
    )


#: Hot-band-bucket guard, ON by default (round 6): a band bucket
#: holding k docs emits k·(k−1)/2 candidate pairs, so one planted
#: mega-bucket (thousands of identical boilerplate docs) re-creates
#: the quadratic blow-up the LSH path exists to avoid.  1000 is ~50×
#: the largest bucket the sf0.1 fixtures produce (20), so the guard
#: is invisible at fixture scale and only bites genuine skew.  The
#: oracle-twin registrations pass ``max_bucket=None`` EXPLICITLY
#: (exact unguarded bucket semantics, hash-stable vs DuckDB); use
#: :func:`lsh_hot_buckets` to see what a guarded run would drop.
LSH_MAX_BUCKET_DEFAULT = 1000


def band_key_structs(components, rows_per_band: int) -> F.Column:
    """``array<struct<band_idx, key>>`` from the 16 signature-component
    columns — THE band-key format, single-sourced (round-11 review):
    every band-bucket producer (batch ``_band_rows``, the incremental
    split, the streaming corpus index, the stream-side key derivation)
    must build keys through this expression, or stream-vs-batch and
    Spark-vs-oracle bucket parity silently breaks on a format drift.

    ``components`` is the list of 16 component Columns (``m0..m15``
    for batch frames, ``element_at(sigs, i+1)`` for a stream's
    signature array)."""
    r = rows_per_band
    assert len(MINHASH_A) % r == 0, "rows_per_band must divide 16"
    n_bands = len(MINHASH_A) // r
    return F.array(
        *[
            F.struct(
                F.lit(j).alias("band_idx"),
                F.concat_ws(
                    "_", *[components[j * r + k] for k in range(r)]
                ).alias("key"),
            )
            for j in range(n_bands)
        ]
    )


def bucket_pairs(rows: DataFrame, member, max_bucket: int | None = None,
                 side=None) -> DataFrame:
    """(a, b, n_bands): one row per distinct member pair that shares
    ≥1 band bucket, with the number of buckets it shares.

    This is the one banded candidate join behind every LSH family
    (MinHash text, the shard-vs-corpus split, hyperplane embeddings,
    dHash images): hash-partition the band rows by bucket, collect
    each bucket's members into arrays with ONE groupBy, and enumerate
    the bucket's pairs in-task.  The band rows are exchanged and read
    once; there is no join and nothing to pin.  ``max_bucket`` drops
    hot buckets before any pair fan-out, as a size filter on the
    bucket row (their members are near-identical by construction and
    belong to the exact-dup pass).

    ``rows`` is ``(band_idx, key, …)``.  ``member`` names the id
    column, or a struct column whose FIRST field is the id; the other
    fields ride along into ``a``/``b`` so a rescore needs no join back.

    * ``side=None`` (self mode): each bucket's sorted member array
      emits its C(k,2) pairs with ``id(a) < id(b)``, so a duplicated
      id never pairs with itself.
    * ``side=<bool column name>`` (cross mode; true = the
      indexed/corpus side): ``a`` ranges over the false side and
      ``b`` over the true side; ``max_bucket`` caps the corpus-side
      array.
    """
    # SQL strings, not Column trees: each F.* call is a Py4J round
    # trip, and this kernel is built on every LSH query's plan path.
    cap = "" if max_bucket is None else f" AND size({{}}) <= {int(max_bucket)}"
    grp = rows.groupBy("band_idx", "key")
    if side is None:
        mtype = rows.schema[member].dataType
        id_field = f".`{mtype.names[0]}`" if isinstance(mtype, StructType) else ""
        pairs = (
            grp.agg(F.expr(f"sort_array(collect_list(`{member}`))").alias("ms"))
            .where("size(ms) > 1" + cap.format("ms"))
            .selectExpr("posexplode(ms) AS (i, a)", "ms")
            .selectExpr("a", "explode(slice(ms, i + 2, size(ms))) AS b")
            .where(f"a{id_field} < b{id_field}")
        )
    else:
        pairs = (
            grp.agg(
                F.expr(f"collect_list(CASE WHEN NOT `{side}` THEN `{member}` END)")
                .alias("ms"),
                F.expr(f"collect_list(CASE WHEN `{side}` THEN `{member}` END)")
                .alias("cs"),
            )
            .where("size(ms) > 0 AND size(cs) > 0" + cap.format("cs"))
            .selectExpr("explode(ms) AS a", "cs")
            .selectExpr("a", "explode(cs) AS b")
        )
    return pairs.groupBy("a", "b").agg(F.expr("count(1) AS n_bands"))


def _band_rows(docs: DataFrame, n: int, rows_per_band: int,
               sets: DataFrame | None) -> DataFrame:
    """(doc_id, band_idx, key): one row per doc per LSH band."""
    sig = minhash_signatures(docs, n, sets=sets)
    bands = band_key_structs(
        [F.col(f"m{i}") for i in range(len(MINHASH_A))], rows_per_band)
    return sig.select("doc_id", F.explode(bands).alias("b")).select(
        "doc_id", F.col("b.band_idx").alias("band_idx"), F.col("b.key").alias("key")
    )


def lsh_hot_buckets(docs: DataFrame, n: int = 3,
                    rows_per_band: int = MINHASH_ROWS_PER_BAND,
                    max_bucket: int = LSH_MAX_BUCKET_DEFAULT,
                    sets: DataFrame | None = None) -> DataFrame:
    """(band_idx, key, sz): the band buckets the default guard drops.

    The guard inside :func:`minhash_candidates` filters these buckets
    out silently (the candidate stream must stay lazily composable);
    this companion surfaces WHAT was dropped and how big each bucket
    was, so a pipeline can log/alert on guard activity instead of
    discovering it from a recall dip.
    """
    return (
        _band_rows(docs, n, rows_per_band, sets)
        .groupBy("band_idx", "key")
        .agg(F.count("*").alias("sz"))
        .filter(F.col("sz") > max_bucket)
    )


def minhash_candidates(docs: DataFrame, n: int = 3,
                       rows_per_band: int = MINHASH_ROWS_PER_BAND,
                       sets: DataFrame | None = None,
                       max_bucket: int | None = LSH_MAX_BUCKET_DEFAULT,
                       bands: DataFrame | None = None,
                       ) -> DataFrame:
    """Candidate near-dup pairs: docs sharing ≥1 LSH band bucket.

    Output: (doc_a, doc_b, n_bands) — how many band buckets the pair
    shares, ``doc_a < doc_b``.  ``rows_per_band`` is the
    recall/precision knob: the candidate probability for a pair with
    Jaccard s is 1 − (1 − s^r)^(16/r), so r=1 catches far more
    low-similarity pairs than r=2 (probed at sf0.01, threshold 0.05:
    recall 0.93 vs 0.86; at 0.008: 0.17 vs 0.008).

    ``max_bucket`` is the scale skew guard, ON by default (see
    :data:`LSH_MAX_BUCKET_DEFAULT`): buckets larger than it are
    dropped by :func:`bucket_pairs`'s size filter.  Pass
    ``max_bucket=None`` for exact unguarded semantics (the
    oracle-checked registrations do, knowingly);
    :func:`lsh_hot_buckets` reports what a guarded run drops.

    ``bands`` (round 12) injects a precomputed band-rows frame
    ((doc_id, band_idx, key), already materialized/pinned by the
    caller) so a planner that ALREADY derived the band rows for its
    census (``lsh_near_dup_auto``) does not pay the tokenize+minhash
    pass a second time (VERDICT r11 item 2; guide §5 reuse).
    """
    if bands is None:
        bands = _band_rows(docs, n, rows_per_band, sets)
    return bucket_pairs(bands, "doc_id", max_bucket).toDF(
        "doc_a", "doc_b", "n_bands")


def q_minhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    # max_bucket=None EXPLICITLY: this registration is the exact
    # unguarded oracle twin (hash-stable vs DuckDB); scale callers get
    # the default hot-bucket guard instead.
    return minhash_candidates(table(spark, sf_dir, "documents"),
                              max_bucket=None)


def _minhash_oracle() -> str:
    r = MINHASH_ROWS_PER_BAND
    n_bands = len(MINHASH_A) // r
    min_cols = ",\n        ".join(
        f"min(({a}*h + {b}) % {MINHASH_P}) AS m{i}"
        for i, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B))
    )
    band_selects = "\n    UNION ALL ".join(
        f"SELECT doc_id, {j} AS band_idx, "
        f"concat_ws('_', {', '.join(f'm{j * r + k}' for k in range(r))}) AS key FROM sig"
        for j in range(n_bands)
    )
    return f"""
WITH toks AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), w -> w <> '') AS ws
    FROM documents
),
sh AS (
    SELECT DISTINCT doc_id,
           unnest(list_transform(
               range(1, greatest(len(ws) - 2, 1) + 1),
               i -> array_to_string(ws[i:i+2], ' ')
           )) AS shingle
    FROM toks
),
hashed AS (
    SELECT doc_id,
           (('0x' || substr(md5(shingle), 1, 15))::BIGINT % {MINHASH_P}) AS h
    FROM sh
),
sig AS (
    SELECT doc_id,
        {min_cols}
    FROM hashed GROUP BY doc_id
),
bands AS (
    {band_selects}
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_bands
FROM bands a
JOIN bands b ON a.band_idx = b.band_idx AND a.key = b.key AND a.doc_id < b.doc_id
GROUP BY 1, 2
"""


ORACLE_MINHASH = _minhash_oracle()


#: Default banding + threshold for the composed LSH→rescore path:
#: 1-row bands (16 buckets/doc) at the 0.05 near-dup threshold give
#: 0.93 recall vs the exact join at sf0.01 (probed; see
#: tests/test_lsh_recall.py for the standing gate).
LSH_ROWS_PER_BAND = 1
LSH_NEAR_DUP_THRESHOLD = 0.05


def lsh_near_dup(docs: DataFrame, n: int = 3,
                 threshold: float = LSH_NEAR_DUP_THRESHOLD,
                 rows_per_band: int = LSH_ROWS_PER_BAND,
                 max_bucket: int | None = LSH_MAX_BUCKET_DEFAULT,
                 sets: DataFrame | None = None,
                 bands: DataFrame | None = None,
                 ) -> DataFrame:
    """The composed scale path: LSH candidates → exact Jaccard rescore.

    Same output contract as :func:`ngram_jaccard_pairs` restricted to
    LSH candidate pairs — sub-quadratic END TO END:

      * candidate generation shuffles O(docs × bands) band-bucket rows
        once and enumerates pairs inside each bucket
        (:func:`bucket_pairs`; never shingle-to-shingle);
      * rescoring joins each candidate pair to the two docs' shingle
        SETS (two shuffle joins on doc_id) and computes the exact
        Jaccard with ``array_intersect`` — work is O(candidates), and
        the full shingle inverted index is never self-joined.

    The shingle sets are computed once and shared between both stages.
    ``max_bucket`` (the hot-bucket pair fan-out cap, see
    :func:`minhash_candidates`) is ON by default; the oracle-twin
    registration passes ``None`` explicitly.

    ``sets`` / ``bands`` (round 12) inject caller-pinned shingle sets
    and band rows so a planner that already materialized them for its
    census shares the passes instead of re-deriving them (VERDICT r11
    item 2) — values are deterministic, so the output is unchanged.
    """
    if sets is None:
        sets = _shingle_sets(docs, n)
    cand = minhash_candidates(
        docs, n, rows_per_band=rows_per_band, sets=sets,
        max_bucket=max_bucket, bands=bands,
    ).select("doc_a", "doc_b")
    a = sets.select(F.col("doc_id").alias("doc_a"), F.col("sh_set").alias("_sa"))
    b = sets.select(F.col("doc_id").alias("doc_b"), F.col("sh_set").alias("_sb"))
    n_common = F.size(F.array_intersect("_sa", "_sb"))
    scored = (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("n_common", n_common)
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.size("_sa") + F.size("_sb") - F.col("n_common")),
                6,
            ),
        )
    )
    return (
        scored.filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def q_lsh_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # max_bucket=None EXPLICITLY — exact oracle-twin semantics.
    return lsh_near_dup(table(spark, sf_dir, "documents"),
                        max_bucket=None)


# --------------------------------------------------------------------------
# CONTAINMENT (asymmetric Jaccard): C(A→B) = |A∩B| / |A|.  Jaccard
# misses the quote/subset shape — a short doc fully contained in a
# long one scores |A|/|B| ≈ 0 on Jaccard but 1.0 on containment.
# Training pipelines run this next to near-dup to catch boilerplate
# inclusion, quotation farms, and partial mirrors.  Same sub-quadratic
# skeleton as lsh_near_dup: LSH band candidates → exact set rescore;
# only the score and its (direction-max) threshold differ.  Note the
# recall asymmetry inherited from MinHash: band collision probability
# tracks JACCARD, so a tiny-doc-in-huge-doc pair (high containment,
# low Jaccard) needs the 1-row band config to surface — documented
# recall knob, same as the near-dup path.
CONTAINMENT_THRESHOLD = 0.5


def containment_pairs(docs: DataFrame, n: int = 3,
                      threshold: float = CONTAINMENT_THRESHOLD,
                      rows_per_band: int = LSH_ROWS_PER_BAND,
                      max_bucket: int | None = LSH_MAX_BUCKET_DEFAULT,
                      ) -> DataFrame:
    """(doc_a, doc_b, n_common, cont_a_in_b, cont_b_in_a) for LSH
    candidate pairs where either direction's containment ≥ threshold."""
    sets = _shingle_sets(docs, n)
    cand = minhash_candidates(
        docs, n, rows_per_band=rows_per_band, sets=sets, max_bucket=max_bucket
    ).select("doc_a", "doc_b")
    a = sets.select(F.col("doc_id").alias("doc_a"), F.col("sh_set").alias("_sa"))
    b = sets.select(F.col("doc_id").alias("doc_b"), F.col("sh_set").alias("_sb"))
    scored = (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("n_common", F.size(F.array_intersect("_sa", "_sb")))
        .withColumn(
            "cont_a_in_b", F.round(F.col("n_common") / F.size("_sa"), 6)
        )
        .withColumn(
            "cont_b_in_a", F.round(F.col("n_common") / F.size("_sb"), 6)
        )
    )
    return (
        scored.filter(F.greatest("cont_a_in_b", "cont_b_in_a") >= threshold)
        .select(
            "doc_a", "doc_b",
            F.col("n_common").cast("long").alias("n_common"),
            "cont_a_in_b", "cont_b_in_a",
        )
    )


def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # max_bucket=None EXPLICITLY — exact oracle-twin semantics.
    return containment_pairs(table(spark, sf_dir, "documents"),
                             max_bucket=None)


# --------------------------------------------------------------------------
# N-gram novelty: what fraction of a document's distinct shingles
# appear NOWHERE else in the corpus?  Low novelty = heavily templated
# or duplicated content (memorization risk when over-represented);
# the per-doc score that ranks what the pair-wise dedup family finds.
# One shingle explode → document-frequency aggregate → one join back:
# both shuffles keyed on the 8-byte shingle hash.
def ngram_novelty(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, n_shingles, n_unique, novelty_bp) per doc with ≥1
    shingle; novelty in basis points (10000 = all shingles unique)."""
    sh = (
        _shingle_sets(docs, n)
        .select("doc_id", F.explode("sh_set").alias("h"))
        .localCheckpoint(eager=False, storageLevel=PIN_LEVEL)  # feeds df agg AND the join back
    )
    dfreq = sh.groupBy("h").agg(F.count("*").alias("df"))
    return (
        sh.join(dfreq, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum((F.col("df") == 1).cast("long")).alias("n_unique"),
        )
        .withColumn("novelty_bp", F.expr("(n_unique * 10000) DIV n_shingles"))
    )


def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_novelty(table(spark, sf_dir, "documents"))


ORACLE_NGRAM_NOVELTY = """
WITH toks AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), w -> w <> '') AS ws
    FROM documents
),
sh AS (
    SELECT DISTINCT doc_id,
           (('0x' || substr(md5(unnest(list_transform(
               range(1, greatest(len(ws) - 2, 1) + 1),
               i -> array_to_string(ws[i:i+2], ' ')
           ))), 1, 15))::BIGINT) AS h
    FROM toks
),
dfreq AS (SELECT h, count(*) AS df FROM sh GROUP BY h)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
       CAST((sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) * 10000) // count(*)
            AS BIGINT) AS novelty_bp
FROM sh JOIN dfreq USING (h)
GROUP BY doc_id
"""


# ORACLE_CONTAINMENT is defined after lsh_pairs_sql below (it reuses
# the shared candidate fragment's `common` CTE).


# --------------------------------------------------------------------------
# INCREMENTAL dedup: the shape every production pipeline actually
# runs — a new shard arrives and must be deduped AGAINST THE EXISTING
# CORPUS, not within itself.  The LSH candidate step is one-sided
# (incoming × corpus members of each bucket), so shuffle volume is
# O((|incoming| + |corpus|) × bands) and pair fan-out is
# incoming×corpus-bucket-collisions only — never corpus×corpus, which
# is the term that dwarfs everything at 100 TB (the corpus side can
# also be a pre-materialized signature table, making each shard's
# cost independent of corpus re-hashing).
#
# The fixture has one documents table, so the "existing corpus" /
# "incoming shard" split is the deterministic md5 split (sketches.
# hash_split convention): bucket < INCR_CORPUS_PCT ⇒ corpus.
INCR_CORPUS_PCT = 70


def _side_is_corpus(doc_id_col) -> F.Column:
    bucket = F.conv(
        F.substring(F.md5(doc_id_col.cast("string")), 1, 8), 16, 10
    ).cast("long") % 100
    return bucket < INCR_CORPUS_PCT


def incremental_scored_pairs(docs: DataFrame, n: int = 3,
                             threshold: float = LSH_NEAR_DUP_THRESHOLD,
                             rows_per_band: int = LSH_ROWS_PER_BAND) -> DataFrame:
    """(doc_id, match_id, jaccard): every incoming-side doc's
    above-threshold matches on the corpus side — the cross-side
    candidate set, exactly rescored.  The per-doc report below and
    the streaming twin (streaming/dedup.py) both reduce to this."""
    sets = _shingle_sets(docs, n)
    exploded = _band_rows(docs, n, rows_per_band, sets).withColumn(
        "is_corpus", _side_is_corpus(F.col("doc_id"))
    )
    cand = bucket_pairs(exploded, "doc_id", side="is_corpus").select(
        F.col("a").alias("doc_id"), F.col("b").alias("match_id"))
    a = sets.select(F.col("doc_id"), F.col("sh_set").alias("_sa"))
    b = sets.select(F.col("doc_id").alias("match_id"), F.col("sh_set").alias("_sb"))
    n_common = F.size(F.array_intersect("_sa", "_sb"))
    scored = (
        cand.join(a, "doc_id")
        .join(b, "match_id")
        .withColumn("n_common", n_common)
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.size("_sa") + F.size("_sb") - F.col("n_common")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return scored.select("doc_id", "match_id", "jaccard")


def incremental_sketch_pairs(docs: DataFrame, n: int = 3,
                             threshold: float | None = None,
                             rows_per_band: int = LSH_ROWS_PER_BAND
                             ) -> DataFrame:
    """(doc_id, match_id, n_bands, est_jaccard): every incoming-side
    doc's corpus-side candidates scored by SIGNATURE AGREEMENT — the
    sketch decision applied to the incremental (shard-vs-corpus)
    shape.

    `incremental_scored_pairs` joins each cross-side candidate back to
    BOTH shingle-set arrays for the exact rescore — per-candidate
    transport proportional to document size, the same floor the batch
    sketch path removed (SURVEY §8.12).  Here the cross-side bucket
    pairing IS the scorer: counting matching band buckets per (incoming,
    corpus) pair gives the MinHash agreement estimate at zero set
    transport, and the shingle sets are never materialized at all
    (signatures only).  Work: one cross-mode :func:`bucket_pairs` —
    never corpus×corpus — whose pair count is the score.

    ``threshold`` defaults to :data:`SKETCH_THRESHOLD` (the calibrated
    operating point); pass the rescore threshold 0.05 only if a
    downstream exact rescore follows (at 0.05 the filter is vacuous —
    candidacy itself implies est 1/16 ≥ 0.05)."""
    if threshold is None:
        threshold = SKETCH_THRESHOLD
    n_bands_total = len(MINHASH_A) // rows_per_band
    min_bands = max(1, math.ceil(threshold * n_bands_total))
    exploded = _band_rows(docs, n, rows_per_band, None).withColumn(
        "is_corpus", _side_is_corpus(F.col("doc_id"))
    )
    return (
        bucket_pairs(exploded, "doc_id", side="is_corpus")
        .filter(F.col("n_bands") >= min_bands)
        .select(
            F.col("a").alias("doc_id"), F.col("b").alias("match_id"), "n_bands",
            F.round(F.col("n_bands") / F.lit(n_bands_total), 6)
            .alias("est_jaccard"),
        )
    )


def q_incremental_sketch_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return incremental_sketch_pairs(table(spark, sf_dir, "documents"))


def incremental_dedup(docs: DataFrame, n: int = 3,
                      threshold: float = LSH_NEAR_DUP_THRESHOLD,
                      rows_per_band: int = LSH_ROWS_PER_BAND) -> DataFrame:
    """(doc_id, n_matches, best_match_id, best_jaccard, is_dup) for
    every INCOMING doc: its near-dup matches in the corpus side, with
    the best match (max jaccard, min match_id among ties) surfaced.
    Unmatched docs report (0, -1, 0.0, false) — total output."""
    scored = incremental_scored_pairs(docs, n, threshold, rows_per_band)
    best = (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_matches"),
            F.max(
                F.struct(F.col("jaccard"), (-F.col("match_id")).alias("nid"))
            ).alias("m"),
        )
        .select(
            "doc_id",
            "n_matches",
            (-F.col("m.nid")).alias("best_match_id"),
            F.col("m.jaccard").alias("best_jaccard"),
        )
    )
    incoming = docs.select("doc_id").filter(~_side_is_corpus(F.col("doc_id")))
    return incoming.join(best, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_matches", F.lit(0)).cast("long").alias("n_matches"),
        F.coalesce("best_match_id", F.lit(-1)).cast("long").alias("best_match_id"),
        F.coalesce("best_jaccard", F.lit(0.0)).alias("best_jaccard"),
        F.col("n_matches").isNotNull().alias("is_dup"),
    )


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return incremental_dedup(table(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# Shared oracle SQL: the LSH-candidates ∩ exact-Jaccard `pairs` CTE
# block, used by the lsh_near_dup oracle here and by the clustering /
# pagerank oracles (clustering.py) so every consumer of the scale path
# is checked against the SAME DuckDB formulation.  (DuckDB runs the
# exact quadratic join — fine at oracle scale; the Spark side is the
# sub-quadratic plan under test.)
def lsh_pairs_sql(threshold: float, rows_per_band: int = LSH_ROWS_PER_BAND,
                  max_bucket: int | None = None) -> str:
    """CTE block (no ``WITH``) ending in ``pairs(doc_a, doc_b, jaccard)``.

    ``max_bucket`` mirrors the Spark-side hot-bucket guard
    (:data:`LSH_MAX_BUCKET_DEFAULT`): consumers whose Spark twin keeps
    the guarded default (the clustering family) pass it here so the
    oracle stays an exact twin under ANY data, not just fixture data
    where the guard never fires; the direct dedup twins run both
    sides unguarded (``None``).
    """
    r = rows_per_band
    n_bands = len(MINHASH_A) // r
    min_cols = ",\n        ".join(
        f"min(({a}*h + {b}) % {MINHASH_P}) AS m{i}"
        for i, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B))
    )
    band_selects = "\n    UNION ALL ".join(
        f"SELECT doc_id, {j} AS band_idx, "
        f"concat_ws('_', {', '.join(f'm{j * r + k}' for k in range(r))}) AS key FROM sig"
        for j in range(n_bands)
    )
    # sh / cand / pairs are AS MATERIALIZED: DuckDB inlines CTEs by
    # default, re-evaluating the whole minhash chain once per
    # reference — consumers like the pagerank oracle reference pairs
    # several times and the re-evaluation compounds to a hang at
    # sf0.1.  Materialization pins each to one evaluation.
    return f"""toks AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), w -> w <> '') AS ws
    FROM documents
),
sh AS MATERIALIZED (
    SELECT DISTINCT doc_id,
           unnest(list_transform(
               range(1, greatest(len(ws) - 2, 1) + 1),
               i -> array_to_string(ws[i:i+2], ' ')
           )) AS shingle
    FROM toks
),
hashed AS (
    SELECT doc_id,
           (('0x' || substr(md5(shingle), 1, 15))::BIGINT % {MINHASH_P}) AS h
    FROM sh
),
sig AS (
    SELECT doc_id,
        {min_cols}
    FROM hashed GROUP BY doc_id
),
bands_all AS (
    {band_selects}
),
bands AS ({'''
    SELECT * FROM bands_all''' if max_bucket is None else f'''
    -- hot-bucket guard twin: keep only band buckets of size <=
    -- max_bucket, exactly like the Spark side's bucket size filter
    SELECT b.* FROM bands_all b
    JOIN (SELECT band_idx, key FROM bands_all
          GROUP BY band_idx, key HAVING count(*) <= {max_bucket}) k
    ON b.band_idx = k.band_idx AND b.key = k.key'''}
),
cand AS MATERIALIZED (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a
    JOIN bands b ON a.band_idx = b.band_idx AND a.key = b.key AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
shl AS (
    SELECT doc_id, list(shingle) AS sl FROM sh GROUP BY doc_id
),
common AS (
    -- candidate-restricted, like the Spark rescore: intersect the two
    -- docs' shingle LISTS per cand pair.  A shingle-keyed join here
    -- (even candidate-restricted) leaves DuckDB's optimizer free to
    -- reorder into the quadratic self-join, which spills to death at
    -- sf0.1; list_intersect admits no such plan.  Zero-overlap
    -- candidates yield jaccard 0 and fall to the threshold.
    SELECT c.doc_a, c.doc_b,
           len(list_intersect(a.sl, b.sl)) AS n_common,
           len(a.sl) AS na, len(b.sl) AS nb
    FROM cand c
    JOIN shl a ON a.doc_id = c.doc_a
    JOIN shl b ON b.doc_id = c.doc_b
),
pairs AS MATERIALIZED (
    SELECT doc_a, doc_b,
           round(n_common * 1.0 / (na + nb - n_common), 6) AS jaccard
    FROM common
    WHERE round(n_common * 1.0 / (na + nb - n_common), 6) >= {threshold}
)"""


ORACLE_LSH_NEAR_DUP = f"""
WITH {lsh_pairs_sql(LSH_NEAR_DUP_THRESHOLD)}
SELECT doc_a, doc_b, jaccard FROM pairs
"""


#: Bucket cap for the guard-exercising registrations (round 8): at the
#: production cap (1000) no fixture bucket is hot, so a guarded
#: registration would be vacuous in the hash — it would never differ
#: from the unguarded twin.  4 is the largest cap with hot buckets at
#: EVERY fixture SF (18 @sf0.001, 19 @sf0.01, 5 627 @sf0.1), so the
#: guard's drop path itself is what gets hash-checked.
GUARD_DEMO_BUCKET = 4


def q_lsh_near_dup_guarded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Guard-ON twin of `dedup_lsh_neardup`: same LSH→rescore chain
    with the hot-bucket guard REGISTERED AND FIRING (cap 4), oracle
    mirrored via lsh_pairs_sql's max_bucket HAVING-filter — the
    production drop semantics under the driver's hash gate."""
    return lsh_near_dup(table(spark, sf_dir, "documents"),
                        max_bucket=GUARD_DEMO_BUCKET)


ORACLE_LSH_GUARDED = f"""
WITH {lsh_pairs_sql(LSH_NEAR_DUP_THRESHOLD, max_bucket=GUARD_DEMO_BUCKET)}
SELECT doc_a, doc_b, jaccard FROM pairs
"""


def band_volume_census(docs: DataFrame, n: int = 3,
                       rows_per_band: int = LSH_ROWS_PER_BAND,
                       max_bucket: int = LSH_MAX_BUCKET_DEFAULT,
                       ) -> DataFrame:
    """Band-bucket size histogram with candidate-pair accounting:
    (sz, n_buckets, cand_pairs, in_guard) — for each observed bucket
    size, how many buckets and how many rescore pairs they will emit
    (``n_buckets * sz*(sz-1)/2``), and whether the production
    hot-bucket guard keeps them.

    This is the capacity-planning face of the LSH chain: the
    round-10 625x probe diagnosed its rescore-shuffle cliff from
    exactly this census (21.7 M pairs @125x -> 109.4 M @625x, max
    bucket 154, guard silent — SURVEY §8.11), so it is registered as
    a first-class query a pipeline runs BEFORE committing a corpus
    to the pair path: total rescore volume = sum(cand_pairs) rows x
    ~2 shingle-set payloads, and any size class near ``max_bucket``
    warns that corpus growth is about to hand the guard real drops.
    Output is tiny (one row per distinct bucket size); two shuffles
    (bucket count, histogram), both on 8-byte keys.

    Unpinned (round 11): the census traverses the shingle sets
    exactly once (signatures → band keys), so pinning them bought
    nothing and cost everything — the ~6 GB of pinned arrays at the
    3125× tier OOM'd the 8 GiB cap for a query whose whole output is
    a histogram (SURVEY §8.11).  A capacity-planning query must be
    cheaper than the capacity it plans.
    """
    sizes = (
        _band_rows(docs, n, rows_per_band, None)
        .groupBy("band_idx", "key")
        .agg(F.count("*").alias("sz"))
    )
    return (
        sizes.groupBy("sz")
        .agg(F.count("*").alias("n_buckets"))
        .select(
            "sz",
            "n_buckets",
            F.expr("n_buckets * sz * (sz - 1) DIV 2").alias("cand_pairs"),
            (F.col("sz") <= max_bucket).alias("in_guard"),
        )
    )


def q_band_volume_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    return band_volume_census(table(spark, sf_dir, "documents"))


# Reuses the shared band CTE chain (lsh_pairs_sql) and reads
# bands_all — DuckDB only evaluates CTEs the main query references,
# so the downstream cand/pairs CTEs cost nothing here.
ORACLE_BAND_CENSUS = f"""
WITH {lsh_pairs_sql(0.0)},
sizes AS (
    SELECT band_idx, key, count(*) AS sz FROM bands_all GROUP BY 1, 2
)
SELECT sz,
       CAST(count(*) AS BIGINT)                    AS n_buckets,
       CAST(count(*) * sz * (sz - 1) // 2 AS BIGINT) AS cand_pairs,
       sz <= {LSH_MAX_BUCKET_DEFAULT}              AS in_guard
FROM sizes GROUP BY sz
"""


def jaccard_estimate_calibration(docs: DataFrame, n: int = 3,
                                 rows_per_band: int = LSH_ROWS_PER_BAND,
                                 ) -> DataFrame:
    """Sketch-vs-exact calibration: for every LSH candidate pair,
    the MinHash signature agreement (``n_bands`` of 16 matching
    components at r=1) IS an estimator of Jaccard — aggregate the
    EXACT rescored Jaccard by agreement count and the table reads
    as "how wrong would sketch-only rescoring be".

    Output: (n_bands, est_bp, n_pairs, sum_jaccard_e6) — estimated
    similarity in basis points (``n_bands/16``) next to the exact
    Jaccard mass of the pairs at that agreement level (integer e6
    fixed-point, hash-stable).  Why it exists: the exact rescore's
    transport floor is ~one shingle-set array per candidate through
    one shuffle (the round-10 625x finding, SURVEY §8.11), and the
    documented lever is replacing it with the signature estimate the
    candidate stream already carries AT ZERO transport.  This query
    is the measured basis for that decision on a given corpus: if
    the exact-Jaccard mass concentrates where the estimate puts it,
    the sketch path is safe at the chosen threshold.  Work: the
    candidate chain (same as lsh_near_dup, oracle-twin unguarded) +
    one tiny aggregate; output is ≤17 rows.
    """
    sets = _shingle_sets(docs, n)
    cand = minhash_candidates(
        docs, n, rows_per_band=rows_per_band, sets=sets, max_bucket=None
    )
    a = sets.select(F.col("doc_id").alias("doc_a"), F.col("sh_set").alias("_sa"))
    b = sets.select(F.col("doc_id").alias("doc_b"), F.col("sh_set").alias("_sb"))
    n_common = F.size(F.array_intersect("_sa", "_sb"))
    n_bands_total = len(MINHASH_A) // rows_per_band
    scored = (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("n_common", n_common)
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.size("_sa") + F.size("_sb") - F.col("n_common")),
                6,
            ),
        )
    )
    return (
        scored.groupBy("n_bands")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum(F.round(F.col("jaccard") * 1000000).cast("long"))
            .alias("sum_jaccard_e6"),
        )
        .select(
            "n_bands",
            F.expr(f"n_bands * 10000 DIV {n_bands_total}").alias("est_bp"),
            "n_pairs",
            "sum_jaccard_e6",
        )
    )


def q_jaccard_estimate_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    return jaccard_estimate_calibration(table(spark, sf_dir, "documents"))


# Reuses the shared fragment: `bands` (unguarded here == bands_all)
# re-joined with a COUNT gives per-pair signature agreement, and
# `common` carries the exact n_common/na/nb for the same pair set.
ORACLE_JACCARD_CALIBRATION = f"""
WITH {lsh_pairs_sql(0.0)},
nbands AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_bands
    FROM bands a
    JOIN bands b ON a.band_idx = b.band_idx AND a.key = b.key
                AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT n_bands,
       CAST(n_bands * 10000 // {len(MINHASH_A) // LSH_ROWS_PER_BAND}
            AS BIGINT) AS est_bp,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(CAST(round(round(n_common * 1.0 / (na + nb - n_common), 6)
                           * 1000000) AS BIGINT)) AS BIGINT) AS sum_jaccard_e6
FROM nbands JOIN common USING (doc_a, doc_b)
GROUP BY n_bands
"""


#: Operating threshold for the registered sketch-rescore twin.  The
#: rule (README "100 TB posture" table): the sketch path keeps a
#: candidate pair iff its signature agreement estimates Jaccard at or
#: above the threshold — n_bands ≥ ceil(threshold · 16) — and it is
#: SAFE to swap in for the exact rescore on a corpus when
#: `dedup_jaccard_calibration` shows the exact Jaccard mass
#: concentrated at the agreement levels the estimate assigns it
#: (mean exact Jaccard within the estimator's binomial CI per level).
#: At the production near-dup threshold 0.05 candidacy itself is the
#: filter (any shared band ⇒ est 1/16 = 0.0625 ≥ 0.05); 0.25 is the
#: lowest operating point where the sketch filter prunes candidates,
#: so the registration hash-checks the pruning rule itself.
SKETCH_THRESHOLD = 0.25

#: The operating point as a band count — ``ceil(threshold · 16)`` at
#: the registered r=1 banding.  Single-sourced (round-11 review):
#: the sketch oracles, the auto-planner oracle, the incremental
#: sketch oracle, and the clustering sketch-edge twins all read THIS
#: constant instead of re-deriving the formula.
SKETCH_MIN_BANDS = max(
    1, math.ceil(SKETCH_THRESHOLD * (len(MINHASH_A) // LSH_ROWS_PER_BAND)))


def lsh_near_dup_sketch(docs: DataFrame, n: int = 3,
                        threshold: float = SKETCH_THRESHOLD,
                        rows_per_band: int = LSH_ROWS_PER_BAND,
                        max_bucket: int | None = LSH_MAX_BUCKET_DEFAULT,
                        bands: DataFrame | None = None,
                        ) -> DataFrame:
    """Sketch-only near-dup scoring: LSH candidates scored by MinHash
    signature agreement — ZERO shingle-array transport.

    The exact path (:func:`lsh_near_dup`) ships each candidate's two
    shingle-hash sets (~400 B each on the probe fixture) through the
    rescore shuffle — measured 46 GB at the 625× tier for 109 M
    candidates (SURVEY §8.11, the round-10 transport-floor finding).
    This path scores candidates from the band-agreement count the
    candidate stream ALREADY carries: at r=1, ``n_bands`` of 16
    matching signature components is a binomial estimator of Jaccard
    (E[n_bands/16] = J), so the rescore becomes a filter on the
    candidate aggregate — no join back to the sets, no array
    transport, and the shingle sets themselves are traversed once
    and never pinned.

    When is the swap safe?  Read `dedup_jaccard_calibration` for the
    corpus first: if the exact Jaccard mass sits where the agreement
    level puts it at the operating threshold, sketch scoring keeps
    the same pair population the exact rescore would (the 16-sample
    estimator's coarseness — 1/16 steps — is the price; the
    calibration table quantifies it per corpus).

    Output: (doc_a, doc_b, n_bands, est_jaccard) for candidates with
    est_jaccard ≥ threshold, i.e. n_bands ≥ ceil(threshold · 16).
    """
    n_bands_total = len(MINHASH_A) // rows_per_band
    min_bands = max(1, math.ceil(threshold * n_bands_total))
    cand = minhash_candidates(
        docs, n, rows_per_band=rows_per_band, sets=None,
        max_bucket=max_bucket, bands=bands,
    )
    return (
        cand.filter(F.col("n_bands") >= min_bands)
        .select(
            "doc_a",
            "doc_b",
            "n_bands",
            F.round(F.col("n_bands") / F.lit(n_bands_total), 6)
            .alias("est_jaccard"),
        )
    )


def q_lsh_near_dup_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    # max_bucket=None EXPLICITLY — exact oracle-twin semantics (the
    # guard's drop path is hash-checked by dedup_lsh_neardup_guarded).
    return lsh_near_dup_sketch(table(spark, sf_dir, "documents"),
                               max_bucket=None)


# Same nbands CTE as the calibration oracle; pairs/common/shl go
# unreferenced and are pruned by DuckDB, so the oracle never touches
# shingle lists after signature construction either.
ORACLE_LSH_SKETCH = f"""
WITH {lsh_pairs_sql(0.0)},
nbands AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_bands
    FROM bands a
    JOIN bands b ON a.band_idx = b.band_idx AND a.key = b.key
                AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT doc_a, doc_b, n_bands,
       round(n_bands / {len(MINHASH_A) // LSH_ROWS_PER_BAND}.0, 6)
           AS est_jaccard
FROM nbands
WHERE n_bands >= {SKETCH_MIN_BANDS}
"""


def q_lsh_near_dup_sketch_guarded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Guard-ON twin of `dedup_lsh_neardup_sketch`: the sketch scoring
    composed with the hot-bucket guard REGISTERED AND FIRING (cap 4,
    like the exact path's guarded twin) — dropping a bucket removes
    its band-agreement contributions, so the guarded sketch scores
    differ from simply filtering the unguarded output.  That
    composition is what this registration hash-checks."""
    return lsh_near_dup_sketch(table(spark, sf_dir, "documents"),
                               max_bucket=GUARD_DEMO_BUCKET)


# nbands over the GUARDED `bands` CTE (lsh_pairs_sql's max_bucket
# HAVING-filter) — agreement counts see only surviving buckets,
# mirroring the Spark side's bucket size filter before pair fan-out.
ORACLE_LSH_SKETCH_GUARDED = f"""
WITH {lsh_pairs_sql(0.0, max_bucket=GUARD_DEMO_BUCKET)},
nbands AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_bands
    FROM bands a
    JOIN bands b ON a.band_idx = b.band_idx AND a.key = b.key
                AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT doc_a, doc_b, n_bands,
       round(n_bands / {len(MINHASH_A) // LSH_ROWS_PER_BAND}.0, 6)
           AS est_jaccard
FROM nbands
WHERE n_bands >= {SKETCH_MIN_BANDS}
"""


def sketch_confusion(docs: DataFrame, n: int = 3,
                     threshold: float = SKETCH_THRESHOLD,
                     rows_per_band: int = LSH_ROWS_PER_BAND,
                     ) -> DataFrame:
    """The sketch-safety decision procedure as a query: the 2×2
    confusion of sketch-kept vs exact-kept over all LSH candidates at
    one operating threshold — (sketch_kept, exact_kept, n_pairs).

    `dedup_jaccard_calibration` gives the per-level Jaccard mass;
    this collapses it to the number an operator actually decides on:
    recall = TT/(TT+FT) and precision = TT/(TT+TF) of the sketch
    path vs the exact rescore at the SAME threshold.  Run it on a
    corpus sample before swapping `lsh_near_dup` for
    `lsh_near_dup_sketch` (README 100 TB table rule); at the
    registered 0.25 point the fixture reads recall 1.00 /
    precision 0.926.  Work: one rescored candidate pass (this is a
    calibration-time query — the whole point is to pay the exact
    rescore ONCE on a sample, not forever on the corpus); output is
    ≤ 4 rows.
    """
    n_bands_total = len(MINHASH_A) // rows_per_band
    min_bands = max(1, math.ceil(threshold * n_bands_total))
    sets = _shingle_sets(docs, n)
    cand = minhash_candidates(
        docs, n, rows_per_band=rows_per_band, sets=sets, max_bucket=None
    )
    a = sets.select(F.col("doc_id").alias("doc_a"), F.col("sh_set").alias("_sa"))
    b = sets.select(F.col("doc_id").alias("doc_b"), F.col("sh_set").alias("_sb"))
    n_common = F.size(F.array_intersect("_sa", "_sb"))
    scored = (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("n_common", n_common)
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.size("_sa") + F.size("_sb") - F.col("n_common")),
                6,
            ),
        )
    )
    return (
        scored.groupBy(
            (F.col("n_bands") >= min_bands).alias("sketch_kept"),
            (F.col("jaccard") >= threshold).alias("exact_kept"),
        )
        .agg(F.count("*").alias("n_pairs"))
    )


def q_sketch_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sketch_confusion(table(spark, sf_dir, "documents"))


ORACLE_SKETCH_CONFUSION = f"""
WITH {lsh_pairs_sql(0.0)},
nbands AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_bands
    FROM bands a
    JOIN bands b ON a.band_idx = b.band_idx AND a.key = b.key
                AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT n_bands >= {SKETCH_MIN_BANDS}
           AS sketch_kept,
       round(n_common * 1.0 / (na + nb - n_common), 6) >= {SKETCH_THRESHOLD}
           AS exact_kept,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM nbands JOIN common USING (doc_a, doc_b)
GROUP BY 1, 2
"""


#: Candidate-pair budget for the AUTO rescore planner.  Expressed in
#: census pair-emissions (sum of sz·(sz−1)/2 over band buckets — the
#: number `dedup_band_volume_census` reports, an upper bound on
#: distinct candidates that costs O(docs × bands) to compute, never
#: O(pairs)).  The measured regimes it separates (SURVEY §8.11–8.12):
#: 21.7 M emissions at the 125× tier rescored fine (the sets still
#: fit a 268 MiB broadcast), 109.4 M at 625× put ~46 GB of shingle
#: arrays through one shuffle and died on disk — so the default sits
#: between the last-known-good and first-known-dead points, ~1.5× the
#: good side.  At fixture scale (sf0.1 ≈ 170 k emissions) the planner
#: picks exact; every probe tier ≥ 625× picks sketch.
AUTO_PAIR_BUDGET = 32_000_000


def lsh_near_dup_auto(docs: DataFrame, n: int = 3,
                      threshold: float = SKETCH_THRESHOLD,
                      rows_per_band: int = LSH_ROWS_PER_BAND,
                      max_bucket: int | None = LSH_MAX_BUCKET_DEFAULT,
                      pair_budget: int = AUTO_PAIR_BUDGET,
                      decision: list | None = None,
                      ) -> DataFrame:
    """Stats-driven rescore planning: the engine reads the band census
    and picks the exact-array rescore or the zero-transport sketch
    scoring itself — AQE in spirit, applied to a strategy Catalyst
    cannot see (the choice changes the OUTPUT estimator, not just the
    physical plan, so it must live here, above the optimizer, keyed on
    corpus statistics).

    Round 10 built the decision table (`dedup_jaccard_calibration`),
    round 11 built the decided path (`lsh_near_dup_sketch`) and the
    decision procedure (`sketch_confusion`); this closes the loop by
    making the decision itself part of the operator: a one-row census
    aggregate (band-bucket size histogram — O(docs × bands), no pair
    join, sets never materialized) measures the rescore volume the
    corpus is about to generate, and the branch is chosen by
    ``pair_budget``.  The driver-side action is a single scalar
    (bounded by construction) — the same ANALYZE-style stats
    collection AQE does between stages; amortize it by persisting the
    census alongside the corpus, exactly as `dedup_band_volume_census`
    is registered for.

    Both branches run at the SAME ``threshold`` so the choice is an
    accuracy/transport trade on one question, quantified per corpus by
    `dedup_sketch_confusion` (fixture @0.25: recall 1.00, precision
    0.926).  Output: (doc_a, doc_b, score, used_sketch) — score is the
    exact Jaccard or the signature estimate; used_sketch records the
    planner's choice, so downstream consumers (and the oracle hash)
    see WHICH estimator produced every row.

    Deterministic given the data: the census is exact arithmetic, so
    the same corpus always picks the same branch — which is what makes
    the mode oracle-checkable (the DuckDB twin replays the census sum
    and gates each branch on the same comparison).

    One band-rows subtree (round 12, VERDICT r11 item 2): the census
    and the chosen branch previously each derived band rows from
    scratch — two full tokenize+minhash passes per execution (4.2 s
    warm at fixture scale, two corpus scans at 100 TB).  Now the
    shingle sets are persisted and the band rows checkpointed ONCE;
    the census aggregates over the checkpoint, the chosen branch's
    candidate join reads the same checkpoint, and the exact branch's
    rescore reads the same persisted sets.  Both pins are DISK_ONLY
    (guide §5): even the SERIALIZED memory+disk level OOM'd the 8 GiB
    cap at the 3125× tier in round 11 (the guard pin, ledger item 7 —
    storage-pool unroll competing with 32 concurrent scan tasks), and
    disk-only blocks never compete with execution memory, while at
    fixture scale the page cache makes the re-read free.
    The sketch branch never reads the sets again, so they
    are unpersisted at decision time.  Values are md5-deterministic,
    so sharing changes no output bit — the census sum here is
    algebraically the census's ``sum(n_buckets · sz·(sz−1) DIV 2)``
    regrouped per bucket (sz·(sz−1) is always even, so DIV 2 is exact
    either way).
    """
    from pyspark import StorageLevel

    sets = _shingle_sets(docs, n, pin=False).persist(StorageLevel.DISK_ONLY)
    bands = _band_rows(docs, n, rows_per_band, sets).localCheckpoint(
        eager=False, storageLevel=StorageLevel.DISK_ONLY)
    sizes = bands.groupBy("band_idx", "key").agg(F.count("*").alias("sz"))
    if max_bucket is not None:
        # The guarded chain drops hot buckets before pair generation,
        # so only in-guard buckets contribute rescore volume.
        sizes = sizes.filter(F.col("sz") <= max_bucket)
    total = sizes.agg(
        F.coalesce(F.sum(F.expr("sz * (sz - 1) DIV 2")), F.lit(0)).alias("t")
    ).first()["t"]
    if decision is not None:
        # Observer hook (round-11 review): the branch taken is also a
        # constant `used_sketch` column, but an EMPTY result carries no
        # rows to read it from — probes/monitoring get the planner's
        # choice directly instead of inferring it from output rows.
        decision.append(total > pair_budget)
    if total > pair_budget:
        # Zero-transport branch: candidates re-read the checkpointed
        # band rows; the shingle sets are never touched again.
        sets.unpersist(blocking=False)
        out = lsh_near_dup_sketch(docs, n, threshold, rows_per_band,
                                  max_bucket, bands=bands)
        return out.select(
            "doc_a", "doc_b",
            F.col("est_jaccard").alias("score"),
            F.lit(True).alias("used_sketch"),
        )
    out = lsh_near_dup(docs, n, threshold, rows_per_band, max_bucket,
                       sets=sets, bands=bands)
    return out.select(
        "doc_a", "doc_b",
        F.col("jaccard").alias("score"),
        F.lit(False).alias("used_sketch"),
    )


def q_lsh_near_dup_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    # max_bucket=None EXPLICITLY — exact oracle-twin semantics on both
    # branches AND on the census the planner reads.
    return lsh_near_dup_auto(table(spark, sf_dir, "documents"),
                             max_bucket=None)


# The oracle replays the planner: the census sum over bands_all gates
# each branch via a scalar subquery, so DuckDB takes the same branch
# the Spark planner takes on the same data — the decision itself is
# inside the hash.  lsh_pairs_sql(SKETCH_THRESHOLD) supplies the
# exact branch's `pairs`; the sketch branch reuses the nbands CTE.
ORACLE_LSH_AUTO = f"""
WITH {lsh_pairs_sql(SKETCH_THRESHOLD)},
sizes AS (
    SELECT band_idx, key, count(*) AS sz FROM bands_all GROUP BY 1, 2
),
decision AS (
    SELECT coalesce(sum(sz * (sz - 1) // 2), 0) > {AUTO_PAIR_BUDGET}
        AS use_sketch
    FROM sizes
),
nbands AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_bands
    FROM bands a
    JOIN bands b ON a.band_idx = b.band_idx AND a.key = b.key
                AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(n_bands / {len(MINHASH_A) // LSH_ROWS_PER_BAND}.0, 6) AS score,
       TRUE AS used_sketch
FROM nbands
WHERE n_bands >= {SKETCH_MIN_BANDS}
  AND (SELECT use_sketch FROM decision)
UNION ALL
SELECT doc_a, doc_b, jaccard AS score, FALSE AS used_sketch
FROM pairs
WHERE NOT (SELECT use_sketch FROM decision)
"""


def q_hot_bucket_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The guard's drop-accounting companion (`lsh_hot_buckets`) as a
    registered query: (band_idx, key, sz) for every band bucket the
    cap-4 guard would drop — what a pipeline logs/alerts on instead of
    discovering guard activity from a recall dip."""
    return lsh_hot_buckets(table(spark, sf_dir, "documents"),
                           rows_per_band=LSH_ROWS_PER_BAND,
                           max_bucket=GUARD_DEMO_BUCKET)


ORACLE_HOT_BUCKETS = f"""
WITH {lsh_pairs_sql(0.0)}
SELECT band_idx, key, count(*) AS sz
FROM bands_all GROUP BY 1, 2 HAVING count(*) > {GUARD_DEMO_BUCKET}
"""


# Reuses the shared candidate fragment's `common` CTE (n_common, na,
# nb) directly; the fragment's jaccard-thresholded `pairs` CTE goes
# unreferenced and is pruned.
ORACLE_CONTAINMENT = f"""
WITH {lsh_pairs_sql(0.0)}
SELECT doc_a, doc_b,
       CAST(n_common AS BIGINT) AS n_common,
       round(n_common * 1.0 / na, 6) AS cont_a_in_b,
       round(n_common * 1.0 / nb, 6) AS cont_b_in_a
FROM common
WHERE greatest(round(n_common * 1.0 / na, 6),
               round(n_common * 1.0 / nb, 6)) >= {CONTAINMENT_THRESHOLD}
"""


# Incremental oracle: the SAME symmetric pairs CTE, restricted to
# cross-side pairs and re-keyed (incoming doc, corpus match); the
# Spark side's cross-mode bucket_pairs yields exactly this set because a
# cross-side pair shares a band bucket iff it appears in the
# symmetric candidate join.
ORACLE_INCREMENTAL_DEDUP = f"""
WITH {lsh_pairs_sql(LSH_NEAR_DUP_THRESHOLD)},
side AS (
    SELECT doc_id,
           (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100)
               < {INCR_CORPUS_PCT} AS is_corpus
    FROM documents
),
cross_pairs AS (
    SELECT CASE WHEN sa.is_corpus THEN p.doc_b ELSE p.doc_a END AS doc_id,
           CASE WHEN sa.is_corpus THEN p.doc_a ELSE p.doc_b END AS match_id,
           p.jaccard
    FROM pairs p
    JOIN side sa ON sa.doc_id = p.doc_a
    JOIN side sb ON sb.doc_id = p.doc_b
    WHERE sa.is_corpus <> sb.is_corpus
),
best AS (
    SELECT doc_id, n_matches, match_id, jaccard FROM (
        SELECT doc_id, match_id, jaccard,
               count(*) OVER (PARTITION BY doc_id) AS n_matches,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY jaccard DESC, match_id) AS rn
        FROM cross_pairs
    ) WHERE rn = 1
)
SELECT d.doc_id,
       CAST(coalesce(b.n_matches, 0) AS BIGINT)    AS n_matches,
       CAST(coalesce(b.match_id, -1) AS BIGINT)    AS best_match_id,
       coalesce(b.jaccard, 0.0)                    AS best_jaccard,
       b.doc_id IS NOT NULL                        AS is_dup
FROM side d LEFT JOIN best b USING (doc_id)
WHERE NOT d.is_corpus
"""


# bands (unguarded) from the shared fragment; cross-side agreement
# count re-keyed (incoming, corpus) exactly like the Spark one-sided
# join.  pairs/common/shl go unreferenced and are pruned.
ORACLE_INCREMENTAL_SKETCH = f"""
WITH {lsh_pairs_sql(0.0)},
side AS (
    SELECT doc_id,
           (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100)
               < {INCR_CORPUS_PCT} AS is_corpus
    FROM documents
),
nb AS (
    SELECT i.doc_id AS doc_id, c.doc_id AS match_id, count(*) AS n_bands
    FROM bands i
    JOIN side si ON si.doc_id = i.doc_id AND NOT si.is_corpus
    JOIN bands c ON c.band_idx = i.band_idx AND c.key = i.key
    JOIN side sc ON sc.doc_id = c.doc_id AND sc.is_corpus
    GROUP BY 1, 2
)
SELECT doc_id, match_id, n_bands,
       round(n_bands / {len(MINHASH_A) // LSH_ROWS_PER_BAND}.0, 6)
           AS est_jaccard
FROM nb
WHERE n_bands >= {SKETCH_MIN_BANDS}
"""


# --------------------------------------------------------------------------
# ExactSubstr-style repeated-span audit (Lee et al., "Deduplicating
# Training Data Makes Language Models Better", ACL'22): token windows
# of width W that recur in OTHER documents mark verbatim cross-doc
# duplication finer than whole-doc near-dup — the spans ExactSubstr
# would cut.  The suffix-array formulation is replaced by the
# shuffle-native one: hash every width-W window (polynomial rolling
# hash over md5 term hashes — same arithmetic as doc_rolling_hash),
# count DISTINCT docs per window hash, mark windows seen in ≥2 docs.
# Shuffle volume is O(total windows) fixed-width rows; no pair join,
# no suffix array, embarrassingly scalable.
SPAN_WINDOW = 8

# Window hashes get their OWN 61-bit space (NOT doc_rolling_hash's
# 31-bit RH_P): at 100 TB there are 1e9-1e10 distinct windows, and a
# 31-bit space birthday-collides so badly that most windows would be
# spuriously "shared" (count>=2) — silently inflating shared_bp, with
# the oracle (same hash) unable to notice.  2^61-1 is Mersenne like
# RH_P, term hashes take 60 bits of md5 (mirroring the shingle-hash
# path); the Python accumulator is arbitrary-precision and the DuckDB
# twin accumulates in HUGEINT, so the (acc*B + t) product never
# overflows int64 before the mod.  doc_rolling_hash itself stays on
# RH_P because its Spark side folds JVM-long arithmetic (F.aggregate),
# where a 61-bit modulus would overflow.
SPAN_P = (1 << 61) - 1
SPAN_B = 1_000_003


def window_hashes_udf(w: int = SPAN_WINDOW):
    """Vectorized producer of the doc's DISTINCT width-``w`` token-
    window rolling hashes (first-occurrence order).  Hash = polynomial
    ((acc·SPAN_B + md5term) mod SPAN_P) folded over each window; docs
    shorter than ``w`` tokens emit no windows."""
    import hashlib
    import re

    from pyspark.sql.functions import pandas_udf

    from grpc_map_reduce_spark.functions.text import TOKEN_SPLIT_RE

    token_re = re.compile(TOKEN_SPLIT_RE)

    @pandas_udf("array<long>")
    def _win_hashes(text: pd.Series) -> pd.Series:
        out = []
        for t in text:
            ws = [x for x in token_re.split(t.lower()) if x]
            hs = [
                int(hashlib.md5(x.encode()).hexdigest()[:15], 16) % SPAN_P
                for x in ws
            ]
            wins = {}
            for i in range(len(hs) - w + 1):
                acc = 0
                for term in hs[i:i + w]:
                    acc = (acc * SPAN_B + term) % SPAN_P
                wins[acc] = None
            out.append(list(wins))
        return pd.Series(out)

    return _win_hashes.asNondeterministic()


def repeated_spans(docs: DataFrame, w: int = SPAN_WINDOW) -> DataFrame:
    """Per doc: distinct width-``w`` windows, how many also occur in
    ≥1 OTHER doc, and the shared fraction in basis points.

    (doc_id, n_windows, n_shared_windows, shared_bp) for every doc —
    short docs (< ``w`` tokens) report 0/0/0.
    """
    n_part = docs.sparkSession.sparkContext.defaultParallelism
    wh = (
        docs.repartition(n_part, "doc_id")
        .select("doc_id", F.explode(window_hashes_udf(w)("text")).alias("wh"))
        .localCheckpoint(eager=False, storageLevel=PIN_LEVEL)  # consumed by both branches below
    )
    # windows per hash are already DISTINCT per doc (the UDF dedupes),
    # so count(*) per hash == distinct docs containing the window
    shared = (
        wh.groupBy("wh").agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
        .select("wh", F.lit(1).alias("is_shared"))
    )
    # ONE pass over the window table computes both per-doc counts:
    # tag each window with its shared flag (left join), then a single
    # groupBy(doc_id) — instead of a semi-join plus two separate
    # aggregations joined back together.
    per_doc = (
        wh.join(shared, "wh", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_windows"),
            F.sum(F.coalesce("is_shared", F.lit(0))).alias("n_shared_windows"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_windows", F.lit(0)).cast("long").alias("n_windows"),
            F.coalesce("n_shared_windows", F.lit(0)).cast("long")
            .alias("n_shared_windows"),
            F.when(
                F.coalesce("n_windows", F.lit(0)) > 0,
                F.floor(
                    F.coalesce("n_shared_windows", F.lit(0)) * 10000
                    / F.col("n_windows")
                ),
            ).otherwise(F.lit(0)).cast("long").alias("shared_bp"),
        )
    )


def q_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return repeated_spans(table(spark, sf_dir, "documents"))


ORACLE_REPEATED_SPANS = f"""
WITH toks AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), w -> w <> '') AS ws
    FROM documents
),
hs AS (
    SELECT doc_id,
           list_transform(ws, x -> ('0x' || substr(md5(x), 1, 15))::BIGINT % {SPAN_P}) AS hl
    FROM toks
),
wins AS (
    SELECT DISTINCT doc_id,
           list_reduce(
               list_prepend(CAST(0 AS HUGEINT), hl[i:i+{SPAN_WINDOW - 1}]),
               (acc, t) -> (acc * {SPAN_B} + t) % {SPAN_P})::BIGINT AS wh
    FROM hs, unnest(range(1, greatest(len(hl) - {SPAN_WINDOW - 1}, 0) + 1)) AS t(i)
),
shared AS (
    SELECT wh FROM wins GROUP BY wh HAVING count(*) >= 2
),
per_doc AS (
    SELECT w.doc_id,
           count(*) AS n_windows,
           sum(CASE WHEN s.wh IS NOT NULL THEN 1 ELSE 0 END) AS n_shared
    FROM wins w LEFT JOIN shared s ON w.wh = s.wh
    GROUP BY w.doc_id
)
SELECT d.doc_id,
       CAST(coalesce(p.n_windows, 0) AS BIGINT) AS n_windows,
       CAST(coalesce(p.n_shared, 0) AS BIGINT) AS n_shared_windows,
       CAST(CASE WHEN coalesce(p.n_windows, 0) > 0
                 THEN floor(coalesce(p.n_shared, 0) * 10000 / p.n_windows)
                 ELSE 0 END AS BIGINT) AS shared_bp
FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
"""


QUERIES = [
    ("dedup_exact", q_dedup_exact, ORACLE_DEDUP_EXACT,
     "E1 exact dedup: keeper id + copy count per identical text."),
    ("dedup_ngram_jaccard", q_ngram_jaccard, ORACLE_NGRAM_JACCARD,
     "E2 near-dup: word-3-gram Jaccard similarity self-join "
     "(the documented exact all-pairs baseline)."),
    ("dedup_ngram_jaccard_guarded", q_ngram_jaccard_guarded,
     ORACLE_NGRAM_JACCARD_GUARDED,
     "E2 guard-ON twin (round 9): the stop-shingle broadcast "
     "anti-join REGISTERED AND FIRING (df cap 4 so fixture shingles "
     "are hot), oracle-mirrored — the sub-quadratic scale path under "
     "the hash gate (the unguarded twin measured 8.4x per 5x at the "
     "125x tier)."),
    ("dedup_simhash", q_simhash, ORACLE_SIMHASH,
     "E2 near-dup: 60-bit tf-weighted SimHash signatures."),
    ("dedup_minhash_lsh", q_minhash_candidates, ORACLE_MINHASH,
     "E2 near-dup: MinHash LSH band-bucket candidate pairs."),
    ("dedup_containment", q_containment_pairs, ORACLE_CONTAINMENT,
     "E2 near-dup: asymmetric containment |A∩B|/|A| over LSH "
     "candidates — catches quote/subset pairs Jaccard misses."),
    ("docs_ngram_novelty", q_ngram_novelty, ORACLE_NGRAM_NOVELTY,
     "Per-doc corpus-unique shingle fraction (novelty/memorization "
     "signal): df aggregate + join back on the 8-byte shingle hash."),
    ("dedup_lsh_neardup", q_lsh_near_dup, ORACLE_LSH_NEAR_DUP,
     "E2 composed scale path: LSH candidates -> exact Jaccard rescore "
     "(sub-quadratic; no shingle self-join)."),
    ("dedup_lsh_neardup_guarded", q_lsh_near_dup_guarded,
     ORACLE_LSH_GUARDED,
     "E2 guard-ON twin (round 8): the hot-bucket size filter "
     "REGISTERED AND FIRING (cap 4 so fixture buckets are hot), "
     "oracle-mirrored — the production drop semantics under the hash "
     "gate."),
    ("dedup_hot_bucket_census", q_hot_bucket_census, ORACLE_HOT_BUCKETS,
     "Guard drop accounting (round 8): every band bucket the cap-4 "
     "guard drops, with its size — the lsh_hot_buckets companion a "
     "pipeline alerts on, hash-checked."),
    ("dedup_band_volume_census", q_band_volume_census, ORACLE_BAND_CENSUS,
     "Rescore capacity planning (round 10): band-bucket size "
     "histogram with candidate-pair accounting — the census the 625x "
     "probe diagnosis ran, as a registered query."),
    ("dedup_jaccard_calibration", q_jaccard_estimate_calibration,
     ORACLE_JACCARD_CALIBRATION,
     "Sketch-vs-exact calibration (round 10): exact Jaccard mass by "
     "MinHash signature-agreement level — the measured basis for "
     "replacing the rescore's array transport with the zero-transport "
     "signature estimate."),
    ("dedup_lsh_neardup_sketch", q_lsh_near_dup_sketch, ORACLE_LSH_SKETCH,
     "E2 sketch-only rescore (round 11): LSH candidates scored by "
     "MinHash signature agreement — the zero-transport swap for the "
     "exact rescore's measured 46 GB-at-625x shingle-array shuffle, "
     "justified per-corpus by dedup_jaccard_calibration."),
    ("dedup_lsh_neardup_sketch_guarded", q_lsh_near_dup_sketch_guarded,
     ORACLE_LSH_SKETCH_GUARDED,
     "E2 guard-ON sketch twin (round 11): hot-bucket drop composed "
     "with signature-agreement scoring — dropped buckets remove "
     "their agreement contributions, hash-checked (cap 4 so fixture "
     "buckets are hot)."),
    ("dedup_lsh_neardup_auto", q_lsh_near_dup_auto, ORACLE_LSH_AUTO,
     "Stats-driven rescore planning (round 11): the engine reads the "
     "band census and picks exact-array vs zero-transport sketch "
     "scoring itself, deterministically — the decision is replayed "
     "inside the DuckDB oracle, so the planner's choice is part of "
     "the hash."),
    ("dedup_sketch_confusion", q_sketch_confusion, ORACLE_SKETCH_CONFUSION,
     "Sketch-safety decision procedure (round 11): 2x2 sketch-kept "
     "vs exact-kept confusion over all LSH candidates at the "
     "operating threshold — the number the README rule says to read "
     "before swapping the exact rescore for the sketch path."),
    ("dedup_repeated_spans", q_repeated_spans, ORACLE_REPEATED_SPANS,
     "ExactSubstr-style cross-doc repeated token-window audit "
     "(rolling-hash windows, no pair join / suffix array)."),
    ("dedup_incremental", q_incremental_dedup, ORACLE_INCREMENTAL_DEDUP,
     "Incremental shard-vs-corpus dedup: one-sided LSH bucket pairing "
     "(never corpus x corpus), exact rescore, best-match per incoming "
     "doc, total output."),
    ("dedup_incremental_sketch", q_incremental_sketch_pairs,
     ORACLE_INCREMENTAL_SKETCH,
     "Sketch-mode incremental dedup (round 11): cross-side candidates "
     "scored by signature agreement from the one-sided bucket pairing "
     "itself — shingle sets never materialized, zero set transport."),
]
