"""Vector-similarity operators over the ``embeddings`` table.

Exact cosine math stays in built-in higher-order functions
(``zip_with`` + ``aggregate`` over doubles — JVM-side, no Python in the
hot path). The brute-force top-k broadcasts the (small) query set
against the full corpus — at 100 TB the corpus side streams, only the
queries are broadcast, so there is no shuffle at all. The scale path is
``BucketedRandomProjectionLSH`` over L2-normalized vectors (euclidean
distance on unit vectors is monotone in cosine), verified by recall
against the exact operator in pytest (V2/V3) — approximate results are
rows-only for the driver.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from aw3d30_parquet_spark.numeric import round_half_up
from aw3d30_parquet_spark.scratch import memo
from aw3d30_parquet_spark.session import register_views, session_token, spread

DEFAULT_K = 5
DEFAULT_N_QUERIES = 20


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    # expensive per-row kernels downstream: fan the (single-split)
    # scan out to all cores; no-op when splits >= parallelism
    return spread(spark.table("embeddings"))


def embedding_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-column sanity profile: row count, dim bounds, label card."""
    return _emb(spark, sf_dir).agg(
        F.count("*").alias("cnt"),
        F.min(F.size("embedding")).alias("min_dim"),
        F.max(F.size("embedding")).alias("max_dim"),
        F.countDistinct("label").alias("n_labels"),
    )


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(_dot(a, a))


def cosine(a, b):
    """Cosine similarity between two array<float> columns, in doubles."""
    return _dot(a, b) / (_norm(a) * _norm(b))


def ann_topk_bruteforce(
    spark: SparkSession,
    sf_dir: str,
    k: int = DEFAULT_K,
    n_queries: int = DEFAULT_N_QUERIES,
) -> DataFrame:
    """Exact top-k cosine neighbors for the first ``n_queries`` vectors.

    Broadcast the query set; the corpus side is a single streaming scan
    (no shuffle for the join — only the final per-query top-k, which is
    a partial TakeOrdered per partition under AQE).
    """
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    corpus = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_emb")
    )
    raw = cosine(F.col("q_emb"), F.col("c_emb"))
    # floor-based half-up rounding, NOT round(): Spark's Round on
    # doubles goes through the value's shortest-decimal BigDecimal
    # (HALF_UP on the decimal repr) while DuckDB rounds in double
    # arithmetic — the two can disagree at 4th-decimal half
    # boundaries. floor(x·10⁴ + 0.5) is pure IEEE arithmetic, computed
    # identically by both engines on identical doubles (the same
    # reasoning as d04's jaccard rounding).
    scored = (
        F.broadcast(queries)
        .join(corpus, F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cos",
            round_half_up(raw, 4),
        )
    )
    # rank on the ROUNDED cosine (id tiebreak): ranking at 4-decimal
    # precision is the operator's determinism contract — raw-float
    # rank order is not bit-stable across engines (two neighbors
    # within 1e-16 could legally swap), but rounded scores + id
    # tiebreak give one canonical answer, which is what makes this
    # entry DuckDB-oracle-checkable instead of rows-only
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cos")
        .orderBy("query_id", "rank")
    )


def _normalized_features(emb: DataFrame) -> DataFrame:
    """L2-normalize embeddings into an MLlib dense vector column.

    The norm is materialized once per row before the element-wise
    divide — putting ``_norm`` inside the transform lambda would
    re-evaluate the full-array aggregate for every element (64×).
    """
    from pyspark.ml.functions import array_to_vector

    arr = F.col("embedding")
    return (
        emb.withColumn("_n", _norm(arr))
        .withColumn(
            "features",
            array_to_vector(F.transform(arr, lambda x: x.cast("double") / F.col("_n"))),
        )
        .drop("_n")
    )


#: embedding quantization scale for the signature dot products: q_d =
#: floor(e_d·10⁶ + 0.5). With |e| < 1 and |plane| < 2^19 the per-bit
#: dot sums stay < 2^45 — far inside float64's exact-integer range
#: (2^53), so numpy's matmul (any summation order) and DuckDB's
#: sequential list_dot_product produce the IDENTICAL integer, making
#: the full 256-bit signature engine-independent. (The earlier
#: Gaussian-plane form was numpy-RNG-specific — rows-only forever.)
SIG_QUANT = 1_000_000
#: signed hyperplane component range: md5-derived ints in [-2^19, 2^19)
SIG_PLANE_MOD = 1 << 20


def _sig_plane(d: int, b: int) -> int:
    """md5-derived hyperplane component — the same 60-bit md5-prefix →
    modular-reduce arithmetic DuckDB recomputes in the v03/v04 oracles:
    ``('0x' || substr(md5(d || ':' || b), 1, 15))::BIGINT % 2^20 - 2^19``."""
    import hashlib

    h = int(hashlib.md5(f"{d}:{b}".encode()).hexdigest()[:15], 16)
    return h % SIG_PLANE_MOD - SIG_PLANE_MOD // 2


def _simhash_signature(n_bits: int = 256, dim: int = 64):
    """Vectorized pandas UDF: embedding → n_bits-bit hyperplane sign
    signature packed into ``n_bits/64`` BIGINT words. One numpy matmul
    per Arrow batch (index build — at 100 TB this column is
    materialized once next to the embeddings and the per-batch matmul
    runs embarrassingly parallel, map-side only).

    Hyperplanes are md5-derived integer vectors (:func:`_sig_plane`)
    and embeddings are half-up-quantized to integers, so every dot
    product is EXACT integer arithmetic carried in float64 — the
    signature is reproducible bit-for-bit by the DuckDB oracle, which
    is what promoted v03/v04 from rows-only to full hash checks (r6).
    Sign quality: uniform symmetric components give the same
    E[Hamming] ∝ angle monotonicity as Gaussian planes (recall floors
    re-asserted in pytest V3/V4)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    n_words = n_bits // 64
    planes = np.array(
        [[_sig_plane(d, b) for b in range(n_bits)] for d in range(dim)],
        dtype=np.float64,
    )
    weights = 1 << np.arange(64, dtype=np.uint64)

    def _sig(col):
        m = np.vstack(col.to_numpy()).astype(np.float64)
        q = np.floor(m * SIG_QUANT + 0.5)  # exact ints in float64
        bits = (q @ planes) > 0  # (n, n_bits)
        words = bits.reshape(len(m), n_words, 64).astype(np.uint64) @ weights
        return pd.Series(list(words.astype(np.int64)))

    # no type hints: the module's `from __future__ import annotations`
    # stringifies them, which pandas_udf's inference rejects
    return pandas_udf(_sig, "array<long>")


def ann_topk_lsh(
    spark: SparkSession,
    sf_dir: str,
    k: int = DEFAULT_K,
    n_queries: int = DEFAULT_N_QUERIES,
    n_bits: int = 256,
    n_candidates: int = 100,
) -> DataFrame:
    """Approximate top-k via a SimHash sketch filter + exact rerank.

    Two stages:

    1. **sketch scan** — rank the corpus per query by Hamming distance
       between 256-bit hyperplane-sign signatures (4 packed longs).
       The per-pair cost is four ``bit_count(word XOR q_word)`` —
       codegen'd long ops against the brute-force 64-dim interpreted
       dot product — and the scan reads only the 32-byte sketch column
       (16× less IO than the embeddings at scale). E[Hamming] =
       n_bits·θ/π is monotone in angle, so ranking by it approximates
       ranking by cosine; sketch SNR grows as √n_bits (measured recall
       at the smoke fixture: 64b/C=60 → 0.55, 256b/C=100 → 0.95).
    2. **exact rerank** — the top-``n_candidates`` ids per query (a
       broadcast-sized relation) join back to the corpus for their
       vectors; exact cosine + top-k over C·q rows instead of N·q.

    Recall is tunable via n_candidates (asserted ≥0.8 against the
    brute-force oracle in pytest V3). Bucket-exact LSH (MLlib's
    BucketedRandomProjectionLSH) degenerates on corpora with no near
    pairs: at the bucket width that keeps 0.8 top-k recall on
    mid-angle neighbors it admits every pair — a slower brute force.
    The sketch-rank form keeps the pruning while staying exhaustive
    over candidates, which is the honest 100 TB design: scan a thin
    sketch column, touch full vectors for C ids per query. (v04's
    near-dup join reuses the same signatures with banded buckets —
    bucketing works there because its radius is tiny.)
    """
    emb = _emb(spark, sf_dir)
    sig = _simhash_signature(n_bits=n_bits)
    sigd = emb.select("vec_id", "embedding", sig("embedding").alias("sig"))
    queries = sigd.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("sig").alias("q_sig"),
    )
    n_words = n_bits // 64
    ham = sum(
        F.bit_count(
            F.element_at("sig", i).bitwiseXOR(F.element_at("q_sig", i))
        )
        for i in range(1, n_words + 1)
    )
    stage1 = (
        sigd.select(F.col("vec_id").alias("neighbor_id"), "sig")
        .join(
            F.broadcast(queries.select("query_id", "q_sig")),
            F.col("query_id") != F.col("neighbor_id"),
        )
        .select("query_id", "neighbor_id", ham.alias("ham"))
    )
    wh = Window.partitionBy("query_id").orderBy("ham", "neighbor_id")
    cand = (
        stage1.withColumn("r", F.row_number().over(wh))
        .filter(F.col("r") <= n_candidates)
        .select("query_id", "neighbor_id")
    )
    rerank = (
        emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_emb"))
        .join(F.broadcast(cand), "neighbor_id")
        .join(F.broadcast(queries.select("query_id", "q_emb")), "query_id")
        # rank on the ROUNDED cosine with id tiebreak (v02's
        # determinism contract — raw-float rank order is not bit-
        # stable), floor-half-up so both engines round identically
        .withColumn(
            "cos", round_half_up(cosine(F.col("q_emb"), F.col("c_emb")), 4)
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        rerank.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cos")
        .orderBy("query_id", "rank")
    )


def _ivf_index(
    spark: SparkSession, sf_dir: str, n_clusters: int
) -> tuple[DataFrame, DataFrame]:
    """(assigned-corpus DF, centroids DF), a :func:`memo` entry. The IVF
    index is a BUILD-ONCE artifact: at 100 TB it is a
    cluster-id-partitioned parquet table plus a centroid sidecar,
    materialized by an indexing job and reused by every query.
    Memoizing the fitted assignment (persisted) and centroid relation
    per testdata dir is the in-process analogue — queries measure the
    probe path, not a rebuild of the index they'd never rebuild in
    production."""
    return memo(
        spark,
        "ivf",
        sf_dir,
        n_clusters,
        build=lambda: _build_ivf_index(spark, sf_dir, n_clusters),
    )


def _build_ivf_index(
    spark: SparkSession, sf_dir: str, n_clusters: int
) -> tuple[DataFrame, DataFrame]:
    from pyspark.ml.clustering import KMeans

    # persist: the normalized-feature projection is re-read by every
    # k-means pass, the assignment transform, and the scoring join —
    # exactly the "materialize the index input once" posture the 100 TB
    # path has (there it's a parquet table, here executor memory)
    feats = _normalized_features(_emb(spark, sf_dir)).persist()
    # random init + capped iterations: k-means|| init costs ~2 extra
    # full passes (each a scheduled job) for quality the rerank step
    # doesn't need — list assignment only has to be roughly balanced,
    # recall is recovered by probing n_probe lists (pytest-pinned ≥0.75)
    model = KMeans(
        k=n_clusters,
        seed=42,
        initMode="random",
        maxIter=8,
        featuresCol="features",
        predictionCol="cluster_id",
    ).fit(feats)
    corpus = (
        model.transform(feats)
        .select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("c_emb"),
            "cluster_id",
        )
        .persist()
    )
    centroids = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        "cluster_id int, centroid array<double>",
    )
    feats.unpersist()
    return corpus, centroids


def ann_topk_ivf(
    spark: SparkSession,
    sf_dir: str,
    k: int = DEFAULT_K,
    n_queries: int = DEFAULT_N_QUERIES,
    n_clusters: int = 16,
    n_probe: int = 8,
) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) index.

    Index build = k-means over unit vectors; the corpus is then
    partitioned by nearest-centroid id (at 100 TB this is a one-time
    materialized table, cluster-id-partitioned on disk so a probe is
    partition pruning, not a scan). Query time: each query ranks the
    tiny centroid table (broadcast, n_clusters rows) and probes only its
    ``n_probe`` nearest lists — the scoring join reads ~n_probe/
    n_clusters of the corpus instead of all of it, and the probe side is
    broadcast so the candidate join is shuffle-free on the corpus.
    """
    corpus, centroids = _ivf_index(spark, sf_dir, n_clusters)
    queries = _emb(spark, sf_dir).filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    wc = Window.partitionBy("query_id").orderBy(
        F.col("c_cos").desc(), F.col("cluster_id")
    )
    probe = (
        queries.crossJoin(F.broadcast(centroids))
        .withColumn("c_cos", cosine(F.col("q_emb"), F.col("centroid")))
        .withColumn("r", F.row_number().over(wc))
        .filter(F.col("r") <= n_probe)
        .select("query_id", "q_emb", "cluster_id")
    )
    scored = (
        corpus.join(F.broadcast(probe), "cluster_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", cosine(F.col("q_emb"), F.col("c_emb")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", F.round("cos", 4).alias("cos"))
        .orderBy("query_id", "rank")
    )


def embedding_neardup_pairs(
    spark: SparkSession,
    sf_dir: str,
    cos_threshold: float = 0.999,
    n_bits: int = 256,
    band_bits: int = 32,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, native banded SimHash LSH.

    d06's native-banding shape applied to vectors (replaces the earlier
    MLlib ``BucketedRandomProjectionLSH`` route, whose
    ``approxSimilarityJoin`` re-evaluated its hash UDFs inside an
    optimizer-inferred scan filter and shipped rows through Python):

    1. one map-side pandas-UDF matmul packs a 256-bit hyperplane-sign
       signature per vector (the same signature column v03's sketch
       scan uses — at scale it is materialized once, next to the data);
    2. the signature splits into 8 bands of 32 bits; candidates are
       actual band collisions — an equi self-join on (band_id, value),
       never all-pairs. At cos ≥ 0.999 (θ ≈ 2.6°) a band matches with
       p ≈ 0.63, so ≥1-of-8 collides with p ≈ 1 − 3e-4; at cos ≈ 0.5
       a band matches with p ≈ 2e-6 — the join stays sparse;
    3. exact cosine (JVM ``zip_with``/``aggregate``) verifies every
       candidate; the threshold filter is null-tolerant so no derived
       isnotnull guard lands below the scan.
    """
    return _neardup_pairs_df(
        _emb(spark, sf_dir), cos_threshold, n_bits, band_bits
    )


def _neardup_pairs_df(
    emb: DataFrame,
    cos_threshold: float = 0.999,
    n_bits: int = 256,
    band_bits: int = 32,
) -> DataFrame:
    """Core of :func:`embedding_neardup_pairs` over any
    (vec_id, embedding) relation — separable so tests can inject known
    near-duplicates (the testdata corpus has none by construction)."""
    sig = _simhash_signature(n_bits=n_bits)
    sigd = emb.select("vec_id", sig("embedding").alias("sig"))
    n_bands = n_bits // band_bits
    per_word = 64 // band_bits
    mask = (1 << band_bits) - 1
    bands = F.array(
        *[
            (
                F.shiftright(
                    F.element_at("sig", j // per_word + 1),
                    band_bits * (j % per_word),
                ).bitwiseAND(F.lit(mask))
            )
            for j in range(n_bands)
        ]
    )
    banded = sigd.select(
        "vec_id", F.posexplode(bands).alias("band_id", "band_val")
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("id_a"), F.col("b.vec_id").alias("id_b")
        )
        .distinct()
    )
    ea = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("e_a"))
    eb = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("e_b"))
    ver = cand.join(ea, "id_a").join(eb, "id_b").withColumn(
        "cos", cosine(F.col("e_a"), F.col("e_b"))
    )
    return (
        ver.filter(F.coalesce(F.col("cos") >= cos_threshold, F.lit(False)))
        .select("id_a", "id_b")
        .orderBy("id_a", "id_b")
    )


PQ_M = 8  # subspaces (64-dim → 8 × 8-dim)
PQ_K = 16  # centroids per subspace (4-bit codes)
PQ_TRAIN_SAMPLE = 4096  # codebooks train on a bounded sample (faiss-style)


def _pq_train(vecs, m: int = PQ_M, k: int = PQ_K, iters: int = 10):
    """Per-subspace Lloyd's k-means over a bounded training sample —
    driver-side numpy on ≤PQ_TRAIN_SAMPLE rows (codebook training is
    sample-based at any scale; the full corpus is only ever *encoded*).
    Returns (m, k, sub_dim) centroids."""
    import numpy as np

    n, dim = vecs.shape
    sd = dim // m
    rng = np.random.RandomState(42)
    books = np.empty((m, k, sd))
    for j in range(m):
        x = vecs[:, j * sd : (j + 1) * sd]
        c = x[rng.choice(n, k, replace=False)].copy()
        for _ in range(iters):
            d = ((x[:, None, :] - c[None, :, :]) ** 2).sum(-1)
            a = d.argmin(1)
            for ci in range(k):
                pts = x[a == ci]
                if len(pts):
                    c[ci] = pts.mean(0)
        books[j] = c
    return books


def _pq_index(spark: SparkSession, sf_dir: str):
    """(codes DF, codebook ndarray), a :func:`memo` entry. Like the IVF
    index: a build-once artifact (at 100 TB the uint8 code table is
    materialized next to the corpus — 8 bytes/vector vs 256 — and the
    codebook is a tiny sidecar every executor holds)."""
    return memo(
        spark, "pq", sf_dir, PQ_M, PQ_K, build=lambda: _build_pq_index(spark, sf_dir)
    )


def _build_pq_index(spark: SparkSession, sf_dir: str):
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    emb = _emb(spark, sf_dir)
    # vec_id-bounded sample (not an unordered limit(), whose row set
    # depends on scan layout): deterministic codebooks across runs
    sample = np.vstack(
        emb.filter(F.col("vec_id") < PQ_TRAIN_SAMPLE)
        .select("embedding")
        .toPandas()["embedding"]
        .to_numpy()
    ).astype(np.float64)
    norms = np.linalg.norm(sample, axis=1, keepdims=True)
    books = _pq_train(sample / norms)

    def _enc(col):
        x = np.vstack(col.to_numpy()).astype(np.float64)
        x /= np.linalg.norm(x, axis=1, keepdims=True)
        m, k, sd = books.shape
        codes = np.empty((len(x), m), np.int32)
        for j in range(m):
            d = (
                (x[:, None, j * sd : (j + 1) * sd] - books[None, j]) ** 2
            ).sum(-1)
            codes[:, j] = d.argmin(1)
        return pd.Series(list(codes))

    encode = pandas_udf(_enc, "array<int>")
    codes = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        encode("embedding").alias("codes"),
    ).persist()
    codes.count()  # materialize the build-once artifact
    return codes, books


def ann_topk_pq(
    spark: SparkSession,
    sf_dir: str,
    k: int = DEFAULT_K,
    n_queries: int = DEFAULT_N_QUERIES,
    n_candidates: int = 100,
) -> DataFrame:
    """v06: approximate top-k via product quantization (PQ) + exact
    rerank — the memory-resident scale path for embedding search.

    Index build (once, memoized like IVF): per-subspace codebooks train
    on a bounded sample; the corpus encodes to M=8 4-bit codes — an
    8-byte representation of a 256-byte vector, so at 100 TB the scan
    side shrinks 32× and fits executor memory where raw vectors don't.

    Query path is asymmetric distance computation (ADC): each query
    precomputes its M×K inner-product lookup table against the
    codebooks (tiny, computed driver-side from the broadcast-scale
    query set); the corpus scan scores each row with M ``element_at``
    lookups summed in codegen — no Python, no full-vector touches.
    Top-``n_candidates`` per query then rerank with exact cosine
    (v03's two-stage shape; recall pinned ≥0.75 vs brute force in
    pytest V6)."""
    import numpy as np

    codes, books = _pq_index(spark, sf_dir)
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    qp = queries.toPandas()  # bounded query set (broadcast-scale)
    qv = np.vstack(qp["q_emb"].to_numpy()).astype(np.float64)
    qv /= np.linalg.norm(qv, axis=1, keepdims=True)
    m, kk, sd = books.shape
    # per-query flat LUT: lut[j*K + c] = <q_sub_j, centroid_jc>
    luts = np.einsum(
        "qjd,jcd->qjc", qv.reshape(len(qv), m, sd), books
    ).reshape(len(qv), m * kk)
    lut_rows = [
        (int(qid), [float(v) for v in row])
        for qid, row in zip(qp["query_id"], luts)
    ]
    lut_df = spark.createDataFrame(
        lut_rows, "query_id bigint, lut array<double>"
    )
    score = sum(
        F.element_at(
            "lut", F.element_at("codes", j + 1) + F.lit(j * kk + 1)
        )
        for j in range(m)
    )
    scored = codes.join(
        F.broadcast(lut_df), F.col("query_id") != F.col("neighbor_id")
    ).select("query_id", "neighbor_id", score.alias("adc"))
    wh = Window.partitionBy("query_id").orderBy(
        F.col("adc").desc(), F.col("neighbor_id")
    )
    cand = (
        scored.withColumn("r", F.row_number().over(wh))
        .filter(F.col("r") <= n_candidates)
        .select("query_id", "neighbor_id")
    )
    rerank = (
        emb.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("c_emb"),
        )
        .join(F.broadcast(cand), "neighbor_id")
        .join(F.broadcast(queries), "query_id")
        .withColumn("cos", cosine(F.col("q_emb"), F.col("c_emb")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        rerank.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "rank", "neighbor_id", F.round("cos", 4).alias("cos")
        )
        .orderBy("query_id", "rank")
    )


#: v07 clustering width: 2^bits axis-sign buckets. At 100 TB the
#: cluster count must scale with the corpus (SemDeDup uses ~sqrt(n)
#: k-means clusters); here bits = log2(k) and the deterministic
#: axis-sign family stands in for the trained centroids so the WHOLE
#: operator stays cross-engine reproducible (see docstring).
#: ``SEMDEDUP_SIGN_BITS`` is the FLOOR — :func:`semdedup_bits` scales
#: bits with the corpus so the within-cluster quadratic term
#: (Σ n_c² ≈ n·target) stays linear in n: the 10× probe initially grew
#: 33× on fixed 16 clusters (SCALING.md), the SemDeDup failure mode
#: the paper's k ∝ n rule exists to prevent.
SEMDEDUP_SIGN_BITS = 4
#: target mean cluster occupancy; bits = ceil(log2(n / target)).
SEMDEDUP_TARGET_CLUSTER = 128
#: cap: embeddings are 64-dim, and past 2^16 clusters the axis-sign
#: family runs out of useful sign diversity on this fixture.
SEMDEDUP_MAX_BITS = 16


def semdedup_bits(n: int) -> int:
    """Corpus-size-adaptive cluster bits: smallest ``bits`` with mean
    occupancy ≤ ``SEMDEDUP_TARGET_CLUSTER``, clamped to
    [SIGN_BITS, MAX_BITS]. The DuckDB oracle computes the identical
    ``greatest(4, least(16, ceil(log2(count(*)/128.0))))`` — exact
    powers of two hit exact log2 in both engines, so the two sides
    can never disagree on the cluster width."""
    import math

    if n <= 0:
        return SEMDEDUP_SIGN_BITS
    return max(
        SEMDEDUP_SIGN_BITS,
        min(
            SEMDEDUP_MAX_BITS,
            math.ceil(math.log2(n / SEMDEDUP_TARGET_CLUSTER)),
        ),
    )
#: within-cluster cosine at/above which the higher-id vector is a
#: semantic duplicate. Real deployments run ~0.95+ on trained text
#: embeddings; the synthetic fixture's embeddings are near-isotropic
#: (max within-cluster cosine ≈ 0.51 at sf0.01), so the registered
#: threshold is calibrated to exercise the drop path, not to mimic a
#: production setting.
SEMDEDUP_TAU = 0.35


def semantic_dedup(
    spark: SparkSession,
    sf_dir: str,
    tau: float = SEMDEDUP_TAU,
    bits: int | None = None,
) -> DataFrame:
    """v07: SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space, then drop any
    vector with a same-cluster neighbor of cosine ≥ ``tau`` and a
    smaller id; output one row per dropped vector with its best keeper.

    Clustering here is the 2^bits axis-sign partition (sign pattern of
    the first ``bits`` components — axis-aligned LSH hyperplanes):
    fully deterministic and recomputable by the DuckDB oracle, which
    is what makes the end-to-end operator hash-checkable. A production
    deployment swaps in v05's k-means IVF assignment (the memoized
    build-once index — same downstream plan, trained centroids instead
    of axis signs); the oracle contract is the only reason for the
    deterministic family, exactly as d05/d06 use md5 where production
    would use xxhash64.

    Scale shape: cluster assignment is a map-side expression (no
    Python, no shuffle); the only shuffle is the self-join on
    ``cluster_id``, whose cost is Σ n_c² — the SemDeDup point: k grows
    with the corpus so n_c stays bounded and the quadratic term never
    sees corpus². The per-dropped-vector window ranks only that
    vector's own in-cluster matches. Ranking compares the ROUNDED
    cosine (floor-half-up, shared numeric contract) with an id
    tie-break, so both engines agree on the keeper.

    r12 (the m06 lesson applied here — SCALING.md round-12): the
    dens100 probe measured the within-cluster pairwise join going
    SUPER-linear on an exact-replica corpus (124.7 k → 877 k → 19.9 M
    candidates for 1×/10×/100×; 22.6× for the last 10×). The
    mean-occupancy law fails there because k cannot exceed the sign
    diversity of the DISTINCT vectors — every replica lands in an
    existing bucket, so Σ n_c² grows ∝ replicas². Above a measured
    candidate-volume gate the GROUP-COLLAPSED plan runs instead
    (:func:`_v07_group_collapsed`): pairwise only between distinct
    vectors, closed-form keepers inside exact-duplicate groups —
    byte-identical output (pytest-pinned vs brute force), candidate
    volume back to the distinct-vector relation's own Σ r_c².
    """
    emb = _emb(spark, sf_dir)
    if bits is None:
        # corpus-size-adaptive cluster width (k ∝ n — the SemDeDup
        # contract). The count is a parquet-footer metadata read, not
        # a data scan; resolving it driver-side keeps the cluster-id
        # expression a static codegen literal.
        bits = semdedup_bits(emb.count())
    e = F.transform("embedding", lambda x: x.cast("double"))
    cid = sum(
        (F.element_at(e, i + 1) > 0).cast("int") * (1 << (bits - 1 - i))
        for i in range(bits)
    )
    v = emb.select("vec_id", e.alias("e"), cid.alias("cluster_id"))
    n, pair_cand, grp_cand = _v07_gate(spark, sf_dir, bits, v)
    if pair_cand <= V07_PAIRWISE_RATIO_CAP * (grp_cand + n):
        # duplicate-light corpus (every fixture sf; any corpus whose
        # growth adds DISTINCT vectors): the direct pairwise join's
        # volume is within a stage-overhead factor of the collapsed
        # plan's, and one join beats three
        a, b = v.alias("a"), v.alias("b")
        cos = round_half_up(cosine(F.col("a.e"), F.col("b.e")), 4)
        pairs = (
            a.join(
                b,
                (F.col("a.cluster_id") == F.col("b.cluster_id"))
                & (F.col("a.vec_id") < F.col("b.vec_id")),
            )
            .select(
                F.col("a.cluster_id").alias("cluster_id"),
                F.col("a.vec_id").alias("keeper_id"),
                F.col("b.vec_id").alias("dropped_id"),
                cos.alias("cos"),
            )
            .filter(F.col("cos") >= tau)
        )
    else:
        # duplicate-saturated corpus: collapse exact-duplicate vectors
        # first; the quadratic term shrinks to the DISTINCT-vector
        # relation (19.9 M → ~205 k candidate rows at dens100)
        pairs = _v07_group_collapsed(v, tau)
    w = Window.partitionBy("dropped_id").orderBy(
        F.col("cos").desc(), F.col("keeper_id")
    )
    return (
        pairs.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .select("cluster_id", "dropped_id", "keeper_id", "cos")
        .orderBy("dropped_id")
    )


#: v07 plan-choice gate (r12 — m06's measured-scalar discipline): the
#: direct within-cluster pairwise join is KEPT while its measured
#: candidate volume Σ_c n_c·(n_c−1)/2 stays within this factor of the
#: group-collapsed plan's volume (distinct-vector rep pairs + the
#: member-sized join inputs). On duplicate-free corpora the two
#: volumes are equal, so the gate resolves to "pairwise unless
#: collapsing actually removes ≥ CAP× of the work". Interleaved A/B
#: (min-over-3, SCALING.md round-12): at ratio ≈ 1 (sf0.1, no exact
#: dups) pairwise wins 1.09 vs 1.92 s — the collapsed plan's groupBy +
#: two member joins are pure overhead there; at ratio 31 (10×
#: replicas) collapsed wins 2.41 vs 3.34 s; at ratio 712 (dens100)
#: collapsed wins 23.3 vs 68.8 s. CAP = 8 sits inside the measured
#: bracket, the same stage-overhead factor m06's gate uses.
V07_PAIRWISE_RATIO_CAP = 8.0

#: (session, sf_dir, bits) → (n, Σ n_c·(n_c−1)/2, Σ r_c·(r_c−1)/2),
#: memoized like the p05/m06 gates so plan compilations (the
#: suite-wide hygiene walk) don't re-aggregate the corpus.
_V07_GATE_MEMO: dict[tuple[str, str, int], tuple[int, int, int]] = {}


def _v07_gate(
    spark: SparkSession, sf_dir: str, bits: int, v: DataFrame
) -> tuple[int, int, int]:
    key = (session_token(spark), sf_dir, bits)
    if key not in _V07_GATE_MEMO:
        occ = (
            v.groupBy("cluster_id", "e")
            .agg(F.count("*").alias("n_g"))
            .groupBy("cluster_id")
            .agg(F.sum("n_g").alias("n_c"), F.count("*").alias("r_c"))
        )
        row = occ.agg(
            F.coalesce(F.sum("n_c"), F.lit(0)).alias("n"),
            F.coalesce(
                F.sum(F.col("n_c") * (F.col("n_c") - 1) / 2), F.lit(0)
            ).alias("pair_cand"),
            F.coalesce(
                F.sum(F.col("r_c") * (F.col("r_c") - 1) / 2), F.lit(0)
            ).alias("grp_cand"),
        ).first()
        _V07_GATE_MEMO[key] = (
            int(row["n"]),
            int(row["pair_cand"]),
            int(row["grp_cand"]),
        )
    return _V07_GATE_MEMO[key]


def _v07_group_collapsed(v: DataFrame, tau: float) -> DataFrame:
    """The duplicate-saturated arm: candidates from DISTINCT vectors
    only, exactly reproducing the pairwise arm's best-keeper choice.

    Correctness argument (the byte-identical contract): for a dropped
    vector m, the pairwise arm ranks every in-cluster k < m with
    rounded cos ≥ τ by (cos desc, id asc). All members of an
    exact-duplicate group share one vector, hence ONE cosine to m — so
    within any candidate group only its minimum id can win the
    tie-break, and that minimum is ≤ every other member (a smaller-id
    member of a group cannot exist below its min). The collapsed
    candidate set {(cos(g', m), min_id(g')) for partner groups g'} ∪
    {(cos(m, m), own-group min) if min < m} therefore contains the
    pairwise arm's winner for every m, and nothing that could outrank
    it — and a candidate exists here iff one exists there (any k < m
    implies its group min < m at the same cosine). Cosine symmetry is
    bit-exact (same index-order multiply/accumulate on both operands),
    and the within-group cosine is COMPUTED (cosine(e, e), rounded),
    not assumed 1.0, so float behavior matches the pairwise arm's."""
    from aw3d30_parquet_spark.scratch import scratch_persist

    grp = scratch_persist(
        "v07.grp",
        v.groupBy("cluster_id", "e").agg(F.min("vec_id").alias("rep_id")),
    )
    ga, gb = grp.alias("ga"), grp.alias("gb")
    rep_cos = round_half_up(cosine(F.col("ga.e"), F.col("gb.e")), 4)
    # both directions kept: ga is the DROPPED side's group, gb the
    # partner whose min id is the keeper candidate
    rep_pairs = (
        ga.join(
            gb,
            (F.col("ga.cluster_id") == F.col("gb.cluster_id"))
            & (F.col("ga.rep_id") != F.col("gb.rep_id")),
        )
        .select(
            F.col("ga.cluster_id").alias("cluster_id"),
            F.col("ga.e").alias("e"),
            F.col("gb.rep_id").alias("partner_min"),
            rep_cos.alias("cos"),
        )
        .filter(F.col("cos") >= tau)
    )
    cross = (
        v.join(rep_pairs, ["cluster_id", "e"])
        .filter(F.col("partner_min") < F.col("vec_id"))
        .select(
            "cluster_id",
            F.col("partner_min").alias("keeper_id"),
            F.col("vec_id").alias("dropped_id"),
            "cos",
        )
    )
    self_cos = round_half_up(cosine(F.col("e"), F.col("e")), 4)
    within = (
        v.join(grp, ["cluster_id", "e"])
        .filter(F.col("rep_id") < F.col("vec_id"))
        .select(
            "cluster_id",
            F.col("rep_id").alias("keeper_id"),
            F.col("vec_id").alias("dropped_id"),
            self_cos.alias("cos"),
        )
        .filter(F.col("cos") >= tau)
    )
    return cross.unionByName(within)


#: v08 radius: rounded-cosine threshold for range search (fixture max
#: pairwise cosine ≈ 0.51, so 0.3 returns a non-vacuous neighbor set).
RANGE_SEARCH_TAU = 0.3


def cosine_range_search(
    spark: SparkSession,
    sf_dir: str,
    tau: float = RANGE_SEARCH_TAU,
    n_queries: int = DEFAULT_N_QUERIES,
) -> DataFrame:
    """v08: cosine RANGE search — the radius-query sibling of v02's
    top-k (similarity search's second primitive: "everything within
    distance r", the form dedup thresholds, recommendation floors and
    recall evaluation all consume). Same broadcast-queries ⋈ corpus
    scan shape as v02, but the per-query result is unbounded-by-k and
    gated on the ROUNDED cosine — which makes the threshold itself
    part of the determinism contract (a raw-float gate could admit a
    pair in one engine and reject it in the other at the boundary).

    Per-query hit counts ride along (``n_hits``) so the driver hash
    also pins the result-set SIZE per query, not just its members.

    Scale shape: identical to v02 — broadcast the bounded query set,
    single streaming corpus scan, no shuffle before the final
    per-query aggregation; an IVF-accelerated variant would reuse
    v05's index with a per-cell cosine bound (skipping cells whose
    centroid bound is below τ).
    """
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    corpus = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_emb")
    )
    cos = round_half_up(cosine(F.col("q_emb"), F.col("c_emb")), 4)
    hits = (
        F.broadcast(queries)
        .join(corpus, F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", cos)
        .filter(F.col("cos") >= tau)
    )
    n_hits = Window.partitionBy("query_id")
    return (
        hits.withColumn("n_hits", F.count("*").over(n_hits))
        .select("query_id", "n_hits", "neighbor_id", "cos")
        .orderBy("query_id", "neighbor_id")
    )


#: v09 k-means: cluster count, Lloyd iterations, component scale.
KMEANS_K = 8
KMEANS_ITERS = 2
KMEANS_SCALE = 10**6
#: fixture embedding dimensionality (pinned by v01's oracle).
EMB_DIM = 64


def kmeans_fixed(
    spark: SparkSession,
    sf_dir: str,
    k: int = KMEANS_K,
    iters: int = KMEANS_ITERS,
) -> DataFrame:
    """v09: fixed-iteration Lloyd k-means over the embeddings — the
    ML-iterative sibling of l01's PageRank loop (and the trained
    version of the clustering v07 stands in for with axis signs; v05's
    IVF uses MLlib's k-means, which is seed-deterministic but not
    cross-engine-reproducible — THIS operator is, which is what makes
    it driver-hash-checkable end to end).

    Determinism contract (l01's recipe applied to ML): components are
    scaled to BIGINT millionths once at input (``floor(x·10⁶+0.5)``),
    then EVERYTHING is exact integer arithmetic — squared-L2 distances
    are BIGINT sums (order-independent), assignment ranks (dist, cid)
    with the id tie-break, and the centroid update is the floor-mean
    ``sum div count`` (Spark ``div`` ≙ DuckDB ``//``, both truncate
    toward zero — verified). The r9 vectorized assignment kernel uses
    float64 REPRESENTATION but all its intermediates stay below 2⁵³
    (guarded — see ``KMEANS_UDF_ABS_MAX``), so every value is still an
    exactly-represented integer and the engines cannot diverge. Init =
    the first ``k`` vectors by id (the deterministic stand-in for
    k-means‖ seeding).

    Unrolled spec: a1 = assign(c0), c1 = update(a1), a2 = assign(c1),
    output = per-cluster (n_members, inertia) of a2.

    Scale shape: assignment is a shuffle-free map stage (collected
    k-row centroid state closure-shipped into a vectorized Arrow
    kernel — since r9; see ``_kmeans_assign``); the update is a
    (k·dim)-key partial aggregate (map-side combine reduces to k·64
    rows) plus a k-row array re-assembly. Per-iteration cost is one
    scan — the MLlib k-means plan, re-expressed with an
    exact-arithmetic contract.
    """
    assign, _ = _kmeans_assign(spark, sf_dir, k, iters)
    return (
        assign.groupBy(F.col("cid").alias("cluster_id"))
        .agg(
            F.count("*").alias("n_members"),
            F.sum("dist").alias("inertia"),
        )
        .orderBy("cluster_id")
    )


def _kmeans_xi():
    """The v09 quantization: components to BIGINT millionths."""
    return F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") * KMEANS_SCALE + 0.5).cast(
            "long"
        ),
    )


def _kmeans_dist(xi_col: str, ci_col: str):
    """Exact BIGINT squared-L2 between two scaled-integer arrays."""
    return F.aggregate(
        F.zip_with(xi_col, ci_col, lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _kmeans_exact_bound(dim: int) -> int:
    """Largest |component| M for which the vectorized assignment
    kernel's float64 arithmetic is provably exact at dimensionality
    ``dim``: the squared-L2 value itself is the largest intermediate,
    dist = Σ(x−c)² ≤ dim·(2M)² = 4·dim·M², and float64 represents
    every integer up to 2⁵³ — so exactness needs 4·dim·M² < 2⁵³, i.e.
    M < √(2⁵³ / (4·dim)). At dim=64 that is 5 931 641 (NOT 10⁷: a
    review round caught the looser bound admitting a measured error
    of 3 ulp-integers near the corner — the a²+b²−2ab pieces each fit
    but their combination doesn't). The fixture's millionths-scaled
    unit vectors sit at 10⁶, ~6× inside; the kernel RAISES past the
    bound rather than silently rounding."""
    return int(((1 << 53) / (4 * dim)) ** 0.5)


#: dim=64 instance of the bound (the fixture dimensionality) — kept as
#: a named constant for tests and docs; the kernel derives its own
#: bound from each batch's actual dim.
KMEANS_UDF_ABS_MAX = _kmeans_exact_bound(64)


def _kmeans_argmin_kernel(cids: "np.ndarray", cents: "np.ndarray"):
    """mapInPandas kernel: exact-integer argmin assignment against a
    closure-captured (k, dim) centroid matrix (bounded: k ≤ 256 ×
    64 longs ≈ 131 KB pickled per task).

    Arithmetic contract (what the v09/v10 DuckDB oracles pin): squared
    L2 over BIGINT-millionth components, ties broken by smallest cid.
    ``cids`` is sorted ascending, so np.argmin's first-minimum rule IS
    the (dist, cid) lexicographic tie-break. Every value up to the
    final dist stays under 2⁵³ (see ``_kmeans_exact_bound``), so the
    float64 BLAS matmul is bit-exact integer arithmetic — verified
    against a python-int reference in pytest."""
    c2 = (cents.astype(np.float64) ** 2).sum(axis=1)
    cf = cents.astype(np.float64)
    cbound = _kmeans_exact_bound(cents.shape[1]) if cents.size else 0
    if cents.size and abs(cents).max() >= cbound:
        raise ValueError(
            "kmeans centroid component exceeds the exact-float64 "
            f"bound {cbound} at dim={cents.shape[1]}; rescale "
            "KMEANS_SCALE"
        )

    def kernel(batches: "Iterable") -> "Iterator":
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            x = np.array([np.asarray(v, np.int64) for v in pdf["xi"]])
            bound = _kmeans_exact_bound(x.shape[1])
            if abs(x).max() >= bound:
                raise ValueError(
                    "kmeans component exceeds the exact-float64 bound "
                    f"{bound} at dim={x.shape[1]}; rescale KMEANS_SCALE"
                )
            xf = x.astype(np.float64)
            dist = (xf**2).sum(axis=1)[:, None] + c2[None, :] - 2.0 * (
                xf @ cf.T
            )
            j = np.argmin(dist, axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "xi": pdf["xi"],
                    "cid": cids[j],
                    "dist": dist[np.arange(len(j)), j].astype(np.int64),
                }
            )

    return kernel


def _kmeans_assign(
    spark: SparkSession,
    sf_dir: str,
    k: int = KMEANS_K,
    iters: int = KMEANS_ITERS,
) -> tuple[DataFrame, DataFrame]:
    """The v09 Lloyd loop's final state: the ASSIGNMENT relation
    (vec_id, xi, cid, dist) and the (cid, ci) CENTROID relation it
    ranked against — factored out so v10's disk-backed IVF index
    consumes the identical exact-integer arithmetic (same centroids,
    same (dist, cid) tie-break) that v09's driver hash and DuckDB
    oracle pin.

    Scale shape (r9 — the change the 100× policy probe forced,
    SCALING.md "IVF policy at 100×"): assignment is a SHUFFLE-FREE map
    stage — the k-row centroid state is collected (bounded: k ≤
    IVF_K_MAX rows of 64 longs, the same driver-artifact class as
    v10's sidecar) and closure-shipped into a vectorized Arrow kernel
    (`_kmeans_argmin_kernel`, exact integer arithmetic in disguise —
    see its contract note). The r8 shape (crossJoin(broadcast) →
    window row_number) shuffled N·k rows each carrying the 64-long
    vector — ~28 GB/iteration at 200 k vectors × k=256 — and made
    index build superlinear once the √N policy raised k; measured
    build 277 s → 8.8 s at the 100× corpus. The collect is ALSO the
    per-iteration lineage cut (DEPLOY.md row 13): the next iteration's
    plan starts from literals, so no persist bookkeeping is needed.
    At 100 TB this is MLlib's own k-means topology: centers broadcast
    per iteration, one scan per assignment, k·dim-key partial agg per
    update."""
    emb = _emb(spark, sf_dir)
    vec = emb.select("vec_id", _kmeans_xi().alias("xi"))
    cent = vec.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cid"), F.col("xi").alias("ci")
    )
    assign = None
    schema = "vec_id long, xi array<long>, cid long, dist long"
    cent_rows: list = []
    for it in range(iters):
        cent_rows = sorted(
            (int(r["cid"]), [int(v) for v in r["ci"]])
            for r in cent.collect()
        )
        cids = np.array([c for c, _ in cent_rows], np.int64)
        cmat = np.array([v for _, v in cent_rows], np.int64)
        assign = vec.mapInPandas(
            _kmeans_argmin_kernel(cids, cmat), schema=schema
        )
        if it < iters - 1:
            cent = (
                assign.select(
                    "cid", F.posexplode("xi").alias("j", "val")
                )
                .groupBy("cid", "j")
                .agg(F.expr("sum(val) div count(1)").alias("cval"))
                .groupBy("cid")
                .agg(
                    F.array_sort(
                        F.collect_list(F.struct("j", "cval"))
                    ).alias("pairs")
                )
                .select(
                    "cid",
                    F.transform("pairs", lambda p: p["cval"]).alias(
                        "ci"
                    ),
                )
            )
    # the centroid relation handed back (v10 collects it for the
    # sidecar) is rebuilt as a LocalRelation from the already-collected
    # rows — zero recompute, no lineage into the loop above
    cent_local = spark.createDataFrame(
        [(c, v) for c, v in cent_rows],
        schema="cid long, ci array<long>",
    )
    return assign, cent_local


#: v10 explicit probe-width override unit (the r7 skew/K-scaling probes
#: in SCALING.md were measured at a fixed n_probe=2). Since r8 the
#: DEFAULT probe width is policy-derived — see ``_ivf_policy``.
IVF_N_PROBE = 2

#: v10 index-build policy bounds (r8): hand-picked per-call knobs became
#: corpus-derived defaults, with explicit overrides kept for probes.
#: k ≈ √N is the standard IVF heuristic (clamped so tiny corpora still
#: get a few partitions and huge ones don't explode the centroid
#: sidecar); probe width keeps the measured ~¼-of-directories read
#: fraction (max(2, ceil(k/4)) reproduces the oracle-pinned 2-of-8 at
#: the old K=8); the salt target sizes sub-partitions to a parquet-file
#: byte SLO using the corpus's own measured bytes/row, so a hot cluster
#: becomes many SLO-sized files at any corpus scale.
IVF_K_MIN, IVF_K_MAX = 4, 256
IVF_FILE_SLO_BYTES = 64 * 1024 * 1024
IVF_SALT_MIN_ROWS = 4096
#: Fixed logical row-width model for the salt target (ADVICE r8): the
#: r8 policy measured on-disk bytes of embeddings.parquet, which made
#: the index layout (salt sub-partition count, hence file counts and
#:  bench timings) vary with parquet codec/version/filesystem, and the
#: OSError fallback silently diverged further. Instead model the row as
#: 4 bytes per embedding element (float32 storage width) plus a fixed
#: per-row overhead for id/label/encoding — a pure function of (N, dim)
#: that every environment derives identically. At 100 TB dim comes from
#: the catalog schema the same way it comes from one LIMIT-1 row here.
IVF_ROW_OVERHEAD_BYTES = 64


def _probe_width(k_clusters: int) -> int:
    """Probe-width policy: ~¼ of the index directories, never fewer
    than 2 (equals the r7 oracle-pinned 2-of-8 at k=8). The ONE Python
    home of the formula — the v10 DuckDB oracle's ``pol2`` CTE mirrors
    it in SQL."""
    return max(2, -(-k_clusters // 4))


def _ivf_policy(spark: SparkSession, sf_dir: str) -> tuple[int, int, int]:
    """Derive (k_clusters, n_probe, salt_target) from the corpus.

    Mirrored bit-for-bit by the v10 DuckDB oracle's ``pol`` CTE —
    floor(sqrt(N)+0.5) is used on both sides because it has no
    banker's-rounding ambiguity. At 100 TB the count and byte figures
    come from parquet footers/table stats, not a data scan. A
    :func:`memo` entry, so repeated probes don't recount, and a corpus
    regenerated in-place mid-session is re-derived once the entry ages
    out.
    """
    import math

    def build() -> tuple[int, int, int]:
        n = _emb(spark, sf_dir).count()
        k = max(
            IVF_K_MIN,
            min(IVF_K_MAX, int(math.floor(math.sqrt(n) + 0.5))),
        )
        # reproducible row-width model (see IVF_ROW_OVERHEAD_BYTES):
        # 4 B per embedding element + fixed overhead, dim read from one
        # LIMIT-1 row (catalog schema at 100 TB) — NOT on-disk bytes,
        # which vary with parquet codec/version/filesystem
        first = (
            _emb(spark, sf_dir).select(F.size("embedding").alias("d")).first()
        )
        dim = int(first["d"]) if first is not None else 0
        row_bytes = 4 * dim + IVF_ROW_OVERHEAD_BYTES
        salt_target = int(
            max(IVF_SALT_MIN_ROWS, IVF_FILE_SLO_BYTES // row_bytes)
        )
        return k, _probe_width(k), salt_target

    return memo(spark, "ivf_policy", sf_dir, build=build)


def _ivf_parquet_index(
    spark: SparkSession,
    sf_dir: str,
    k_clusters: int | None = None,
    salt_target: int | None = None,
) -> tuple[str, list]:
    """Defaults are POLICY (r8): ``k_clusters=None`` derives ≈√N and
    ``salt_target=None`` derives the file-SLO row target from the
    corpus itself (``_ivf_policy``); pass explicit values only for
    probes/studies. The salted layout writes clusters larger than the
    target as ``cluster_id=c/salt=s`` sub-directories (salt buckets =
    ceil(members/target), salt = xxhash64(vec_id) mod buckets — k01's
    hot-key salting applied to physical layout). Probe semantics,
    membership and recall are unchanged (the probe joins on
    cluster_id; salt is physical only), and under the r9 clustered
    write salt does DOUBLE duty: it bounds per-leaf file size AND
    restores intra-cluster scan parallelism that one-file-per-
    directory would serialize (measured hot-probe 25.8→15.8 s on the
    skew corpus — SCALING.md). A hot cluster holding 1/3 of a 100 TB
    corpus becomes many target-sized, parallel-scannable files
    instead of one elephant partition — the
    measured emb-skew fixture puts 66k of 200k vectors in ONE cluster
    that even k_clusters=64 Lloyd cannot split (a point mass tighter
    than any inter-centroid gap stays whole), so layout salting, not
    K-scaling, is the governing mitigation."""
    if k_clusters is None:
        k_clusters = _ivf_policy(spark, sf_dir)[0]
    if salt_target is None:
        salt_target = _ivf_policy(spark, sf_dir)[2]
    return memo(
        spark,
        "ivf_parquet",
        sf_dir,
        k_clusters,
        salt_target,
        build=lambda: _build_ivf_parquet_index(
            spark, sf_dir, k_clusters, salt_target
        ),
    )


def _build_ivf_parquet_index(
    spark: SparkSession, sf_dir: str, k_clusters: int, salt_target: int
) -> tuple[str, list]:
    """(index dir, centroid rows) — b01's build-once pattern for the
    DISK index: the parquet tree is the artifact (reaped with the
    export dir at exit, not on release), the k×64 centroid ints are the
    bounded driver-side sidecar (the PQ-codebook class), so reuse
    carries no lineage."""
    from aw3d30_parquet_spark.sources.files import _export_dir

    assign, cent = _kmeans_assign(spark, sf_dir, k=k_clusters)
    tag = "" if k_clusters == KMEANS_K else f"_k{k_clusters}"
    if salt_target:
        tag += f"_s{salt_target}"
    out = os.path.join(
        _export_dir(spark, sf_dir), f"v10_emb_by_cluster{tag}"
    )
    rel = _emb(spark, sf_dir).join(
        assign.select("vec_id", F.col("cid").alias("cluster_id")), "vec_id"
    ).select("vec_id", "embedding", "cluster_id")
    parts = ["cluster_id"]
    if salt_target:
        buckets = assign.groupBy(F.col("cid").alias("cluster_id")).agg(
            F.ceil(F.count("*") / salt_target).cast("int").alias("nb")
        )
        rel = (
            rel.join(F.broadcast(buckets), "cluster_id")
            .withColumn(
                "salt",
                F.pmod(F.xxhash64("vec_id"), F.col("nb")).cast("int"),
            )
            .drop("nb")
        )
        parts.append("salt")
    # one shuffle keyed on the partition columns before the write:
    # without it every one of the ~cores input tasks writes its own
    # sliver into every cluster directory — the 100× policy probe
    # measured 8190 files at median 3.5 KB for k=256 (file-open
    # overhead then dominated the probe path). Clustering rows by
    # (cluster_id[, salt]) yields ONE ~salt-target-sized file per leaf
    # directory — the 64 MB SLO the salt policy exists to enforce.
    rel = rel.repartition(*[F.col(p) for p in parts])
    rel.write.mode("overwrite").partitionBy(*parts).parquet(out)
    # centroid sidecar: k rows of 64 BIGINTs, collected once — the
    # bounded driver artifact every probe broadcasts (at 100 TB: a
    # parquet sidecar next to the cluster-partitioned index table)
    cents = [
        (int(r["cid"]), [int(x) for x in r["ci"]])
        for r in cent.collect()
    ]
    return out, cents


def ann_topk_ivf_parquet(
    spark: SparkSession,
    sf_dir: str,
    k: int = DEFAULT_K,
    n_queries: int = DEFAULT_N_QUERIES,
    n_probe: int | None = None,
    k_clusters: int | None = None,
    query_lo: int = 0,
    salt_target: int | None = None,
) -> DataFrame:
    """v10: top-k cosine ANN over a DISK-BACKED IVF index — the 100 TB
    deployment shape v05's docstring promises, materialized: the
    corpus lives as a cluster-id-PARTITIONED parquet table (built once
    per session — in production, by an indexing job), each query ranks
    the k-row centroid sidecar by exact integer L2, and the probe scan
    reads ONLY the ``n_probe`` matching partition directories —
    Catalyst injects the broadcast probe relation as a dynamic-
    partition-pruning subquery into the scan's PartitionFilters (b02's
    machinery pointed at ANN), so ~3/4 of the index bytes are never
    read (the policy keeps n_probe ≈ k/4 at any derived K).

    Unlike v05 (MLlib k-means — seed-stable but engine-specific RNG,
    rows-only forever), the index here is v09's exact-integer Lloyd
    clustering, so index membership, probe choice, and the reranked
    top-k are all reproducible bit-for-bit by the DuckDB oracle: the
    FULL disk-index pipeline is hash-checked. Ranking compares the
    ROUNDED cosine with id tie-break (v02's determinism contract);
    recall vs the exact v02 additionally floor-pinned in pytest.
    """
    if k_clusters is None:
        k_clusters = _ivf_policy(spark, sf_dir)[0]
    if n_probe is None:
        n_probe = _probe_width(k_clusters)
    path, cents = _ivf_parquet_index(spark, sf_dir, k_clusters, salt_target)
    emb = _emb(spark, sf_dir)
    # query_lo/k_clusters/n_probe/salt_target are probe knobs (the
    # skew / K-scaling / salted-layout study in SCALING.md): the
    # defaults are the corpus-derived policy the oracle mirrors
    queries = emb.filter(
        (F.col("vec_id") >= query_lo)
        & (F.col("vec_id") < query_lo + n_queries)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        _kmeans_xi().alias("xi"),
    )
    cent = spark.createDataFrame(
        cents, "cid int, ci array<long>"
    )
    wq = Window.partitionBy("query_id").orderBy("dist", "cid")
    probe = (
        queries.crossJoin(F.broadcast(cent))
        .withColumn("dist", _kmeans_dist("xi", "ci"))
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= n_probe)
        .select("query_id", "q_emb", F.col("cid").alias("cluster_id"))
    )
    fact = spark.read.parquet(path)
    cand = fact.join(F.broadcast(probe), "cluster_id").filter(
        F.col("vec_id") != F.col("query_id")
    )
    cos4 = round_half_up(cosine(F.col("q_emb"), F.col("embedding")), 4)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        cand.select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cos4.alias("cos"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cos")
        .orderBy("query_id", "rank")
    )


QUERIES = {
    "v01_embedding_dims": embedding_dims,
    "v02_ann_topk_bruteforce": ann_topk_bruteforce,
    "v03_ann_topk_lsh": ann_topk_lsh,
    "v04_embedding_neardup": embedding_neardup_pairs,
    "v05_ann_topk_ivf": ann_topk_ivf,
    "v06_ann_topk_pq": ann_topk_pq,
    "v07_semantic_dedup": semantic_dedup,
    "v08_cosine_range_search": cosine_range_search,
    "v09_kmeans_fixed": kmeans_fixed,
    "v10_ann_ivf_parquet": ann_topk_ivf_parquet,
}

# No-DuckDB-oracle by design: v05/v06 are approximate indexes (IVF
# probe via MLlib k-means / PQ codebook via sampled numpy train) whose
# index content is engine-specific RNG — output is recall-graded, not
# exact; tests/test_vectors.py V5-V6 hold the recall floors. (v03/v04
# were promoted to full hash oracles in r6: md5-derived integer
# hyperplanes + quantized-integer dot products made the signatures
# engine-independent.) Consumed by __spark_entry__.rows_only().
ROWS_ONLY = frozenset(
    {
        "v05_ann_topk_ivf",
        "v06_ann_topk_pq",
    }
)

#: shared signature CTE tail for the v03/v04 oracles — (vec_id, bit,
#: bit_on), the same quantized-integer dot-product sign arithmetic as
#: :func:`_simhash_signature`, recomputed natively by DuckDB (every
#: dot is exact integer arithmetic in float64, so summation order is
#: irrelevant and the engines agree bit-for-bit).
_SIG_SQL = f"""sigq AS (
  SELECT vec_id,
         list_transform(embedding,
           e -> floor(CAST(e AS DOUBLE) * {SIG_QUANT} + 0.5)) AS qv
  FROM embeddings
), planes AS (
  SELECT b AS bit,
         list_transform(range(0, 64),
           d -> CAST(('0x' || substr(md5(d::VARCHAR || ':' || b::VARCHAR),
                      1, 15))::BIGINT % {SIG_PLANE_MOD}
                - {SIG_PLANE_MOD // 2} AS DOUBLE)) AS pv
  FROM (SELECT unnest(range(0, 256)) AS b)
), sig AS (
  SELECT q.vec_id, p.bit, list_dot_product(q.qv, p.pv) > 0 AS bit_on
  FROM sigq q CROSS JOIN planes p
)"""

ORACLE_SQL = {
    "v01_embedding_dims": """
SELECT count(*) AS cnt, min(len(embedding)) AS min_dim,
       max(len(embedding)) AS max_dim, count(DISTINCT label) AS n_labels
FROM embeddings
""",
    # v02: rank order is defined on the ROUNDED cosine (4 decimals,
    # id tiebreak) — the determinism contract that lets the exact
    # brute-force top-k be oracle-checked (same float64 list math as
    # the green u03); additionally verified in pytest against a numpy
    # brute-force oracle (V2).
    "v02_ann_topk_bruteforce": """
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
), q AS (
  SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < 20
), scored AS (
  SELECT q.query_id, v.vec_id AS neighbor_id,
         CAST(floor(list_dot_product(v.e, q.qe)
               / (sqrt(list_dot_product(v.e, v.e))
                  * sqrt(list_dot_product(q.qe, q.qe)))
               * 10000 + 0.5) AS BIGINT) / 10000.0 AS cos
  FROM q JOIN v ON v.vec_id <> q.query_id
), ranked AS (
  SELECT query_id, neighbor_id, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, rank, neighbor_id, cos
FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
""",
    # v03: full sketch-filter twin — recompute the 256-bit signature
    # (shared _SIG_SQL), rank candidates per query by exact Hamming
    # distance (id tiebreak), rerank the top-100 by exact cosine with
    # the shared floor-half-up rounding. Hash-checks the WHOLE
    # approximate pipeline: sketch, candidate cut, rerank, top-k.
    "v03_ann_topk_lsh": f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
), {_SIG_SQL},
ham AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         sum(CASE WHEN a.bit_on <> b.bit_on THEN 1 ELSE 0 END) AS ham
  FROM sig a JOIN sig b ON a.bit = b.bit AND a.vec_id <> b.vec_id
  WHERE a.vec_id < {DEFAULT_N_QUERIES}
  GROUP BY 1, 2
), cand AS (
  SELECT query_id, neighbor_id
  FROM (SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY ham, neighbor_id) AS r
        FROM ham)
  WHERE r <= 100
), scored AS (
  SELECT c.query_id, c.neighbor_id,
         CAST(floor(list_dot_product(vq.e, vn.e)
               / (sqrt(list_dot_product(vq.e, vq.e))
                  * sqrt(list_dot_product(vn.e, vn.e)))
               * 10000 + 0.5) AS BIGINT) / 10000.0 AS cos
  FROM cand c
  JOIN v vn ON vn.vec_id = c.neighbor_id
  JOIN v vq ON vq.vec_id = c.query_id
), ranked AS (
  SELECT query_id, neighbor_id, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, rank, neighbor_id, cos
FROM ranked WHERE rank <= {DEFAULT_K} ORDER BY query_id, rank
""",
    # v04: banded-LSH twin — same signature CTE, bands packed exactly
    # like the engine's shiftright/mask arithmetic (band j = bits
    # 32j..32j+31, little-endian), candidate equi-join on collisions,
    # exact-cosine verify at the raw-double threshold (sequential
    # float64 fold on both sides — the v02-proven pattern).
    "v04_embedding_neardup": f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
), {_SIG_SQL},
band AS (
  SELECT vec_id, bit // 32 AS band_id,
         sum(CASE WHEN bit_on THEN 1::BIGINT << (bit % 32)
                  ELSE 0 END) AS band_val
  FROM sig GROUP BY 1, 2
), cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM band a
  JOIN band b ON a.band_id = b.band_id AND a.band_val = b.band_val
            AND a.vec_id < b.vec_id
)
SELECT c.id_a, c.id_b
FROM cand c
JOIN v va ON va.vec_id = c.id_a
JOIN v vb ON vb.vec_id = c.id_b
WHERE list_dot_product(va.e, vb.e)
      / (sqrt(list_dot_product(va.e, va.e))
         * sqrt(list_dot_product(vb.e, vb.e))) >= 0.999
ORDER BY id_a, id_b
""",
    # v07: the axis-sign clustering + rounded-cosine keeper choice are
    # both exact arithmetic — the full SemDeDup drop set is
    # hash-checked (same float64 list math as the green v02/u03).
    "v07_semantic_dedup": f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
), bb AS (
  -- corpus-size-adaptive cluster bits: the same
  -- clamp(ceil(log2(n/target))) as semdedup_bits(); exact powers of
  -- two hit exact log2 in both engines
  SELECT greatest({SEMDEDUP_SIGN_BITS}, least({SEMDEDUP_MAX_BITS},
         CAST(ceil(log2(count(*) / {SEMDEDUP_TARGET_CLUSTER}.0)) AS INT)))
         AS bits
  FROM embeddings
), b AS (
  -- MSB-first fold over the first `bits` sign bits — identical to the
  -- Spark side's Σ (e[i]>0)·2^(bits-1-i)
  SELECT vec_id, e,
         list_reduce(
           list_transform(range(1, bb.bits + 1),
                          j -> CAST(e[j] > 0 AS BIGINT)),
           (acc, x) -> acc * 2 + x) AS cluster_id
  FROM v CROSS JOIN bb
), pairs AS (
  SELECT a.cluster_id, a.vec_id AS keeper_id, b.vec_id AS dropped_id,
         CAST(floor(list_dot_product(a.e, b.e)
               / (sqrt(list_dot_product(a.e, a.e))
                  * sqrt(list_dot_product(b.e, b.e)))
               * 10000 + 0.5) AS BIGINT) / 10000.0 AS cos
  FROM b a JOIN b b ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
), hits AS (
  SELECT cluster_id, dropped_id, keeper_id, cos,
         row_number() OVER (PARTITION BY dropped_id
                            ORDER BY cos DESC, keeper_id) AS r
  FROM pairs WHERE cos >= {SEMDEDUP_TAU}
)
SELECT cluster_id, dropped_id, keeper_id, cos
FROM hits WHERE r = 1 ORDER BY dropped_id
""",
    # v08: same float64 list math as v02; the threshold gates the
    # ROUNDED cosine on both sides, and n_hits pins result-set sizes.
    "v08_cosine_range_search": f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
), q AS (
  SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < 20
), scored AS (
  SELECT q.query_id, v.vec_id AS neighbor_id,
         CAST(floor(list_dot_product(v.e, q.qe)
               / (sqrt(list_dot_product(v.e, v.e))
                  * sqrt(list_dot_product(q.qe, q.qe)))
               * 10000 + 0.5) AS BIGINT) / 10000.0 AS cos
  FROM q JOIN v ON v.vec_id <> q.query_id
), hits AS (
  SELECT query_id, neighbor_id, cos FROM scored
  WHERE cos >= {RANGE_SEARCH_TAU}
)
SELECT query_id,
       count(*) OVER (PARTITION BY query_id) AS n_hits,
       neighbor_id, cos
FROM hits ORDER BY query_id, neighbor_id
""",
}

# v09: the same unrolled exact-integer Lloyd steps in DuckDB — scaled
# BIGINT components, integer distances, floor-mean update ( // ≙ div,
# both truncate toward zero), (dist, cid) assignment tie-break.
_KM_ASSIGN = """
, d{i} AS (
  SELECT v.vec_id, v.xi, c.cid,
         list_sum(list_transform(range(1, {dim1}),
                  j -> (v.xi[j] - c.ci[j]) * (v.xi[j] - c.ci[j]))) AS dist
  FROM v CROSS JOIN c{prev} c
), a{i} AS (
  SELECT vec_id, xi, cid, dist FROM (
    SELECT *, row_number() OVER (
      PARTITION BY vec_id ORDER BY dist, cid) AS rn
    FROM d{i}
  ) WHERE rn = 1
)"""

_KM_UPDATE = """
, cl{i} AS (
  SELECT a{i}.cid, t.j,
         CAST(sum(a{i}.xi[t.j]) // count(*) AS BIGINT) AS cval
  FROM a{i} CROSS JOIN (SELECT unnest(range(1, {dim1})) AS j) t
  GROUP BY a{i}.cid, t.j
), c{i} AS (
  SELECT cid, list(cval ORDER BY j) AS ci FROM cl{i} GROUP BY cid
)"""

ORACLE_SQL["v09_kmeans_fixed"] = (
    f"""
WITH v AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * {KMEANS_SCALE} + 0.5)
                AS BIGINT)) AS xi
  FROM embeddings
), c0 AS (
  SELECT vec_id AS cid, xi AS ci FROM v WHERE vec_id < {KMEANS_K}
)"""
    + "".join(
        _KM_ASSIGN.format(i=i, prev=i - 1, dim1=EMB_DIM + 1)
        + (
            _KM_UPDATE.format(i=i, dim1=EMB_DIM + 1)
            if i < KMEANS_ITERS
            else ""
        )
        for i in range(1, KMEANS_ITERS + 1)
    )
    + f"""
SELECT cid AS cluster_id, count(*) AS n_members,
       CAST(sum(dist) AS BIGINT) AS inertia
FROM a{KMEANS_ITERS} GROUP BY cid ORDER BY cid
"""
)

# v10: the same unrolled Lloyd CTEs give DuckDB the index — a2 is the
# cluster MEMBERSHIP relation the parquet tree is partitioned by, and
# c1 is the centroid sidecar each query ranks (integer L2, (dist, cid)
# tie-break) to pick its n_probe partitions; candidates are the probed
# clusters' members, reranked by exact cosine with the shared
# floor-half-up rounding. Hash match ⇒ the DISK index pipeline (build
# partitioning, probe choice, pruned rerank) agrees bit-for-bit.
# The ``pol`` CTE derives k = clamp(√N) and n_probe = max(2, ⌈k/4⌉)
# from the corpus count — the SAME policy ``_ivf_policy`` applies on
# the Spark side — so the oracle stays valid at any scale factor.
ORACLE_SQL["v10_ann_ivf_parquet"] = (
    f"""
WITH v AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * {KMEANS_SCALE} + 0.5)
                AS BIGINT)) AS xi
  FROM embeddings
), pol AS (
  SELECT greatest({IVF_K_MIN}, least({IVF_K_MAX},
           CAST(floor(sqrt(count(*)) + 0.5) AS INT))) AS k
  FROM embeddings
), pol2 AS (
  SELECT k, greatest(2, CAST(ceil(k / 4.0) AS INT)) AS np FROM pol
), c0 AS (
  SELECT vec_id AS cid, xi AS ci FROM v
  WHERE vec_id < (SELECT k FROM pol2)
)"""
    + "".join(
        _KM_ASSIGN.format(i=i, prev=i - 1, dim1=EMB_DIM + 1)
        + (
            _KM_UPDATE.format(i=i, dim1=EMB_DIM + 1)
            if i < KMEANS_ITERS
            else ""
        )
        for i in range(1, KMEANS_ITERS + 1)
    )
    + f"""
, probe AS (
  SELECT query_id, cid FROM (
    SELECT q.vec_id AS query_id, c.cid,
           list_sum(list_transform(range(1, {EMB_DIM + 1}),
                    j -> (q.xi[j] - c.ci[j]) * (q.xi[j] - c.ci[j])))
             AS dist,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY list_sum(list_transform(range(1, {EMB_DIM + 1}),
                      j -> (q.xi[j] - c.ci[j]) * (q.xi[j] - c.ci[j]))),
                      c.cid) AS rn
    FROM v q CROSS JOIN c{KMEANS_ITERS - 1} c
    WHERE q.vec_id < {DEFAULT_N_QUERIES}
  ) WHERE rn <= (SELECT np FROM pol2)
), cand AS (
  SELECT p.query_id, m.vec_id AS neighbor_id
  FROM probe p
  JOIN a{KMEANS_ITERS} m ON m.cid = p.cid AND m.vec_id <> p.query_id
), scored AS (
  SELECT c.query_id, c.neighbor_id,
         CAST(floor(list_dot_product(vq.e, vn.e)
               / (sqrt(list_dot_product(vq.e, vq.e))
                  * sqrt(list_dot_product(vn.e, vn.e)))
               * 10000 + 0.5) AS BIGINT) / 10000.0 AS cos
  FROM cand c
  JOIN v vq ON vq.vec_id = c.query_id
  JOIN v vn ON vn.vec_id = c.neighbor_id
), ranked AS (
  SELECT query_id, neighbor_id, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, rank, neighbor_id, cos
FROM ranked WHERE rank <= {DEFAULT_K} ORDER BY query_id, rank
"""
)
