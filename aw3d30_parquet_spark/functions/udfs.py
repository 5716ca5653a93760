"""The Arrow-vectorized UDF surface (SURVEY §2.2 "UDF / UDAF / UDTF").

Three kernel shapes beyond ``mapInPandas`` (which powers the media
decoders; the GeoTIFF kernels use ``mapInArrow``):

- **scalar pandas_udf** — whole-column Arrow batches; here: cosine
  similarity against a fixed query vector (u03). Verified in pytest
  against the built-in higher-order-function cosine — same math, two
  execution paths.
- **GROUPED_AGG pandas_udf** — per-group scalar over an Arrow column;
  here: exact interpolated median (u01), which both pandas and DuckDB
  define identically → full DuckDB oracle.
- **applyInPandas (grouped map)** — arbitrary per-group pandas logic;
  here: per-label embedding centroid + dispersion (u02), verified both
  against a numpy recomputation in pytest and an independent
  unnest-based SQL derivation on DuckDB.

Row-at-a-time ``udf()`` is deliberately absent from every hot path
(SURVEY §2.2: serialization cost); these Arrow forms are the sanctioned
escape hatch when built-ins can't express the semantics.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from aw3d30_parquet_spark.numeric import round_half_up
from aw3d30_parquet_spark.session import register_views, spread


def u01_grouped_agg_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED_AGG pandas UDF: exact per-type median of event values.

    (The decorator runs inside the function: ``pandas_udf`` parses its
    return-type DDL against the active session, so module import must
    stay session-free.)
    """
    register_views(spark, sf_dir)

    @F.pandas_udf("double")
    def median_udaf(v: pd.Series) -> float:
        # pandas interpolated median == DuckDB median() for even counts
        return float(v.median())

    # floor-half-up, NOT F.round: an even-count median of 2-decimal
    # values lands exactly on x.xx5 midpoints, the boundary where
    # Spark's decimal-repr HALF_UP and DuckDB's double round() split
    return (
        spark.table("events")
        .groupBy("event_type")
        .agg(round_half_up(median_udaf("value"), 2).alias("med"))
        .orderBy("event_type")
    )


_CENTROID_SCHEMA = StructType(
    [
        StructField("label", IntegerType(), False),
        StructField("n", LongType(), False),
        StructField("centroid_norm", DoubleType(), False),
        StructField("mean_dist", DoubleType(), False),
    ]
)


def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandas grouped map: per-label embedding centroid norm and
    mean member distance to the centroid (cluster dispersion).

    Shuffles by label once; each group is one pandas frame — the
    canonical shape for per-group numpy math that SQL can't express.
    """
    import numpy as np

    register_views(spark, sf_dir)

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        c = m.mean(axis=0)
        d = np.sqrt(((m - c) ** 2).sum(axis=1))
        return pd.DataFrame(
            {
                "label": [int(pdf["label"].iloc[0])],
                "n": [len(pdf)],
                "centroid_norm": [float(np.sqrt((c * c).sum()))],
                "mean_dist": [float(d.mean())],
            }
        )

    emb = spread(spark.table("embeddings"))
    return (
        emb.groupBy("label").applyInPandas(kernel, schema=_CENTROID_SCHEMA)
        .orderBy("label")
    )


def u02_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    return label_centroids(spark, sf_dir).select(
        "label", "n",
        round_half_up(F.col("centroid_norm"), 4).alias("centroid_norm"),
        round_half_up(F.col("mean_dist"), 4).alias("mean_dist"),
    )


def scalar_cosine_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar pandas UDF: cosine of every embedding vs the vec_id=0
    query — the Arrow-vectorized twin of ``vectors.cosine`` (pytest
    asserts the two paths agree to 1e-9)."""
    import numpy as np

    register_views(spark, sf_dir)
    emb = spread(spark.table("embeddings"))
    q = np.array(
        emb.filter(F.col("vec_id") == 0).select("embedding").head()[0],
        dtype=np.float64,
    )  # one tiny driver fetch of the query vector itself — metadata-scale
    qn = float(np.sqrt((q * q).sum()))

    @F.pandas_udf("double")
    def cos(col: pd.Series) -> pd.Series:
        m = np.stack(col.to_numpy()).astype(np.float64)
        return pd.Series((m @ q) / (np.sqrt((m * m).sum(axis=1)) * qn))

    # r12: sort FIRST, evaluate the UDF above the range exchange. With
    # the UDF below the orderBy, the range partitioner's boundary-
    # sampling pass re-executed the whole child subtree — the pandas
    # UDF ran TWICE per invocation (profile_jobs: two ~equal stages
    # reading the same shuffle). The sort key is vec_id, which never
    # depends on the UDF, so ordering and rows are identical.
    return (
        emb.filter(F.col("vec_id") != 0)
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .select("vec_id", round_half_up(cos("embedding"), 4).alias("cos"))
    )


def u04_iter_word_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCALAR_ITER pandas UDF (``Iterator[pd.Series] → Iterator[pd.
    Series]``) — the vectorized-UDF flavor for expensive one-time
    per-worker state: the kernel compiles its regex ONCE per executor
    task iterator (stand-in for loading a tokenizer/model), then
    streams Arrow batches through it. Counts lowercase-word matches per
    doc; aggregated per lang as exact integers so DuckDB's
    regexp_extract_all reproduces it bit-for-bit."""
    register_views(spark, sf_dir)

    # the module's `from __future__ import annotations` stringifies
    # inline hints (pandas_udf inference rejects them — see
    # vectors._simhash_signature); real annotation OBJECTS assigned
    # post-hoc give the inference the Iterator→Iterator signature
    def _kernel(batches):
        import re

        pat = re.compile(r"[a-z]+")  # init-once state, reused per batch
        for s in batches:
            # Series.str.count runs the non-overlapping match count in
            # C — no per-row Python lambda inside the Arrow batch
            yield s.str.count(pat).astype("int32")

    from typing import Iterator

    _kernel.__annotations__ = {
        "batches": Iterator[pd.Series],
        "return": Iterator[pd.Series],
    }
    n_words = F.pandas_udf("int")(_kernel)

    docs = spread(spark.table("documents"))
    return (
        docs.select("lang", n_words("text").alias("nw"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("nw").alias("total_matches"),
            F.max("nw").alias("max_matches"),
        )
        .orderBy("lang")
    )


QUERIES = {
    "u01_grouped_agg_median": u01_grouped_agg_median,
    "u02_label_centroids": u02_label_centroids,
    "u03_scalar_cosine": scalar_cosine_scores,
    "u04_iter_word_matches": u04_iter_word_matches,
}

ORACLE_SQL = {
    "u01_grouped_agg_median": """
SELECT event_type,
       CAST(floor(median(value) * 100 + 0.5) AS BIGINT) / 100.0 AS med
FROM events GROUP BY event_type ORDER BY event_type
""",
    # u02: independent SQL derivation of the same centroid math —
    # zipped unnest → per-(label, dim) avg → norm / per-row distance.
    # numpy's pairwise summation vs DuckDB's sequential avg differ at
    # ~1e-15 relative; round(·, 4) absorbs that (also verified against
    # a straight numpy recomputation in pytest).
    "u02_label_centroids": """
WITH dims AS (
  SELECT label, vec_id,
         CAST(unnest(embedding) AS DOUBLE) AS x,
         unnest(range(len(embedding))) AS dim
  FROM embeddings
), cent AS (
  SELECT label, dim, avg(x) AS c FROM dims GROUP BY label, dim
), dist AS (
  SELECT d.label, d.vec_id, sqrt(sum((d.x - c.c) * (d.x - c.c))) AS dist
  FROM dims d JOIN cent c ON d.label = c.label AND d.dim = c.dim
  GROUP BY d.label, d.vec_id
)
SELECT c.label, n.n,
       CAST(floor(c.cn * 10000 + 0.5) AS BIGINT) / 10000.0 AS centroid_norm,
       CAST(floor(r.md * 10000 + 0.5) AS BIGINT) / 10000.0 AS mean_dist
FROM (SELECT label, sqrt(sum(c * c)) AS cn FROM cent GROUP BY label) c
JOIN (SELECT label, count(*) AS n FROM embeddings GROUP BY label) n USING (label)
JOIN (SELECT label, avg(dist) AS md FROM dist GROUP BY label) r USING (label)
ORDER BY c.label
""",
    # u03: same cosine in DuckDB list arithmetic (float64 lists; the
    # u02 note on numpy-vs-sequential summation ulps applies). Rounded
    # via the shared floor-half-up contract (numeric.round_half_up) —
    # Spark round() and DuckDB round() can disagree at 10^-4 half
    # boundaries, floor(x·10⁴+0.5) is identical IEEE math on both.
    "u03_scalar_cosine": """
WITH q AS (
  SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe
  FROM embeddings WHERE vec_id = 0
)
SELECT e.vec_id,
       CAST(floor(
         list_dot_product(list_transform(e.embedding, x -> CAST(x AS DOUBLE)), q.qe)
             / (sqrt(list_dot_product(list_transform(e.embedding, x -> CAST(x AS DOUBLE)),
                                      list_transform(e.embedding, x -> CAST(x AS DOUBLE))))
                * sqrt(list_dot_product(q.qe, q.qe))) * 10000 + 0.5
       ) AS BIGINT) / 10000.0 AS cos
FROM embeddings e, q WHERE e.vec_id <> 0 ORDER BY e.vec_id
""",
    # u04: Python re and DuckDB RE2 agree on the plain [a-z]+ class;
    # integer counts → no float anywhere
    "u04_iter_word_matches": """
WITH per_doc AS (
  SELECT lang,
         CAST(len(regexp_extract_all(text, '[a-z]+')) AS INTEGER) AS nw
  FROM documents
)
SELECT lang, count(*) AS n_docs,
       CAST(sum(nw) AS BIGINT) AS total_matches,
       max(nw) AS max_matches
FROM per_doc GROUP BY lang ORDER BY lang
""",
}
