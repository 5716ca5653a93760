"""CSV / JSON file sources as a hash-checked driver query (f01).

SURVEY §2.2's "CSV/JSON file source" row was smoke-only through round
2; this module gives it a full oracle-checked entry: the query exports
the dimension tables through Spark's CSV and JSON WRITERS, reads them
back through ``spark.read.csv`` / ``spark.read.json`` with EXPLICIT
schemas (schema inference is a second full scan — never on at scale),
and joins the file-sourced dims against the Parquet fact view. The
oracle computes the same relation from the ORIGINAL Parquet tables, so
a hash match certifies the whole write→read roundtrip lossless — a
strictly stronger statement than oracling the exported files
themselves, and independent of query/oracle execution order.

Scale notes: the dims stay distributed through the export (plain
``df.write``, one file per partition — the 1000-executor shape); the
read-back joins are broadcast (dimension-sized); the fact side is the
untouched Parquet scan with pushdown intact.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aw3d30_parquet_spark.session import register_views, session_token

REGION_SCHEMA = "r_regionkey INT, r_name STRING"
NATION_SCHEMA = "n_nationkey INT, n_name STRING, n_regionkey INT"


def _export_dir(spark: SparkSession, sf_dir: str) -> str:
    """Per-(session, dataset) export root: the session token (the
    applicationId on classic Spark) makes concurrent processes (bench
    CLI + a pytest run on the same host) write disjoint trees — a shared
    fixed path would race one process's overwrite against another's
    read-back scan.
    Local tmp is correct for the single-JVM driver contract; on a
    real cluster this must be a SHARED filesystem URI (s3a://,
    hdfs://) — executors write the partition files, and a node-local
    path would scatter them across machines (DEPLOY.md row 9's
    checkpoint rule, applied to sinks)."""
    slug = sf_dir.strip("/").replace("/", "_")
    app = session_token(spark)
    out = os.path.join(
        tempfile.gettempdir(), f"graft_filesrc_{app}_{slug}"
    )
    if app not in _CLEANUP_REGISTERED:
        # per-app dirs would otherwise accumulate in tmp forever (the
        # old fixed path was self-bounding via overwrite; uniqueness
        # traded that away) — reap this app's whole export family at
        # process exit
        import atexit
        import glob
        import shutil

        pattern = os.path.join(
            tempfile.gettempdir(), f"graft_filesrc_{app}_*"
        )
        atexit.register(
            lambda: [
                shutil.rmtree(p, ignore_errors=True)
                for p in glob.glob(pattern)
            ]
        )
        _CLEANUP_REGISTERED.add(app)
    return out


_CLEANUP_REGISTERED: set[str] = set()


def csv_json_roundtrip_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """f01: region→CSV and nation→JSON roundtrips joined to Parquet.

    Customers per region, with the region dimension travelling through
    CSV (header, explicit schema on read) and the nation dimension
    through newline-delimited JSON — the two text formats every
    ingest pipeline still meets at its edges.
    """
    register_views(spark, sf_dir)
    out = _export_dir(spark, sf_dir)
    (
        spark.table("region")
        .select("r_regionkey", "r_name")
        .write.mode("overwrite")
        .option("header", True)
        .csv(os.path.join(out, "region_csv"))
    )
    (
        spark.table("nation")
        .select("n_nationkey", "n_name", "n_regionkey")
        .write.mode("overwrite")
        .json(os.path.join(out, "nation_json"))
    )
    region = (
        spark.read.schema(REGION_SCHEMA)
        .option("header", True)
        .csv(os.path.join(out, "region_csv"))
    )
    nation = spark.read.schema(NATION_SCHEMA).json(
        os.path.join(out, "nation_json")
    )
    return (
        spark.table("customer")
        .join(
            F.broadcast(nation),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(region),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .groupBy("r_name")
        .agg(
            F.count("*").alias("n_cust"),
            F.count_distinct("n_nationkey").alias("n_nations"),
            F.sum(F.floor(F.col("c_acctbal") * 100).cast("long")).alias(
                "acctbal_cents"
            ),
        )
        .orderBy("r_name")
    )


SUPPLIER_SCHEMA = (
    "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE"
)
#: brands whose partitions the f02 read-back actually scans — the
#: pruning predicate (see docstring).
F02_BRANDS = ("Brand#7", "Brand#11", "Brand#22")


def orc_roundtrip_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """f02: ORC source/sink roundtrip — the columnar sibling of f01's
    text formats (Spark's built-in ORC reader/writer; the format the
    Hive-era lakehouse still runs on).

    supplier travels through a plain ORC export; part through an ORC
    export PARTITIONED BY p_brand with the read-back filtered to
    ``F02_BRANDS`` — so the query certifies Spark's partitioned-write
    → partition-PRUNED-read path on ORC (the directory layout, not the
    reader, is what skips the other 22 brands; `.explain` shows
    ``PartitionFilters``). Both read-backs use explicit schemas
    (inference is a second scan — never on at scale). The join plan
    is the f01 shape: broadcast dims against the untouched Parquet
    fact scan, so the oracle (original Parquet tables) hash-matching
    certifies the whole write→read roundtrip lossless.

    Note the partition column type round-trip: ``p_brand`` comes back
    from the DIRECTORY NAMES (partition discovery), exercising the
    string-typed partition-value path.
    """
    register_views(spark, sf_dir)
    out = _export_dir(spark, sf_dir)
    (
        spark.table("supplier")
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
        .write.mode("overwrite")
        .orc(os.path.join(out, "supplier_orc"))
    )
    (
        spark.table("part")
        .select("p_partkey", "p_brand", "p_retailprice")
        .write.mode("overwrite")
        .partitionBy("p_brand")
        .orc(os.path.join(out, "part_orc"))
    )
    supplier = spark.read.schema(SUPPLIER_SCHEMA).orc(
        os.path.join(out, "supplier_orc")
    )
    part = (
        spark.read.schema("p_partkey BIGINT, p_retailprice DOUBLE, p_brand STRING")
        .orc(os.path.join(out, "part_orc"))
        .filter(F.col("p_brand").isin(*F02_BRANDS))
    )
    li = spark.table("lineitem")
    return (
        li.join(
            F.broadcast(part), li.l_partkey == part.p_partkey
        )
        .join(
            F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey
        )
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_items"),
            F.count_distinct("s_suppkey").alias("n_supp"),
            F.sum(
                F.floor(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * 100
                ).cast("long")
            ).alias("revenue_cents"),
        )
        .orderBy("p_brand")
    )


QUERIES = {
    "f01_csv_json_roundtrip": csv_json_roundtrip_join,
    "f02_orc_roundtrip": orc_roundtrip_join,
}

ORACLE_SQL = {
    "f01_csv_json_roundtrip": """
SELECT r.r_name,
       count(*) AS n_cust,
       count(DISTINCT n.n_nationkey) AS n_nations,
       CAST(sum(CAST(floor(c.c_acctbal * 100) AS BIGINT)) AS BIGINT)
           AS acctbal_cents
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name ORDER BY r.r_name
""",
    "f02_orc_roundtrip": f"""
SELECT p.p_brand,
       count(*) AS n_items,
       count(DISTINCT s.s_suppkey) AS n_supp,
       CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100)
                AS BIGINT)) AS BIGINT) AS revenue_cents
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
WHERE p.p_brand IN {F02_BRANDS!r}
GROUP BY p.p_brand ORDER BY p.p_brand
""",
}
