"""Object-store (s3a://) wiring for the tile ingest.

The reference lists and fetches tiles straight from an S3 bucket
(listing ``src/main.rs:265-331``, GetObject ``src/main.rs:136-161``).
The Spark-first equivalent needs no bespoke client at all: the
``binaryFile`` source behind :func:`aw3d30_parquet_spark.sources.geotiff.read_tiles`
speaks every Hadoop filesystem, so pointing it at
``s3a://raster-bucket/AW3D30/AW3D30_global/`` works unchanged. Batch
readers list the prefix once on the driver (one Hadoop ``globStatus``
of the tile-name glob, ``geotiff.list_matching``) and prune that
listing by key regex and region (and, for ingest, by the tiles already
written); the scan tasks then GET only the remaining objects, parallel
across executors. The streaming ingest has no up-front
listing: it filters by region in the plan, per micro-batch, so it still
fetches out-of-region objects that land under the prefix.

What this module adds is the configuration surface:

- :func:`configure_s3a` sets the standard ``fs.s3a.*`` Hadoop confs on a
  live session (anonymous or keyed access, custom endpoint for
  S3-compatible stores, path-style addressing).
- :func:`tile_source_uri` normalizes a bucket/prefix pair into the URI
  ``read_tiles`` expects.

Requirements (cluster-side, not importable from Python): the
``hadoop-aws`` + AWS SDK bundle jars matching the cluster's Hadoop
version, e.g. ``spark-submit --packages
org.apache.hadoop:hadoop-aws:3.4.1``. This container ships no such jars
and no network, so tests exercise the conf plumbing and the plan shape
over ``file://`` URIs — the scan code path is byte-for-byte the same;
the listing of a ``file://`` URI takes the local branch.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

#: AW3D30's public layout: one flat prefix of ALPSMLC30_*_DSM.tif objects.
DEFAULT_PREFIX = "AW3D30/AW3D30_global/"

_ANON_PROVIDER = "org.apache.hadoop.fs.s3a.AnonymousAWSCredentialsProvider"


def configure_s3a(
    spark: SparkSession,
    endpoint: str | None = None,
    anonymous: bool | None = None,
    path_style_access: bool = False,
    access_key: str | None = None,
    secret_key: str | None = None,
) -> None:
    """Set the ``fs.s3a.*`` confs the tile scan needs on a live session.

    Hadoop confs are session-global and mutable at runtime (unlike
    ``spark.sql.*`` static confs), so this works on an already-running
    cluster session. ``anonymous`` defaults to True only when no keys
    are given (the AW3D30 bucket is public, like the reference's
    unauthenticated GetObject); passing keys implies keyed access and
    RESETS the provider conf so a previously-set anonymous provider
    cannot shadow the credentials.
    """
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    if anonymous is None:
        anonymous = access_key is None and secret_key is None
    if anonymous and (access_key is not None or secret_key is not None):
        raise ValueError(
            "anonymous=True ignores access/secret keys — pass "
            "anonymous=False (or omit it) for keyed access"
        )
    if anonymous:
        hconf.set("fs.s3a.aws.credentials.provider", _ANON_PROVIDER)
    else:
        # back to the default provider chain (env/keys/instance profile)
        hconf.unset("fs.s3a.aws.credentials.provider")
    if access_key is not None:
        hconf.set("fs.s3a.access.key", access_key)
    if secret_key is not None:
        hconf.set("fs.s3a.secret.key", secret_key)
    if endpoint is not None:
        hconf.set("fs.s3a.endpoint", endpoint)
    if path_style_access:
        hconf.set("fs.s3a.path.style.access", "true")
    # listing + fetch posture for a 31 000-object flat prefix:
    # directory-marker awareness off (flat keys), bigger listing pages,
    # and sequential-read input policy (tiles are decoded whole)
    hconf.set("fs.s3a.paging.maximum", "1000")
    hconf.set("fs.s3a.experimental.input.fadvise", "sequential")
    hconf.set("fs.s3a.connection.maximum", "96")


def tile_source_uri(bucket: str, prefix: str = DEFAULT_PREFIX) -> str:
    """``(bucket, prefix)`` → the s3a URI ``read_tiles`` scans.

    >>> tile_source_uri("raster")
    's3a://raster/AW3D30/AW3D30_global/'
    """
    if not prefix.endswith("/"):
        prefix += "/"
    return f"s3a://{bucket}/{prefix}"
