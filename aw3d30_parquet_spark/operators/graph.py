"""Iterative graph analytics as DataFrame loops: fixed-iteration
PageRank over the supplier↔customer shipping graph.

The engine's only iterative-algorithm surface so far was d08's label
propagation (bounded by cluster diameter); PageRank is the canonical
UNBOUNDED-iteration fixpoint, here run for a FIXED iteration count so
the result is a deterministic, oracle-checkable relation. The pattern
is the Pregel-on-DataFrames loop every Spark graph library uses under
the hood: ``ranks`` is a small (|nodes|-row) relation re-joined to the
static ``edges`` relation once per iteration, with a persist per step
to cut lineage (at scale: checkpoint every ~5 iterations).

Determinism contract — SCALED-INTEGER arithmetic: double-precision
PageRank is NOT order-independent (float addition does not associate,
and Spark's partial-aggregation order is nondeterministic), so rank
mass is carried as BIGINT units of 10^-12 (``rank_e12``) and every
step is integer math: contributions are ``rank div out_degree``
(exact integral division, Spark ``div`` ≙ DuckDB ``//``), the damping
factor 0.85 is the exact rational 17/20, and the teleport term is
``(3·10^12 div 20) div N``. BIGINT sums are exact and
order-independent, so Spark and DuckDB can never disagree — the same
reason d04 carries jaccard as exact-integer intersections and s09
carries cents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aw3d30_parquet_spark.session import (
    register_views,
    session_token,
    session_width,
)

#: rank mass scale: 1.0 ≡ 10^12 (micro-micro units — 12 decimal
#: digits of rank resolution, far below any ranking-relevant gap).
PR_SCALE = 10**12
#: fixed iteration count (unrolled identically in the DuckDB oracle).
PR_ITERS = 3
#: damping 0.85 as the exact rational 17/20.
PR_DAMP_NUM, PR_DAMP_DEN = 17, 20
#: supplier node ids are offset into their own key space (max custkey
#: at the 10× probe is ~915k; a 100 TB deployment sizes this to its
#: key domain or uses a (type, id) struct key).
PR_SUPP_OFFSET = 10_000_000
#: output: top-k nodes by final rank (bounded driver-visible slice;
#: the full rank relation is the operator's real product at scale).
PR_TOP_K = 50


def _undirect(pairs: DataFrame) -> DataFrame:
    """Both directions of the undirected edge set in ONE pass over
    ``pairs`` — explode a 2-array of (src,dst)/(dst,src) structs
    instead of a self-union (r12 optimization): the union's two
    branches each carried the full lineitem⋈orders⋈distinct subtree,
    so materializing the edge persist ran that join TWICE (the DuckDB
    oracle MATERIALIZEs ``pairs`` for exactly this reason; the Spark
    plan never did). The explode is a narrow map — same rows, same
    bag semantics, half the joins, no extra shuffle."""
    return pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("s").alias("src"), F.col("c").alias("dst")
                ),
                F.struct(
                    F.col("c").alias("src"), F.col("s").alias("dst")
                ),
            )
        ).alias("e")
    ).select("e.src", "e.dst")


def pagerank_supplier_customer(
    spark: SparkSession, sf_dir: str, iters: int = PR_ITERS
) -> DataFrame:
    """l01: ``iters`` exact-arithmetic PageRank steps over the
    undirected supplier↔customer graph (an edge per DISTINCT
    (l_suppkey, o_custkey) shipping relationship).

    Undirected ⇒ both directions materialized ⇒ every node has
    out-degree ≥ 1, so there is no dangling-mass term. Per step::

        rank'(v) = (0.15·S) div N  +  (17 · Σ_{u→v} rank(u) div deg(u)) div 20

    all in BIGINT units of 1e-12 (see module docstring). Output is the
    top ``PR_TOP_K`` nodes by final rank (rank desc, node id asc).

    Scale shape: ``edges`` is derived once (the only text-free
    fact-fact join — lineitem⋈orders on orderkey, then distinct) and
    persisted; each iteration is one shuffle of the |nodes|-row rank
    relation keyed by node id plus a broadcast-sized teleport scalar.
    Edge partitioning is reused across iterations (the persist holds
    the post-shuffle layout); at 1000 executors the same loop runs
    with ``edges`` bucketed by src so the per-iteration join is
    co-located and only ranks move.
    """
    register_views(spark, sf_dir)
    li = spark.table("lineitem").select("l_orderkey", "l_suppkey")
    orders = spark.table("orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            (F.col("l_suppkey") + PR_SUPP_OFFSET).alias("s"),
            F.col("o_custkey").alias("c"),
        )
        .distinct()
    )
    # deferred-release scratch (the d-family pattern): each persisted
    # relation is registered under an op key so the NEXT l01 call
    # releases it — nothing leaks across bench repeats/test reruns
    from aw3d30_parquet_spark.scratch import scratch_persist

    # the engine must self-configure against the DRIVER's session
    # (which may carry the 200-partition default): every persisted
    # relation here is small (≤|edges| rows), and caching it as 200
    # micro-partitions turns each of the loop's ~8 actions into 200
    # scheduled tasks — pure overhead that dominated the sf0.01 sim
    # (40 s → ~8 s with the coalesce). At real scale defaultParallelism
    # is the cluster width, so this stays right-sized.
    par = max(8, session_width(spark))
    # NOTE (r13, measured and left): the edges cache has THREE
    # concurrent first-wave readers — deg is compiled into consts,
    # ranks0 AND edge_deg, so AQE's leaf query stages each hit the
    # unfilled cache and re-run the lineitem⋈orders distinct subtree
    # (profiled at 32c: three identical 15 MB map writes per
    # invocation). An eager fill here A/B'd WALL-NEUTRAL (med 4.18
    # eager vs 4.21 plain, 3 interleaved rounds) and would fire a
    # construction-time job, conflicting with the two lazy-construction
    # regression pins (test_l01_no_standalone_count_job,
    # test_l01_loop_is_lazy_single_plan). Left plain: at 100 TB the
    # edge set is a materialized table (DEPLOY row 2) and the race
    # does not exist.
    edges = scratch_persist(
        "l01_edges",
        _undirect(pairs).coalesce(par),
    )
    deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    # |nodes| rides the plan as a persisted 1-row consts relation
    # (broadcast into every consumer) instead of a standalone
    # deg.count() driver job (VERDICT r5 #6): the teleport term and
    # the initial uniform rank are exact integer expressions over n,
    # evaluated inside the same jobs that consume them — one fewer
    # scheduled job per invocation, identical BIGINT arithmetic.
    consts = scratch_persist(
        "l01_consts",
        deg.agg(F.count("*").alias("n")).select(
            "n",
            F.expr(
                f"{(3 * PR_SCALE) // PR_DAMP_DEN} div n"
            ).alias("tele"),
        ),
    )
    # ranks0 has exactly ONE consumer now (the first lazy iteration) —
    # no persist, no repartition; it rides the chained plan
    ranks = deg.crossJoin(F.broadcast(consts)).select(
        F.col("src").alias("node"),
        F.expr(f"{PR_SCALE} div n").cast("long").alias("r"),
    )
    # plain persist, deliberately: an eager fill (persist+count) was
    # A/B'd at +0.86 s med over 6 interleaved rounds — the lazy chain
    # and the consts broadcast overlap the fill productively here
    edge_deg = scratch_persist(
        "l01_edge_deg", edges.join(deg, "src").coalesce(par)
    )
    # r12 optimization: the loop is LAZY — no per-iteration persist /
    # count() materialization. At a FIXED small iteration count the
    # chained plan (3 nested join→agg steps over the one cached
    # edge_deg relation) executes as a single job: the old form paid 2
    # actions per iteration (cache fill + count) plus scratch-registry
    # churn, and froze each interim at a fixed partition count —
    # lazily, AQE right-sizes every exchange inside one query instead
    # (the sf0.01 sim's 200-partition hazard the old coalesce(par)
    # existed for is now handled by AQE coalescing, which is on).
    # At tens of iterations lineage growth would bring back the
    # checkpoint-every-k form (DEPLOY row 13) — PR_ITERS is 3 and the
    # oracle unrolls the same 3 steps.
    for _ in range(iters):
        contrib = (
            edge_deg.join(ranks, edge_deg.src == ranks.node)
            .select(
                F.col("dst"),
                F.expr("r div deg").alias("share"),
            )
            .groupBy("dst")
            .agg(F.sum("share").alias("contrib"))
        )
        ranks = contrib.crossJoin(F.broadcast(consts)).select(
            F.col("dst").alias("node"),
            (
                F.col("tele")
                + F.expr(f"({PR_DAMP_NUM} * contrib) div {PR_DAMP_DEN}")
            ).alias("r"),
        )
    return (
        ranks.select("node", F.col("r").alias("rank_e12"))
        .orderBy(F.col("rank_e12").desc(), "node")
        .limit(PR_TOP_K)
    )


#: l02 bucket count — matched by the per-iteration Exchange on the
#: rank side; at 1000 executors this is sized to the cluster width.
PR_BUCKETS = 8

#: (session tag, sf_dir) → bucketed edge_deg table already written
#: this session (build-once, like b01's fact tables), plus the owning
#: session for the atexit drop.
_EDGE_TABLES: dict[tuple[str, str], str] = {}
_EDGE_OWNERS: dict[tuple[str, str], SparkSession] = {}
_EDGE_ATEXIT = [False]


def _bucketed_edge_deg(spark: SparkSession, sf_dir: str) -> str:
    """Write (once per session+sf_dir) the undirected shipping-graph
    edge relation joined with out-degree as a managed parquet table
    bucketed AND sorted by ``src`` — the static side of every PageRank
    iteration. The write is the build-once index cost (b01's pattern,
    including the crashed-session directory reap); every later call
    reuses the table."""
    import atexit
    import re

    from aw3d30_parquet_spark.operators.bucketing import (
        _drop_quietly,
        _reap_stale_b01,
        write_bucketed,
    )

    app = session_token(spark)
    key = (app, sf_dir)
    if key in _EDGE_TABLES:
        return _EDGE_TABLES[key]
    app_tag = re.sub(r"[^0-9a-zA-Z]+", "_", app)
    _reap_stale_b01(spark, app_tag, prefixes=("l02_",))
    slug = re.sub(r"[^0-9a-zA-Z]+", "_", sf_dir).strip("_")
    tbl = f"l02_edge_deg_{app_tag}_{slug}"
    register_views(spark, sf_dir)
    li = spark.table("lineitem").select("l_orderkey", "l_suppkey")
    orders = spark.table("orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            (F.col("l_suppkey") + PR_SUPP_OFFSET).alias("s"),
            F.col("o_custkey").alias("c"),
        )
        .distinct()
    )
    edges = _undirect(pairs).persist()
    deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    write_bucketed(edges.join(deg, "src"), tbl, "src", buckets=PR_BUCKETS)
    edges.unpersist()
    if not _EDGE_ATEXIT[0]:
        _EDGE_ATEXIT[0] = True

        def _drop_all() -> None:
            for k, t in list(_EDGE_TABLES.items()):
                owner = _EDGE_OWNERS.get(k)
                if owner is not None:
                    _drop_quietly(owner, t)

        atexit.register(_drop_all)
    _EDGE_TABLES[key] = tbl
    _EDGE_OWNERS[key] = spark
    return tbl


def _l02_iteration_join(
    edge_deg: DataFrame, ranks: DataFrame
) -> DataFrame:
    """One iteration's edge⋈rank join, the plan-pinned subplan: the
    edge side reads the bucketed table co-located on ``src`` (zero
    Exchange — ``tests/test_graph.py`` pins it), so only the |nodes|-row
    rank relation shuffles per iteration. The ``merge`` hint keeps the
    plan the SortMergeJoin a 1000-executor run would choose (a
    |nodes|-row build side outgrows broadcast long before 100 TB);
    without it the local-scale ranks relation broadcasts and the
    bucketing is moot."""
    return edge_deg.join(
        ranks.hint("merge"), edge_deg.src == ranks.node
    ).select(F.col("dst"), F.expr("r div deg").alias("share"))


def pagerank_bucketed(
    spark: SparkSession, sf_dir: str, iters: int = PR_ITERS
) -> DataFrame:
    """l02: l01's exact-integer PageRank with the co-located-iteration
    layout its docstring promises for 1000 executors — ``edge_deg``
    lives as a managed table bucketed by ``src``, so every iteration's
    edge⋈rank join is Exchange-FREE on the (dominant, |edges|-row) edge
    side and only the |nodes|-row rank relation moves. Identical BIGINT
    arithmetic ⇒ identical ranks ⇒ l01's DuckDB oracle verifies it
    hash-for-hash. l01 stays the default at driver scale (the bucketed
    write only pays for itself when amortized over a session or a
    larger iteration count); DEPLOY.md carries the deploy row."""
    from aw3d30_parquet_spark.scratch import scratch_persist

    tbl = _bucketed_edge_deg(spark, sf_dir)
    edge_deg = spark.table(tbl)
    # deg/consts/ranks0 re-derive from the bucketed table: groupBy(src)
    # rides the bucket layout (no Exchange) and every row of a src
    # group carries the same deg, so max(deg) IS the out-degree
    deg = edge_deg.groupBy("src").agg(F.max("deg").alias("deg"))
    consts = scratch_persist(
        "l02_consts",
        deg.agg(F.count("*").alias("n")).select(
            "n",
            F.expr(f"{(3 * PR_SCALE) // PR_DAMP_DEN} div n").alias("tele"),
        ),
    )
    ranks = deg.crossJoin(F.broadcast(consts)).select(
        F.col("src").alias("node"),
        F.expr(f"{PR_SCALE} div n").cast("long").alias("r"),
    )
    # lazy loop — same r12 optimization (and rationale) as l01's: one
    # chained job, AQE-sized exchanges, no per-iteration persist/count
    for _ in range(iters):
        contrib = (
            _l02_iteration_join(edge_deg, ranks)
            .groupBy("dst")
            .agg(F.sum("share").alias("contrib"))
        )
        ranks = contrib.crossJoin(F.broadcast(consts)).select(
            F.col("dst").alias("node"),
            (
                F.col("tele")
                + F.expr(f"({PR_DAMP_NUM} * contrib) div {PR_DAMP_DEN}")
            ).alias("r"),
        )
    return (
        ranks.select("node", F.col("r").alias("rank_e12"))
        .orderBy(F.col("rank_e12").desc(), "node")
        .limit(PR_TOP_K)
    )


QUERIES = {
    "l01_pagerank_fixed": pagerank_supplier_customer,
    "l02_pagerank_bucketed": pagerank_bucketed,
}

# The oracle unrolls the same three exact-integer steps as CTEs —
# DuckDB's `//` is the same integral division as Spark's `div`, and
# BIGINT sums are order-independent in both engines, so the hash
# match certifies every intermediate rank vector, not just the top-k.
# The multi-consumer CTEs are MATERIALIZED (pairs feeds both UNION
# branches, edge_deg feeds every iteration): DuckDB inlines CTEs by
# default, so without the hint the 100x probe recomputed the 60 M-row
# lineitem⋈orders join once per reference and spilled >74 GB of temp —
# the exact mirror of the Spark side's persisted edge relation.
# Semantics and hash are unchanged.
_PR_STEP = """
, it{i} AS (
  SELECT e.dst AS node,
         (SELECT tele FROM consts)
         + ({dnum} * sum(r.r // e.deg)) // {dden} AS r
  FROM edge_deg e JOIN it{prev} r ON r.node = e.src
  GROUP BY e.dst
)"""

_PR_SQL = (
    f"""
WITH pairs AS MATERIALIZED (
  SELECT DISTINCT l_suppkey + {PR_SUPP_OFFSET} AS s, o_custkey AS c
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
), edges AS (
  SELECT s AS src, c AS dst FROM pairs
  UNION ALL
  SELECT c AS src, s AS dst FROM pairs
), deg AS MATERIALIZED (
  SELECT src, count(*) AS deg FROM edges GROUP BY src
), consts AS (
  SELECT count(*) AS n,
         (3 * {PR_SCALE} // {PR_DAMP_DEN}) // count(*) AS tele
  FROM deg
), edge_deg AS MATERIALIZED (
  SELECT e.src, e.dst, d.deg FROM edges e JOIN deg d ON d.src = e.src
), it0 AS (
  SELECT src AS node, {PR_SCALE} // (SELECT n FROM consts) AS r FROM deg
)"""
    + "".join(
        _PR_STEP.format(
            i=i, prev=i - 1, dnum=PR_DAMP_NUM, dden=PR_DAMP_DEN
        )
        for i in range(1, PR_ITERS + 1)
    )
    + f"""
SELECT node, CAST(r AS BIGINT) AS rank_e12 FROM it{PR_ITERS}
ORDER BY rank_e12 DESC, node LIMIT {PR_TOP_K}
"""
)

ORACLE_SQL = {
    "l01_pagerank_fixed": _PR_SQL,
    # identical exact-integer arithmetic, different physical layout —
    # the SAME oracle certifies the bucketed form hash-for-hash
    "l02_pagerank_bucketed": _PR_SQL,
}
