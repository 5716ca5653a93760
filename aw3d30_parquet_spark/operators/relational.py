"""Relational operator surface, Q1–Q28, as idiomatic DataFrame ops.

Each function takes ``(spark, sf_dir)`` and returns a DataFrame whose
result hash-matches the same-named oracle SQL in ``queries.ORACLE_SQL``
(column names aligned via ``.alias``). Everything is declarative —
Catalyst picks physical strategies; explicit ``broadcast()`` hints mark
the dimension sides of star joins (region/nation/supplier are tiny at
every scale factor, reference analogue: the region predicate tables at
``src/main.rs:68-88`` are constants).

Scale notes (100 TB posture):
- no ``collect()`` anywhere; all results stay DataFrames
- dims broadcast → star joins are shuffle-free on the fact side
- the as-of join (q28) is a window over a union, not a range join —
  one shuffle by user_id instead of an O(n·m) non-equi join
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from aw3d30_parquet_spark.numeric import round_half_up
from aw3d30_parquet_spark.session import register_views, session_width, spread


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.table(name)


def _cents(col) -> Column:
    """Exact integer cents of a 2-decimal money/value column.

    floor-half-up, not round(): col·100 sits within an ulp of an
    integer (never near a half boundary for cents data), so both forms
    agree — but the floor form keeps the whole oracle surface on ONE
    rounding contract (numeric.round_half_up / the matching DuckDB
    ``CAST(floor(x * 100 + 0.5) AS BIGINT)``)."""
    return F.floor(col * 100 + F.lit(0.5)).cast("bigint")


def _exact_money_sum(cents_col, alias: str, scale: float = 100.0) -> Column:
    """``round(sum(money), 2)`` computed as an exact integer-cents sum.

    A double sum's low bits depend on partial-agg merge order, so its
    rounded hash can flip with the partitioning (the q41 flake SURVEY
    §7.3 predicted). Summing integer cents into DECIMAL(38,0) is
    associative and exact; the single divide+round afterward is the same
    IEEE computation in every engine and under every partitioning. The
    matching oracle SQL sums BIGINT cents (HUGEINT in DuckDB — also
    exact) and applies the identical divide + floor-half-up."""
    return round_half_up(
        F.sum(cents_col.cast("decimal(38,0)")).cast("double") / F.lit(scale), 2
    ).alias(alias)


def q01_scan_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "region")
        .select("r_regionkey", "r_name")
        .orderBy("r_regionkey")
    )


def q02_filter_conjunction(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_nationkey").between(5, 10) & (F.col("c_acctbal") > 1000.0))
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


def q03_filter_disjunction(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "events")
        .filter(
            ((F.col("event_type") == "error") | (F.col("value") > 150.0))
            & (F.col("user_id") < 20)
        )
        .select("event_id")
        .orderBy("event_id")
    )


def q04_regex_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "documents")
        .filter(F.col("lang") == "en")
        .select(
            "doc_id", F.regexp_extract("source", "[0-9]+", 0).alias("src_num")
        )
        .orderBy("doc_id")
    )


def q05_inner_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = _t(spark, sf_dir, "customer")
    nation = spark.table("nation")
    return (
        customer.join(
            F.broadcast(nation),
            customer.c_nationkey == nation.n_nationkey,
            "inner",
        )
        .groupBy("n_name")
        .agg(F.count("*").alias("cnt"))
        .orderBy("n_name")
    )


def q06_star_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    customer = spark.table("customer")
    nation = spark.table("nation")
    region = spark.table("region")
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(_exact_money_sum(_cents(F.col("o_totalprice")), "total"))
        .orderBy("r_name")
    )


def q07_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = _t(spark, sf_dir, "nation")
    customer = spark.table("customer")
    return (
        nation.join(customer, nation.n_nationkey == customer.c_nationkey, "left")
        .groupBy("n_name")
        .agg(F.count("c_custkey").alias("cnt"))
        .orderBy("n_name")
    )


def q08_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    lineitem = spark.table("lineitem").filter(F.col("l_quantity") > 45.0)
    return part.join(
        lineitem, part.p_partkey == lineitem.l_partkey, "left_semi"
    ).agg(F.count("*").alias("cnt"))


def q09_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = _t(spark, sf_dir, "customer")
    orders = spark.table("orders")
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_anti"
    ).agg(F.count("*").alias("cnt"))


def q10_theta_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Equi component (nationkey) keeps this a hash/sort-merge join; the
    # inequality rides along as a post-join predicate — never a
    # cartesian product.
    supplier = _t(spark, sf_dir, "supplier")
    customer = spark.table("customer")
    return F.broadcast(supplier).join(
        customer,
        (supplier.s_nationkey == customer.c_nationkey)
        & (supplier.s_acctbal > customer.c_acctbal),
    ).agg(F.count("*").alias("cnt"))


def q11_group_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("cnt"),
            # quantity is integral and price is exact cents: sum exact
            # integers, derive the rounded doubles after the aggregate
            # (merge-order independent — see _exact_money_sum)
            round_half_up(
                F.sum(
                    F.col("l_quantity").cast("bigint").cast("decimal(38,0)")
                ).cast("double"),
                2,
            ).alias("sum_qty"),
            round_half_up(
                F.sum(
                    _cents(F.col("l_extendedprice")).cast("decimal(38,0)")
                ).cast("double")
                / F.count("*").cast("double")
                / F.lit(100.0),
                2,
            ).alias("avg_price"),
            F.min("l_shipdate").alias("min_ship"),
            F.max("l_shipdate").alias("max_ship"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q12_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .agg(F.countDistinct("user_id").alias("cnt"))
    )


def q13_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "events")
        .rollup("event_type")
        .agg(
            F.count("*").alias("cnt"),
            _exact_money_sum(_cents(F.col("value")), "total"),
        )
        .orderBy(F.col("event_type").asc_nulls_first())
    )


def q14_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _t(spark, sf_dir, "documents")
    return (
        df.groupingSets([["lang"], ["source"]], "lang", "source")
        .agg(F.count("*").alias("cnt"))
        .orderBy(
            F.col("lang").asc_nulls_first(), F.col("source").asc_nulls_first()
        )
    )


def q15_rank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return (
        _t(spark, sf_dir, "customer")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("c_mktsegment", "c_custkey", "c_acctbal")
        .orderBy("c_mktsegment", "c_custkey")
    )


def q16_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        _t(spark, sf_dir, "events")
        .filter(F.col("user_id") == 1)
        .select(
            "event_id",
            round_half_up(
                F.col("value") - F.lag("value", 1, 0.0).over(w), 2
            ).alias("delta"),
        )
        .orderBy("event_id")
    )


def q17_window_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, Window.currentRow)
    )
    return (
        _t(spark, sf_dir, "events")
        .filter(F.col("user_id") <= 3)
        .select(
            "event_id", round_half_up(F.sum("value").over(w), 2).alias("run3")
        )
        .orderBy("event_id")
    )


def q18_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # orderBy().limit() plans as TakeOrderedAndProject — no global sort.
    return (
        _t(spark, sf_dir, "orders")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
        .select(
            "o_orderkey",
            round_half_up(F.col("o_totalprice"), 2).alias("price"),
        )
    )


def q19_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = _t(spark, sf_dir, "customer")
    supplier = spark.table("supplier")
    return (
        customer.select(F.col("c_nationkey").alias("k"))
        .intersect(supplier.select(F.col("s_nationkey").alias("k")))
        .orderBy("k")
    )


def q20_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = _t(spark, sf_dir, "nation")
    supplier = spark.table("supplier")
    # DataFrame.subtract == SQL EXCEPT (distinct semantics).
    return (
        nation.select("n_nationkey")
        .subtract(supplier.select(F.col("s_nationkey").alias("n_nationkey")))
        .orderBy("n_nationkey")
    )


def q21_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = _t(spark, sf_dir, "customer")
    supplier = spark.table("supplier")
    return (
        customer.select(F.col("c_custkey").alias("k"))
        .unionAll(supplier.select(F.col("s_suppkey").alias("k")))
        .agg(F.count("*").alias("cnt"))
    )


def q22_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 20)
        .select(
            "doc_id",
            F.upper("lang").alias("lang_u"),
            F.length("text").alias("n"),
            F.substring("text", 1, 10).alias("head"),
        )
        .orderBy("doc_id")
    )


def q23_date_trunc(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = F.date_trunc("day", F.col("ts")).cast("date").alias("d")
    return (
        _t(spark, sf_dir, "events")
        .groupBy(d)
        .agg(F.count("*").alias("cnt"))
        .orderBy("d")
    )


def q24_cond_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    value = F.col("value")
    return (
        _t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            _exact_money_sum(
                F.when(value > 100.0, _cents(value)).otherwise(F.lit(0)), "big"
            ),
            # rooted sums irrational sqrt values — not integer-izable;
            # a 2-dp rounding over a ~1e-10-ulp sum is boundary-safe
            round_half_up(F.sum(F.sqrt(F.abs(value))), 2).alias("rooted"),
            F.sum(F.floor(value).cast("bigint")).alias("floored"),
        )
        .orderBy("event_type")
    )


def q25_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_id") < 25)
        .select(
            "event_id",
            F.regexp_extract("props", "[0-9]+", 0).cast("int").alias("k"),
        )
        .orderBy("event_id")
    )


def q26_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Batch analogue of the streaming tumbling window (streaming/ has the
    # readStream form); date_trunc rather than window() so the output
    # column is a plain timestamp the oracle can reproduce. Spark's
    # DateTrunc only types to TIMESTAMP (LTZ), which PySpark collects in
    # the driver's local zone — cast back to TIMESTAMP_NTZ so the value
    # stays the naive truncation regardless of driver TZ (session TZ is
    # pinned UTC, so LTZ→NTZ is an exact round-trip).
    return (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "click")
        .groupBy(
            F.date_trunc("hour", F.col("ts")).cast("timestamp_ntz").alias("w")
        )
        .agg(F.count("*").alias("cnt"))
        .orderBy("w")
    )


def q27_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "documents")
        .select("lang", "source")
        .distinct()
        .agg(F.count("*").alias("cnt"))
    )


def q28_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: latest signup ts at-or-before each purchase, per user.

    Implemented as a window over the event stream rather than the
    oracle's correlated range subquery: one shuffle by user_id, O(n)
    state — this is the plan that survives 100 TB (a range join is
    O(n·m) per user). Signups sort before purchases at equal ts so a
    same-instant signup is visible, matching ``s.ts <= e.ts``.
    """
    events = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("signup", "purchase")
    )
    is_purchase = (F.col("event_type") == "purchase").cast("int")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", is_purchase, "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    signup_ts = F.when(F.col("event_type") == "signup", F.col("ts"))
    return (
        events.withColumn(
            "last_signup", F.last(signup_ts, ignorenulls=True).over(w)
        )
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "last_signup")
        .orderBy("event_id")
    )


def q29_json_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real JSON-path extraction from the ``props`` column (q25 covers
    the regex slice; this is ``get_json_object`` / ``from_json`` —
    SURVEY §2.2 "JSON column parsing"). Aggregates the extracted value
    per event type so the JSON parse feeds a real downstream op."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.select("event_type", k.alias("k"))
        .filter(F.col("k").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count("*").alias("cnt"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


def q32_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE window frame (q17 covers ROWS): per user, sum of values of
    events whose event_id lies within 5 of the current row's — a
    value-based frame, so peers with equal ordering values aggregate
    together regardless of row position."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rangeBetween(-5, Window.currentRow)
    )
    return (
        _t(spark, sf_dir, "events")
        .filter(F.col("user_id") <= 3)
        .select(
            "event_id",
            round_half_up(F.sum("value").over(w), 2).alias("range5"),
        )
        .orderBy("event_id")
    )


def q30_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (event_type, value-band): all 2² grouping combinations
    (rollup covers the hierarchy in q13; cube is the full lattice)."""
    # floor, not a bare int cast: DuckDB's double→int cast rounds while
    # Spark's truncates — floor() is identical in both engines
    ev = _t(spark, sf_dir, "events").withColumn(
        "band", F.floor(F.col("value") / 50.0).cast("int")
    )
    return (
        ev.cube("event_type", "band")
        .agg(
            F.count("*").alias("cnt"),
            _exact_money_sum(_cents(F.col("value")), "total"),
        )
        .orderBy(
            F.col("event_type").asc_nulls_first(), F.col("band").asc_nulls_first()
        )
    )


def q31_cross_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit cartesian product (bounded inputs only — both sides are
    metadata-scale dims; the engine never cross-joins fact tables)."""
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    reg = _t(spark, sf_dir, "region").select("r_regionkey")
    return (
        sup.crossJoin(reg)
        .groupBy("r_regionkey")
        .agg(
            F.count("*").alias("cnt"),
            F.sum("s_nationkey").alias("sum_nk"),
        )
        .orderBy("r_regionkey")
    )


def q33_fact_fact_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈fact equi join (lineitem ⋈ orders on orderkey): the shape
    where neither side broadcasts at scale and Catalyst picks a
    sort-merge join on the shuffled key (q06 covers the broadcast-dim
    star; bucketing in operators/bucketing.py removes even this
    shuffle when both facts are bucketed). TPC-H Q3-ish revenue rollup."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    # price*(1-disc) = cents(price) * (100 - pct(disc)) / 10000 exactly —
    # sum the integer numerator so the revenue hash is partition-proof
    revenue_e4 = _cents(F.col("l_extendedprice")) * (
        F.lit(100) - _cents(F.col("l_discount"))
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("cnt"),
            _exact_money_sum(revenue_e4, "revenue", scale=10000.0),
        )
        .orderBy("o_orderpriority")
    )


def q34_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join with nulls on both sides: customers restricted to
    custkey < 750 vs per-customer rollup of 'P'-status orders (56 of
    1500 customers have no 'P' orders at sf0.01). At scale this is a
    shuffled sort-merge full-outer on the join key — no broadcast
    variant exists for full-outer in Spark, which is the correct
    posture for two fact-sized inputs anyway."""
    cust = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") < 750)
        .select("c_custkey", "c_name")
    )
    ords = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "P")
        .groupBy("o_custkey")
        .agg(
            F.count("*").alias("p_orders"),
            _exact_money_sum(_cents(F.col("o_totalprice")), "p_total"),
        )
    )
    return (
        cust.join(ords, cust.c_custkey == ords.o_custkey, "full_outer")
        .select(
            F.coalesce("c_custkey", "o_custkey").alias("custkey"),
            "c_name",
            "p_orders",
            "p_total",
        )
        .orderBy("custkey")
    )


def q35_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (groupBy().pivot() with pinned values): order counts by
    priority × status. Pinning the pivot values ["F","O","P"] avoids
    Spark's extra distinct-values job — mandatory at 100 TB, where the
    values scan would be a full pass over the fact table. Empty cells
    coalesce to 0 to match SQL's FILTER-clause semantics."""
    piv = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
    )
    return piv.select(
        "o_orderpriority",
        *[F.coalesce(F.col(s), F.lit(0)).alias(f"cnt_{s.lower()}") for s in ("F", "O", "P")],
    ).orderBy("o_orderpriority")


def q36_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (SQL percentile_cont semantics)
    per group. Spark's `percentile` is a sort-based exact aggregate —
    fine for bounded group counts; the sketch-based alternative for
    unbounded cardinality is `approx_percentile` (same shape as a01's
    HLL++ posture). l_quantity is integer-valued so the quarter-point
    interpolations are exact in binary — no rounding guard needed."""
    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.expr("percentile(l_quantity, 0.25D)").alias("p25"),
            F.expr("percentile(l_quantity, 0.5D)").alias("p50"),
            F.expr("percentile(l_quantity, 0.75D)").alias("p75"),
        )
        .orderBy("l_returnflag")
    )


def q37_first_last_nth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / last_value / nth_value over the full-partition
    frame (ROWS UNBOUNDED PRECEDING..UNBOUNDED FOLLOWING). The frame
    must be explicit: the default frame stops at CURRENT ROW, which
    silently turns last_value into a running value."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        _t(spark, sf_dir, "events")
        .filter(F.col("user_id") <= 3)
        .select(
            "event_id",
            "user_id",
            round_half_up(F.first("value").over(w), 2).alias("first_v"),
            round_half_up(F.last("value").over(w), 2).alias("last_v"),
            round_half_up(F.nth_value("value", 3).over(w), 2).alias("third_v"),
        )
        .orderBy("event_id")
    )


def q38_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile(4) quartile assignment over a global order — WITHOUT the
    single-partition window a bare ``ntile(4) OVER (ORDER BY ...)``
    compiles to (that form funnels the whole fact table through one
    task; it is the only plan shape that cannot survive 100 TB).

    Uses the factored distributed-rank operator
    (:mod:`aw3d30_parquet_spark.operators.ranking`): range-partitioned
    sort → per-partition row_number → broadcast prefix offsets → exact
    global rank, then ntile's positional split as a closed-form integer
    expression. Identical output to the SQL form; the o_orderkey
    tiebreak keeps the total order deterministic across engines. The
    range-partitioned interim is eagerly checkpointed inside the rank
    operator — both branches read one materialization, never a
    recompute with freshly-sampled boundaries (see the ranking module
    docstring for the failure mode that rules out)."""
    from aw3d30_parquet_spark.operators.ranking import (
        ntile_expr,
        with_global_rank,
    )

    orders = _t(spark, sf_dir, "orders").select("o_totalprice", "o_orderkey")
    ranked = with_global_rank(orders, ["o_totalprice", "o_orderkey"]).select(
        "o_totalprice", ntile_expr("_r", "_n", 4).cast("int").alias("bucket")
    )
    return (
        ranked.groupBy("bucket")
        .agg(
            F.count("*").alias("cnt"),
            round_half_up(F.min("o_totalprice"), 2).alias("lo"),
            round_half_up(F.max("o_totalprice"), 2).alias("hi"),
        )
        .orderBy("bucket")
    )


def q39_posexplode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral unnest with ordinality (posexplode): leading-token
    histogram over documents. The generator runs inside whole-stage
    codegen (Generate node), so the row explosion never leaves the JVM
    — same fan-out shape as the GeoTIFF raster→points UDTF (reference
    src/main.rs:172-191) but for in-row arrays."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return (
        docs.select(
            F.posexplode(F.split(F.trim("text"), r"\s+")).alias("pos", "token")
        )
        .filter(F.col("pos") < 5)
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
        .orderBy("token")
    )


def q40_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (orders with >= 7 lineitems).
    Catalyst decorrelates this into an aggregate + join — the same
    plan a hand-written join would produce, so the declarative form
    costs nothing. The subquery aggregate is a count (exact integer),
    so the predicate has no float-boundary hash risk."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderkey,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) / 100.0D
                 AS total
        FROM orders o
        WHERE (SELECT count(*) FROM lineitem l
               WHERE l.l_orderkey = o.o_orderkey) >= 7
        ORDER BY o_orderkey
        """
    )


def q74_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL table subquery (Spark 4 lateral join): per
    market segment, the top-2 order-spending customers — the
    per-row-driven derived table every BI layer generates. Catalyst
    DECORRELATES the lateral into one aggregate + join + ranking pass
    over the whole input (DecorrelateInnerQuery), so the declarative
    per-segment form costs the same as a hand-written window top-k —
    it never re-executes the subquery per driving row. Spending is an
    exact integer-cents sum so rank order carries no float-boundary
    hash risk."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT s.c_mktsegment, t.c_custkey, t.spend_cents
        FROM (SELECT DISTINCT c_mktsegment FROM customer) s,
        LATERAL (
          SELECT c.c_custkey,
                 sum(CAST(floor(o.o_totalprice * 100) AS BIGINT))
                     AS spend_cents
          FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
          WHERE c.c_mktsegment = s.c_mktsegment
          GROUP BY c.c_custkey
          ORDER BY spend_cents DESC, c_custkey LIMIT 2
        ) t
        ORDER BY c_mktsegment, spend_cents DESC, c_custkey
        """
    )


def a01_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5: HLL++ approximate distinct users per event type.

    The sketch is engine-specific (not oracle-hashable — SURVEY §2.3
    exclusions): driver records rows-only; pytest asserts each estimate
    within 5% of the exact count. At 100 TB this replaces q12's exact
    distinct (whose shuffle carries every distinct key) with a
    fixed-size mergeable sketch per partition.
    """
    return (
        _t(spark, sf_dir, "events")
        .groupBy("event_type")
        # rsd 0.02 → ~2^15 registers per sketch (vs ~2^18 at 0.01):
        # 4× smaller partials to update and merge for an error budget
        # still well inside the ±5% tolerance the T5 test pins
        .agg(F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"))
        .orderBy("event_type")
    )


def a02_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentiles (Greenwald-Khanna / KLL-family sketch)
    per event type. Engine-specific sketch (not oracle-hashable, like
    a01): driver records rows-only; pytest asserts each estimate within
    1% relative error of q36's exact interpolated percentile. At 100 TB
    this replaces the exact percentile's full sort with a fixed-size
    mergeable summary per partition."""
    return (
        _t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.percentile_approx("value", [0.5, 0.9, 0.99], 10000).alias("pcts")
        )
        .select(
            "event_type",
            F.col("pcts")[0].alias("p50"),
            F.col("pcts")[1].alias("p90"),
            F.col("pcts")[2].alias("p99"),
        )
        .orderBy("event_type")
    )


def q41_stat_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregate family (stddev/variance/corr/covar).

    Derived from EXACT integer sums rather than Spark's central-moment
    aggregates: the moment sketches merge partials in partition order, so
    their low bits (and hence a rounded hash) depend on the partitioning —
    the flake SURVEY §7.3 predicted and round 1's driver hit. Here the
    aggregation sums integer-scaled columns (quantity is integral; price
    and discount are exact cents) into DECIMAL(38,0) — associative,
    order-independent, exact — and the doubles are computed AFTER the
    aggregate with the same IEEE expression tree the oracle SQL uses, so
    both engines produce bit-identical results under any partitioning.
    Still one shuffle of constant-size state per group at 100 TB — the
    partial sums are as mergeable as the moment sketches they replace."""
    q = F.col("l_quantity").cast("bigint")
    p = _cents(F.col("l_extendedprice"))
    d = _cents(F.col("l_discount"))
    dec = "decimal(38,0)"
    # r12 note: the eight DECIMAL(38,0) partial sums run on the scan's
    # 3 local splits (~0.6 s of the query). A spread() fan-out was
    # A/B-tested and LOST (+0.13 med): the keyless repartition's
    # sort-before-repartition plus the 4-column exchange costs more
    # than the extra parallelism saves. At any real scale the scan has
    # ≥ parallelism splits and the question disappears.
    sums = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.sum(q.cast(dec)).alias("sq"),
            F.sum((q * q).cast(dec)).alias("sqq"),
            F.sum(p.cast(dec)).alias("sp"),
            F.sum((p * p).cast(dec)).alias("spp"),
            F.sum((q * p).cast(dec)).alias("sqp"),
            F.sum(d.cast(dec)).alias("sd"),
            F.sum((q * d).cast(dec)).alias("sqd"),
        )
    )
    n = F.col("n").cast("double")
    sq = F.col("sq").cast("double")
    sqq = F.col("sqq").cast("double")
    sp = F.col("sp").cast("double")
    spp = F.col("spp").cast("double")
    sqp = F.col("sqp").cast("double")
    sd = F.col("sd").cast("double")
    sqd = F.col("sqd").cast("double")
    var_raw = (sqq - sq * sq / n) / (n - F.lit(1.0))
    corr_raw = (sqp - sq * sp / n) / (
        F.sqrt(sqq - sq * sq / n) * F.sqrt(spp - sp * sp / n)
    )
    cov_raw = (sqd - sq * sd / n) / n / F.lit(100.0)
    return (
        sums.select(
            "l_returnflag",
            round_half_up(F.sqrt(var_raw), 2).alias("sd_qty"),
            round_half_up(var_raw, 2).alias("var_qty"),
            # + 0.0 collapses IEEE -0.0 to +0.0 (DuckDB's round keeps the
            # sign of zero; Spark's normalizes) — mirrored in the oracle.
            (round_half_up(corr_raw, 3) + F.lit(0.0)).alias("corr_qp"),
            (round_half_up(cov_raw, 3) + F.lit(0.0)).alias("cov_qd"),
        )
        .orderBy("l_returnflag")
    )


def q42_min_max_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """min_by/max_by (argmin/argmax) — deterministic because the
    ordering value c_custkey is unique per group."""
    return (
        _t(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(
            F.max_by("c_name", "c_custkey").alias("max_name"),
            F.min_by("c_name", "c_custkey").alias("min_name"),
        )
        .orderBy("c_nationkey")
    )


def q43_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY + HAVING (post-aggregation filter). Catalyst places the
    filter after the final agg; the partial agg still combines map-side."""
    return (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.count("*").alias("n_orders"),
            _exact_money_sum(_cents(F.col("o_totalprice")), "total"),
        )
        .filter(F.col("n_orders") >= 15)
        .orderBy("o_custkey")
    )


def q44_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative-rank analytics (percent_rank, cume_dist) with a
    deterministic tie-broken order."""
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") <= 200)
        .select(
            "c_custkey",
            "c_mktsegment",
            # percent_rank/cume_dist are k/n ratios that CAN land
            # exactly on 10⁻⁴ midpoints (e.g. 1/32 → 312.5e-4) — the
            # floor contract is load-bearing here, not just uniformity
            round_half_up(F.percent_rank().over(w), 4).alias("pr"),
            round_half_up(F.cume_dist().over(w), 4).alias("cd"),
        )
        .orderBy("c_custkey")
    )


def q45_interval_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timestamp/date interval arithmetic — add an interval, date_add,
    and a day-difference against a pinned date."""
    return (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_id") < 50)
        .select(
            "event_id",
            (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("ts_plus_h"),
            F.date_add(F.col("ts").cast("date"), 30).alias("d_plus_30"),
            F.datediff(
                F.to_date(F.lit("2025-01-01")), F.col("ts").cast("date")
            ).alias("days_to_2025"),
        )
        .orderBy("event_id")
    )


def q46_uncorrelated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery in a predicate. Spark executes the
    subquery once (its own tiny job) and folds the result into the main
    scan's filter — at scale the fact side is still a single pushed-down
    scan, no join materializes."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT c_custkey,
               CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) / 100.0D AS bal
        FROM customer
        WHERE c_acctbal > (SELECT avg(c_acctbal) * 1.5 FROM customer)
        ORDER BY c_custkey
        """
    )


def q47_sorted_list_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive list aggregation: collect_list is
    partition-order-dependent, so the deterministic form is
    array_join(array_sort(...)) — the only safe way to hash-compare a
    list agg across engines."""
    return (
        _t(spark, sf_dir, "nation")
        .groupBy("n_regionkey")
        .agg(
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias(
                "nations"
            )
        )
        .orderBy("n_regionkey")
    )


def q48_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise expression family (AND/XOR/shift) — pure codegen'd
    integer ops, stays entirely inside whole-stage codegen."""
    return (
        _t(spark, sf_dir, "events")
        .select(
            F.col("user_id").bitwiseAND(F.lit(7)).alias("band"),
            F.col("event_id").bitwiseXOR(F.col("user_id")).alias("x"),
            F.shiftleft(F.col("user_id"), 2).alias("s"),
        )
        .groupBy("band")
        .agg(
            F.count("*").alias("cnt"),
            F.sum("x").alias("sum_x"),
            F.sum("s").alias("sum_s"),
        )
        .orderBy("band")
    )


def q49_array_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions (filter/exists/position/max) over
    the embedding column — all JVM-side codegen'd expressions, no
    Python. Predicates compare exact float values, so the results are
    bit-stable across engines (no float summation involved)."""
    emb = F.col("embedding")
    return (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 100)
        .select(
            "vec_id",
            F.size(F.filter(emb, lambda x: x > 0)).cast("bigint").alias("n_pos"),
            F.array_position(emb, F.array_max(emb)).alias("argmax"),
            F.exists(emb, lambda x: x > 2.0).alias("has_big"),
        )
        .orderBy("vec_id")
    )


def q50_map_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON string → typed map (from_json) + map functions
    (map_keys/element_at/size). The parse happens once per row inside
    codegen; at 100 TB the better layout is parsing props at ingest
    into a proper MapType column, which this operator also models."""
    m = F.from_json("props", "map<string,int>")
    return (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_id") < 50)
        .select(
            "event_id",
            F.array_join(F.array_sort(F.map_keys(m)), ",").alias("keys"),
            F.element_at(m, F.lit("k")).alias("k_val"),
            F.size(F.map_keys(m)).cast("bigint").alias("n_keys"),
        )
        .orderBy("event_id")
    )


def q51_struct_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested struct construction + field access: max_by over a struct
    value (argmax returning a record, then projected by field).
    Deterministic because the ordering key c_custkey is unique."""
    top = F.max_by(
        F.struct(
            F.col("c_acctbal").alias("bal"), F.col("c_name").alias("name")
        ),
        F.col("c_custkey"),
    )
    return (
        _t(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(top.alias("top"))
        .select(
            "c_nationkey",
            round_half_up(F.col("top.bal"), 2).alias("top_bal"),
            F.col("top.name").alias("top_name"),
        )
        .orderBy("c_nationkey")
    )


def q52_except_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset set ops (EXCEPT ALL / INTERSECT ALL) — Spark plans these
    as aggregate+generate (no sort), preserving duplicate counts; the
    per-key histogram output makes the result order-insensitive."""
    cust = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("k"))
    supp = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("k"))
    ex = (
        cust.exceptAll(supp)
        .groupBy("k")
        .agg(F.count("*").alias("cnt"))
        .withColumn("op", F.lit("except_all"))
    )
    inter = (
        cust.intersectAll(supp)
        .groupBy("k")
        .agg(F.count("*").alias("cnt"))
        .withColumn("op", F.lit("intersect_all"))
    )
    return ex.unionByName(inter).select("op", "k", "cnt").orderBy("op", "k")


def q53_string_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String transform family: global regexp_replace, translate,
    lpad, reverse — all codegen'd expressions (DuckDB's regexp_replace
    needs the 'g' flag for the same replace-all semantics)."""
    return (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 30)
        .select(
            "doc_id",
            F.length(F.regexp_replace("text", "[aeiou]", "")).alias("n_novowel"),
            F.translate("source", "src", "SRC").alias("src_u"),
            F.lpad("lang", 5, "_").alias("lang_pad"),
            F.reverse(F.col("lang")).alias("lang_rev"),
        )
        .orderBy("doc_id")
    )


def q54_time_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time RANGE frame (interval-bounded sliding window over
    ts). Value-range frames are order-insensitive within ts peers, so
    the result is deterministic even with duplicate timestamps. At
    scale: one shuffle by user_id, then a sorted streaming frame scan."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT event_id,
               count(*) OVER w AS cnt_1h,
               CAST(floor(sum(value) OVER w * 100 + 0.5) AS BIGINT) / 100.0D
                 AS sum_1h
        FROM events WHERE user_id <= 5
        WINDOW w AS (PARTITION BY user_id ORDER BY ts
                     RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
        ORDER BY event_id
        """
    )


def q55_null_least_greatest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-handling scalar family: nullif/ifnull/coalesce plus
    least/greatest — pure codegen expressions."""
    banded = F.nullif(F.pmod(F.floor("value").cast("bigint"), F.lit(3)), F.lit(0))
    return (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_id") < 60)
        .select(
            "event_id",
            banded.alias("band_nz"),
            F.coalesce(banded, F.lit(-1)).alias("band_filled"),
            round_half_up(F.least(F.col("value"), F.lit(100.0)), 2).alias(
                "capped"
            ),
            round_half_up(F.greatest(F.col("value"), F.lit(10.0)), 2).alias(
                "floored"
            ),
        )
        .orderBy("event_id")
    )


def q56_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (wide → long melt) over a grouped aggregate — the
    inverse of q35's pivot. Spark plans this as Expand (no shuffle
    beyond the aggregation's own)."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT event_type, metric,
               CAST(floor(val * 100 + 0.5) AS BIGINT) / 100.0D AS val FROM (
          SELECT event_type,
                 CAST(floor(CAST(sum(CAST(CAST(floor(value * 100 + 0.5)
                                               AS BIGINT)
                                          AS DECIMAL(38,0))) AS DOUBLE)
                            / 100.0 * 100 + 0.5) AS BIGINT) / 100.0D AS total,
                 CAST(floor(CAST(sum(CAST(CAST(floor(value * 100 + 0.5)
                                               AS BIGINT)
                                          AS DECIMAL(38,0))) AS DOUBLE)
                            / CAST(count(*) AS DOUBLE) / 100.0
                            * 100 + 0.5) AS BIGINT) / 100.0D AS mean,
                 CAST(count(*) AS DOUBLE) AS cnt
          FROM events GROUP BY event_type
        ) UNPIVOT (val FOR metric IN (total, mean, cnt))
        ORDER BY event_type, metric
        """
    )


def q57_lateral_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery join (per-nation aggregate computed
    in a lateral derived table). Catalyst decorrelates it into the
    same aggregate+join a hand-written plan would use."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT n_name, t.n_cust, t.max_bal
        FROM nation,
        LATERAL (
          SELECT count(*) AS n_cust,
                 CAST(floor(max(c_acctbal) * 100 + 0.5) AS BIGINT) / 100.0D
                   AS max_bal
          FROM customer WHERE c_nationkey = n_nationkey
        ) t
        ORDER BY n_name
        """
    )


def q58_ignore_nulls_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IGNORE NULLS window functions — last-observation-carried-forward
    (the canonical gap-fill for sensor/event streams): carry each
    user's last non-error value forward over an ordered frame."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT event_id,
               CAST(floor(
                 last_value(CASE WHEN event_type = 'error' THEN NULL
                                 ELSE value END) IGNORE NULLS
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 * 100 + 0.5) AS BIGINT) / 100.0D AS carried
        FROM events WHERE user_id <= 8
        ORDER BY event_id
        """
    )


def q59_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL (grouping keys inferred from the select list) —
    identical semantics to listing the keys; the plan is the same
    partial+final hash aggregate."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT event_type, user_id % 10 AS bucket, count(*) AS cnt,
               CAST(floor(
                 CAST(sum(CAST(CAST(floor(value * 100 + 0.5) AS BIGINT)
                               AS DECIMAL(38,0))) AS DOUBLE)
                 / 100.0 * 100 + 0.5) AS BIGINT) / 100.0D AS total
        FROM events GROUP BY ALL
        ORDER BY event_type, bucket
        """
    )


def q60_date_series_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense calendar fill: generate the full date range (sequence +
    explode), left-join per-day counts, zero-fill gaps. The generated
    calendar is metadata-sized → broadcast; the fact side aggregates
    before the join so the join input is |days|, not |events|."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT cal.d, coalesce(e.cnt, 0) AS cnt
        FROM (
          SELECT explode(sequence(DATE'2024-01-01', DATE'2024-01-30')) AS d
        ) cal
        LEFT JOIN (
          SELECT CAST(ts AS DATE) AS ed, count(*) AS cnt
          FROM events GROUP BY CAST(ts AS DATE)
        ) e ON cal.d = e.ed
        ORDER BY cal.d
        """
    )


def q61_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4 WITH RECURSIVE): walk an implicit binary
    tree over the 25 nations (parent(k) = floor((k-1)/2)) and report the
    node population per depth. Exercises the iterative UnionLoop plan —
    each iteration is a broadcast-joinable frontier (≤ |nation| rows),
    so at scale the recursion depth, not the fact size, bounds cost."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        WITH RECURSIVE tree AS (
          SELECT n_nationkey AS k, 0 AS depth FROM nation WHERE n_nationkey = 0
          UNION ALL
          SELECT n.n_nationkey, t.depth + 1
          FROM nation n JOIN tree t
            ON CAST(floor((n.n_nationkey - 1) / 2.0) AS INT) = t.k
          WHERE n.n_nationkey > 0
        )
        SELECT depth, count(*) AS cnt, min(k) AS min_k, max(k) AS max_k
        FROM tree GROUP BY depth ORDER BY depth
        """
    )


def q62_bool_agg_cume_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregates (bool_and/bool_or) + cume_dist window +
    FILTER-clause conditional count. cume_dist output is folded through
    an exact integer compare (n/N is the same double in both engines),
    never hashed as a float."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        WITH cd AS (
          SELECT c_mktsegment, c_acctbal,
                 cume_dist() OVER (PARTITION BY c_mktsegment
                                   ORDER BY c_acctbal, c_custkey) AS cd
          FROM customer
        )
        SELECT c_mktsegment,
               bool_and(c_acctbal > -1000.0) AS none_deep_negative,
               bool_or(c_acctbal > 9000.0) AS any_rich,
               count(*) FILTER (WHERE cd <= 0.1) AS bottom_decile_cnt,
               count(*) AS cnt
        FROM cd GROUP BY c_mktsegment ORDER BY c_mktsegment
        """
    )


def q63_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-safe ``try_`` functions: try_divide → NULL on zero divisor,
    try_cast → NULL on malformed input (the oracle derives the same
    semantics from CASE/NULLIF — an independent derivation, not a
    dialect copy). Pure map stage, whole-stage codegen."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT event_id,
               floor(try_divide(value, CAST(user_id % 3 AS DOUBLE)) * 100
                     + 0.5) / 100 AS ratio,
               try_cast(regexp_extract(props, '[0-9]+', 0) AS INT) AS k_val,
               try_cast(event_type AS INT) AS not_numeric
        FROM events WHERE event_id < 60 ORDER BY event_id
        """
    )


def q64_width_bucket_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram via width_bucket over order totals — the
    single-pass profiling scan every ingest pipeline runs. Partial+final
    hash agg on a 13-value key; no shuffle of fact rows beyond the
    13-group exchange."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT width_bucket(o_totalprice, 0.0, 600000.0, 12) AS bucket,
               count(*) AS cnt,
               CAST(floor(min(o_totalprice) * 100 + 0.5) AS BIGINT) / 100.0D
                 AS lo,
               CAST(floor(max(o_totalprice) * 100 + 0.5) AS BIGINT) / 100.0D
                 AS hi
        FROM orders GROUP BY bucket ORDER BY bucket
        """
    )


def q65_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (signup → later click → later
    purchase) — the sequence-match query behind every product-analytics
    funnel. One window pass per user (the q28 as-of carry pattern,
    chained): carry the earliest signup time forward, mark clicks after
    it, carry the earliest such click, mark purchases after that; then
    one aggregate counts users surviving each stage. At 100 TB this is
    a single shuffle by user_id + codegen conditionals — no self-joins,
    no per-stage scans."""
    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("signup", "click", "purchase")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    signup_ts = F.when(F.col("event_type") == "signup", F.col("ts"))
    carried_signup = F.min(signup_ts).over(w)
    staged = ev.withColumn("t_signup", carried_signup)
    click_after = F.when(
        (F.col("event_type") == "click")
        & F.col("t_signup").isNotNull()
        & (F.col("ts") > F.col("t_signup")),
        F.col("ts"),
    )
    staged = staged.withColumn("t_click", F.min(click_after).over(w))
    purchase_ok = (
        (F.col("event_type") == "purchase")
        & F.col("t_click").isNotNull()
        & (F.col("ts") > F.col("t_click"))
    )
    per_user = staged.groupBy("user_id").agg(
        F.max(F.col("t_signup").isNotNull().cast("int")).alias("s1"),
        F.max(F.col("t_click").isNotNull().cast("int")).alias("s2"),
        F.max(purchase_ok.cast("int")).alias("s3"),
    )
    return per_user.agg(
        F.count("*").alias("users"),
        F.sum("s1").alias("signed_up"),
        F.sum("s2").alias("clicked_after"),
        F.sum("s3").alias("purchased_after"),
    )


def q66_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts — the standard growth-analytics matrix:
    users bucketed by signup week, counted distinct in each subsequent
    activity week (offset 0–3). One broadcast-size signup relation
    (first signup per user) joins back to the event stream; conditional
    count-distincts pivot the offsets to columns. At scale: the signup
    relation is |users|-sized (broadcast or shuffled by user_id — the
    same key the event join needs), and the distinct counts are the
    only shuffle-heavy step, swappable for HLL++ at extreme
    cardinality (a01's posture)."""
    ev = _t(spark, sf_dir, "events")
    signups = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
    )
    acts = ev.join(signups, "user_id").filter(F.col("ts") >= F.col("t0"))
    week_off = F.expr(
        "datediff(cast(ts as date), cast(t0 as date)) DIV 7"
    ).cast("int")
    cohort = F.date_trunc("week", F.col("t0")).cast("date")
    staged = acts.select(
        cohort.alias("cohort"), week_off.alias("w"), "user_id"
    ).filter(F.col("w").between(0, 3))
    # two-level distinct: reduce to unique (cohort, w, user) rows FIRST
    # (map-side partial distinct), then plain conditional counts — a
    # 4-way count(DISTINCT CASE ...) would plan an Expand that shuffles
    # the activity stream 4×; this shape shuffles it once
    return (
        staged.distinct()
        .groupBy("cohort")
        .agg(
            *[
                F.count(F.when(F.col("w") == i, 1)).alias(f"w{i}")
                for i in range(4)
            ]
        )
        .orderBy("cohort")
    )


SESSION_GAP_SEC = 1800


def q67_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based batch sessionization (30-min inactivity cutoff) — the
    batch twin of the streaming session window (SURVEY §2 row 54): a
    session break is a gap > the cutoff, the session id is the running
    count of breaks, output is the session-length histogram.

    One shuffle by user_id serves both window passes (lag for the gap
    flag, running sum for the session id — same partitioning, Catalyst
    plans a single Exchange), then a partial+final agg per (user,
    session) and a tiny histogram agg. No self-joins, no global window;
    at 100 TB this is the canonical one-shuffle sessionize."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    is_new = F.when(gap.isNull() | (gap > SESSION_GAP_SEC), 1).otherwise(0)
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = ev.select(
        "user_id", "ts", "event_id", F.sum(is_new).over(wc).alias("sid")
    )
    per_session = sess.groupBy("user_id", "sid").agg(
        F.count("*").alias("n_events")
    )
    return (
        per_session.groupBy("n_events")
        .agg(F.count("*").alias("n_sessions"))
        .orderBy("n_events")
    )


def q68_scd_dimension_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 as-of dimension join — the warehouse pattern for
    versioned dimensions: each fact row joins the dimension version in
    effect at its event date. Versions are fabricated deterministically
    (3 per customer, effective 1994 + v·800 + key%365 days).

    Scale shape: validity INTERVALS are derived on the dimension side
    (one lead() window over the dim — |dim| ≪ |facts|), so the join
    predicate ``eff_from ≤ d < eff_to`` matches each fact to EXACTLY
    one version: no per-fact dedup window, no |facts|-keyed shuffle.
    The versioned dim broadcasts; the fact table never shuffles before
    the final 15-row aggregate. Revenue sums as exact integer cents."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    versions = cust.select(
        "c_custkey",
        "c_mktsegment",
        F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("v"),
    ).withColumn(
        "eff_from",
        F.date_add(
            F.lit("1994-01-01").cast("date"),
            (F.col("v") * 800 + F.pmod("c_custkey", F.lit(365))).cast("int"),
        ),
    )
    wv = Window.partitionBy("c_custkey").orderBy("v")
    versions = versions.withColumn("eff_to", F.lead("eff_from").over(wv))
    d = F.col("o_orderdate").cast("date")
    j = orders.join(
        F.broadcast(versions),
        (F.col("o_custkey") == F.col("c_custkey"))
        & (F.col("eff_from") <= d)
        & (F.col("eff_to").isNull() | (d < F.col("eff_to"))),
    )
    return (
        j.groupBy(
            F.concat(
                F.col("c_mktsegment"), F.lit("/v"), F.col("v").cast("string")
            ).alias("seg_version")
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100).cast("bigint")
            ).alias("revenue_cents"),
        )
        .orderBy("seg_version")
    )


def q69_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE/upsert expressed relationally (Spark's MERGE INTO needs a
    v2 catalog; the engine-level pattern is a full-outer join keyed on
    the merge key): apply per-user activity deltas to the customer
    balance table — matched rows update, source-only keys insert,
    target-only rows carry through. A slice of the delta stream
    (event_id % 11 = 0) is routed to shifted user ids to exercise the
    insert branch deterministically.

    Exact-integer money (floor-cents per row before any aggregation).
    Scale shape: deltas pre-aggregate to one row per key (map-side
    partial) BEFORE the merge join, so the join is |keys|-sized on the
    source side; the full-outer join shuffles both sides by the merge
    key — exactly the co-partitioning a production MERGE needs (and
    what bucketing the target table by key would make shuffle-free).
    Output: per-action audit (rows, total balance cents)."""
    cust = _t(spark, sf_dir, "customer")
    ev = _t(spark, sf_dir, "events")
    tgt = cust.select(
        "c_custkey",
        F.floor(F.col("c_acctbal") * 100).cast("bigint").alias("bal_cents"),
    )
    upd = (
        ev.select(
            (
                F.col("user_id")
                + F.when(F.col("event_id") % 11 == 0, 10000).otherwise(0)
            ).alias("key"),
            F.floor(F.col("value") * 100).cast("bigint").alias("delta"),
        )
        .groupBy("key")
        .agg(F.sum("delta").alias("delta_cents"))
    )
    m = tgt.join(upd, tgt.c_custkey == upd.key, "full_outer")
    action = (
        F.when(F.col("c_custkey").isNull(), "insert")
        .when(F.col("key").isNull(), "keep")
        .otherwise("update")
    )
    new_bal = F.coalesce("bal_cents", F.lit(0)) + F.coalesce(
        "delta_cents", F.lit(0)
    )
    return (
        m.select(action.alias("action"), new_bal.alias("new_bal"))
        .groupBy("action")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("new_bal").alias("total_cents"),
        )
        .orderBy("action")
    )


def a03_hll_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup (Apache DataSketches HLL via Spark's
    ``hll_sketch_agg``/``hll_union_agg``): build one distinct-user
    sketch PER DAY, then union the daily sketches into weekly
    estimates — the production pattern for incremental distinct counts
    (daily sketches are materialized once; any rollup window is a
    cheap sketch union, never a re-scan of raw events; sketches also
    merge across late/backfill partitions, which a plain
    approx_count_distinct result cannot).

    Engine-specific binary sketch (like a01/a02): driver records
    rows-only; pytest bounds each weekly estimate within 5% of the
    exact count."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("day", "ts").alias("day")
    ).agg(F.hll_sketch_agg("user_id", 14).alias("sk"))
    return (
        daily.groupBy(F.date_trunc("week", "day").cast("date").alias("week"))
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_users"),
            F.count("*").alias("n_days"),
        )
        .orderBy("week")
    )


SKETCH_K = 128  # centroids per quantile sketch (error ~ 1/K of rank)


def _sketch_compress(vals, weights, k: int = SKETCH_K):
    """Weighted values → ≤k equi-depth centroids (means + weights).

    The compress step of a mergeable quantile summary: sort by value,
    assign each point's mid-rank to one of k equal-mass buckets, emit
    each bucket's weighted mean and total weight. Rank error after
    compression is bounded by one bucket (~total/k). Deterministic
    under input-row reordering: ties sort by (value, weight), and
    equal pairs are interchangeable."""
    import numpy as np

    order = np.lexsort((weights, vals))
    v = vals[order]
    w = weights[order]
    cw = np.cumsum(w)
    total = cw[-1]
    mid = cw - w / 2.0
    b = np.minimum((mid / total * k).astype(np.int64), k - 1)
    sums = np.bincount(b, weights=v * w, minlength=k)
    ws = np.bincount(b, weights=w, minlength=k)
    nz = ws > 0
    return sums[nz] / ws[nz], ws[nz]


def _sketch_quantile(vals, weights, q: float) -> float:
    """Weighted mid-rank quantile over sorted centroid arrays."""
    import numpy as np

    cw = np.cumsum(weights)
    idx = np.searchsorted(cw - weights / 2.0, q * cw[-1])
    return float(vals[min(idx, len(vals) - 1)])


def a04_quantile_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile-sketch rollup — a03's pattern for percentiles:
    build one equi-depth value sketch PER DAY (sorted centroid means +
    weights, ≤``SKETCH_K`` entries), then merge the daily sketches into
    weekly p50/p90/p99 estimates. Daily sketches are built once and any
    rollup window is a cheap centroid merge — never a re-scan of raw
    events — and sketches merge across late/backfill partitions, which
    a plain ``approx_percentile`` result cannot (its output is a number,
    not a mergeable state).

    Spark shape: two ``applyInPandas`` grouped maps (day-level compress,
    week-level merge+estimate) — each group's state is ≤K centroids, so
    the weekly merge shuffles kilobytes per week regardless of event
    volume. Engine-specific sketch (like a01–a03): driver records
    rows-only; pytest bounds every estimate within the sketch's one-
    bucket rank-error guarantee against exact percentiles."""
    import pandas as pd

    ev = _t(spark, sf_dir, "events").select(
        F.date_trunc("day", "ts").alias("day"), F.col("value")
    )

    def day_sketch(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

        vals = pdf["value"].to_numpy(dtype=np.float64)
        means, ws = _sketch_compress(vals, np.ones_like(vals))
        return pd.DataFrame(
            {
                "day": [pdf["day"].iloc[0]],
                "means": [means.tolist()],
                "weights": [ws.tolist()],
            }
        )

    daily = ev.groupBy("day").applyInPandas(
        day_sketch, schema="day timestamp_ntz, means array<double>, weights array<double>"
    )

    def week_merge(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

        vals = np.concatenate([np.asarray(m) for m in pdf["means"]])
        ws = np.concatenate([np.asarray(w) for w in pdf["weights"]])
        means, mws = _sketch_compress(vals, ws)
        return pd.DataFrame(
            {
                "week": [pdf["week"].iloc[0]],
                "n_days": [len(pdf)],
                "p50": [round(_sketch_quantile(means, mws, 0.50), 2)],
                "p90": [round(_sketch_quantile(means, mws, 0.90), 2)],
                "p99": [round(_sketch_quantile(means, mws, 0.99), 2)],
            }
        )

    return (
        daily.withColumn("week", F.date_trunc("week", "day").cast("date"))
        .groupBy("week")
        .applyInPandas(
            week_merge,
            schema="week date, n_days long, p50 double, p90 double, p99 double",
        )
        .orderBy("week")
    )


def a05_kll_quantile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native mergeable quantile rollup (Apache DataSketches KLL via
    Spark's ``kll_sketch_agg_double``/``kll_merge_agg_double``): one
    value sketch PER DAY, daily sketches merged into weekly p50/p90/p99
    — the all-JVM production twin of a04's hand-built applyInPandas
    sketch (a04 demonstrates the custom-operator pattern; this is what
    you deploy when the engine ships the sketch). Same scaling story as
    a03: materialized daily sketches make any rollup window a
    kilobyte-scale merge and absorb late/backfill partitions.

    Engine-specific sketch → rows-only driver check; pytest bounds the
    merged estimates against exact percentiles (T5e)."""
    ev = _t(spark, sf_dir, "events").select(
        F.date_trunc("day", "ts").alias("day"), "value"
    )
    daily = ev.groupBy("day").agg(
        F.kll_sketch_agg_double("value").alias("sk")
    )
    weekly = daily.groupBy(
        F.date_trunc("week", "day").cast("date").alias("week")
    ).agg(
        F.kll_merge_agg_double("sk").alias("sk"),
        F.count("*").alias("n_days"),
    )
    q = lambda p, name: F.round(  # noqa: E731
        F.kll_sketch_get_quantile_double("sk", F.lit(p)), 2
    ).alias(name)
    return weekly.select(
        "week", "n_days", q(0.5, "p50"), q(0.9, "p90"), q(0.99, "p99")
    ).orderBy("week")


AUDIENCE_VALUE_MIN = 180  # high-severity threshold for the a06 cohort


def a06_theta_audience_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap rollup via Theta sketches — the set algebra HLL
    cannot do: weekly sketches of distinct high-severity error
    reporters (event_type='error', value>threshold), then per week-
    over-week pair the INTERSECTION (retained), DIFFERENCE both ways
    (churned / new), and the estimate itself. Materialized weekly
    sketches answer any retention/churn/overlap question by sketch
    algebra over kilobytes — at 100 TB the raw-event re-scan each such
    question would otherwise cost is the whole game.

    The lag window runs over the per-week sketch relation (one row per
    week — driver-side scale, like s07's per-window rank). Engine-
    specific sketch → rows-only driver check; pytest compares every
    estimate against exact distinct-set arithmetic (T5f; the cohorts
    are far below the sketch's exact-mode threshold, so estimates are
    exact there)."""
    ev = _t(spark, sf_dir, "events")
    weekly = (
        ev.filter(
            (F.col("event_type") == "error")
            & (F.col("value") > AUDIENCE_VALUE_MIN)
        )
        .groupBy(F.date_trunc("week", "ts").cast("date").alias("week"))
        .agg(F.theta_sketch_agg("user_id").alias("sk"))
    )
    w = Window.orderBy("week")  # per-week relation: a handful of rows
    paired = weekly.withColumn("prev_sk", F.lag("sk").over(w))
    est = lambda c: F.round(F.theta_sketch_estimate(c), 0).cast("long")  # noqa: E731
    return (
        paired.select(
            "week",
            est(F.col("sk")).alias("active"),
            F.when(
                F.col("prev_sk").isNull(), F.lit(None).cast("long")
            ).otherwise(
                est(F.theta_intersection("prev_sk", "sk"))
            ).alias("retained"),
            F.when(
                F.col("prev_sk").isNull(), F.lit(None).cast("long")
            ).otherwise(
                est(F.theta_difference("prev_sk", "sk"))
            ).alias("churned"),
            F.when(
                F.col("prev_sk").isNull(), F.lit(None).cast("long")
            ).otherwise(
                est(F.theta_difference("sk", "prev_sk"))
            ).alias("new_users"),
        )
        .orderBy("week")
    )


HH_K = 200  # heavy hitter ⟺ token count ≥ total_tokens / HH_K


def a07_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT corpus heavy hitters (tokens with count ≥ n/``HH_K``) via
    merged Misra–Gries candidate summaries + an exact verify pass —
    the candidate/verify pattern that never shuffles the full
    distinct-token relation (two token-stream explode passes —
    summaries, verify — plus one explode-free ``size()`` scan for
    n_toks since r12; each shuffles at most K rows or one long).

    Why not a plain groupBy: at 100 TB the token relation's distinct
    shuffle IS the cost (billions of keys, nearly all far below the
    threshold). Misra–Gries bounds each partition's summary at
    ``HH_K`` counters, so the candidate stage ships ≤ K (token, count)
    rows per partition regardless of input size, and mergeability
    (Agarwal et al., "Mergeable Summaries", PODS'12) lets the
    partition summaries MERGE INTO ONE GLOBAL MG SUMMARY of ≤ K
    candidates: sum the counters per token, then apply the same
    (K+1)-th-largest decrement globally. Total undercount across the
    per-partition prunes plus the merge prune stays ≤ n/(K+1), so
    every token with true count ≥ n/K > n/(K+1) survives — the ≤ K
    candidates provably contain all true heavy hitters, and the
    verify-side broadcast is bounded by K, never by K·partitions.
    The verify pass semi-joins the token stream against the broadcast
    candidates and counts exactly: precision exact by construction,
    recall exact by the MG bound, so the operator is oracle-checkable
    (unlike a01–a06's approximate sketches).

    The per-partition summary runs in ``mapInPandas`` with VECTORIZED
    batch merges (value_counts + the (K+1)-th-largest subtraction —
    the classic MG decrement generalized to batches); no per-row
    Python. The merge prune's threshold comes off a ≤(K+1)-row driver
    collect over the already-aggregated summary relation — a bounded
    artifact like a broadcast build side."""
    toks = (
        spread(_t(spark, sf_dir, "documents"))
        .select(
            F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok")
        )
    )

    def mg_partition(batches):
        import pandas as pd

        counts = None
        for pdf in batches:
            vc = pdf["tok"].value_counts()
            counts = (
                vc
                if counts is None
                else counts.add(vc, fill_value=0).astype("int64")
            )
            if len(counts) > HH_K:
                # batched MG decrement: subtracting the (K+1)-th
                # largest count from ALL counters drops at least
                # len-K entries to ≤0, keeping ≤K survivors; the
                # subtraction total per token bounds the undercount
                thresh = counts.nlargest(HH_K + 1).iloc[-1]
                counts = counts - thresh
                counts = counts[counts > 0]
        if counts is not None and len(counts):
            yield pd.DataFrame(
                {
                    "tok": counts.index.astype(str),
                    "cnt": counts.to_numpy(),
                }
            )

    merged = (
        toks.mapInPandas(mg_partition, "tok string, cnt long")
        .groupBy("tok")
        .agg(F.sum("cnt").alias("c"))
    )
    # global MG merge prune, executed EXACTLY ONCE: collect the top
    # K+1 (token, counter) rows — every candidate that can survive the
    # (K+1)-th-largest decrement is among them — and rebuild the ≤K
    # survivors as a literal relation. Filtering a lazy `merged` here
    # instead would re-execute the summary job at action time and
    # apply this run's threshold to a second run's counters, voiding
    # the ≤ n/(K+1) undercount bound under any nondeterminism.
    top = (
        merged.orderBy(F.desc("c"), "tok").limit(HH_K + 1).collect()
    )
    if len(top) > HH_K:
        cut = top[-1].c
        cand_toks = [r.tok for r in top if r.c > cut]
    else:
        cand_toks = [r.tok for r in top]
    cands = spark.createDataFrame(
        [(t,) for t in cand_toks], "tok string"
    )
    # r12: n_toks = Σ size(token array) straight off the scan — the
    # same BIGINT as count(*) over the exploded stream (split never
    # yields an empty array) without paying a third explode pass
    total = (
        spread(_t(spark, sf_dir, "documents"))
        .agg(
            F.sum(
                F.size(F.split(F.trim(F.col("text")), r"\s+"))
            ).alias("n_toks")
        )
    )
    return (
        toks.join(F.broadcast(cands), "tok")
        .groupBy("tok")
        .agg(F.count("*").alias("cnt"))
        .join(F.broadcast(total))
        .filter(F.col("cnt") * HH_K >= F.col("n_toks"))
        .select("tok", "cnt")
        .orderBy(F.desc("cnt"), "tok")
    )


CMS_DEPTH = 4  # CMS hash rows
CMS_WIDTH = 1024  # CMS counters per row (ε ≈ e/W overestimate bound)
#: fixed odd multipliers for the multiply-shift hash family — the
#: sketch must hash IDENTICALLY on every executor and every day for
#: daily matrices to be mergeable by element-wise addition
_CMS_A = (
    0x9E3779B97F4A7C15,
    0xC2B2AE3D27D4EB4F,
    0x165667B19E3779F9,
    0x27D4EB2F165667C5,
)
#: fixed probe set: the users whose weekly frequency the rollup reports
CMS_PROBE_USERS = tuple(range(0, 100, 10))


def _cms_hash(i: int, ids):
    """Row-``i`` multiply-shift bucket for an int64 id array (numpy).

    Takes the TOP log2(W) bits of the 64-bit product (shift by
    64 − log2(W) = 54): multiply-shift is only a universal family —
    which the (e/W)·N CMS overcount bound relies on — when the bucket
    comes from the high product bits, not middle bits mod W.
    """
    import numpy as np

    a = np.uint64(_CMS_A[i])
    return (
        ((ids.astype(np.uint64) + np.uint64(1)) * a)
        >> np.uint64(64 - CMS_WIDTH.bit_length() + 1)
    ).astype(np.int64)


def a08_cms_freq_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable Count-Min frequency rollup — the sketch-family member
    for POINT-FREQUENCY queries (a03 answers distinct counts, a04/a05
    quantiles, a06 set algebra, a07 exact heavy hitters; CMS answers
    "how often did key x occur?" over any rollup window without
    re-scanning raw events).

    One D×W count matrix PER DAY (Cormode–Muthukrishnan CMS: D
    multiply-shift hash rows, W counters — 32 KB here), built in a
    grouped ``applyInPandas`` with vectorized ``np.add.at``; weekly
    rollup is ELEMENT-WISE MATRIX ADDITION (the defining mergeable
    property), then the probe users' weekly estimates read
    ``min_i M[i, h_i(u)]``. Estimates never undercount, and
    overcount ≤ (e/W)·N with prob 1−δ per probe — pytest asserts the
    sandwich against exact counts (engine-specific state → driver
    records rows-only, like a01–a06).

    At 100 TB: daily sketches are kilobytes regardless of event
    volume, so any weekly/monthly/backfill rollup is a metadata-sized
    merge; the probe-set estimate never touches raw events again.
    """
    import pandas as pd

    ev = _t(spark, sf_dir, "events").select(
        F.date_trunc("day", "ts").alias("day"), "user_id"
    )

    def day_sketch(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

        ids = pdf["user_id"].to_numpy(dtype=np.int64)
        m = np.zeros((CMS_DEPTH, CMS_WIDTH), dtype=np.int64)
        for i in range(CMS_DEPTH):
            np.add.at(m[i], _cms_hash(i, ids), 1)
        return pd.DataFrame(
            {
                "day": [pdf["day"].iloc[0]],
                "cms": [m.reshape(-1).tolist()],
                "n": [len(pdf)],
            }
        )

    daily = ev.groupBy("day").applyInPandas(
        day_sketch, schema="day timestamp_ntz, cms array<long>, n long"
    )

    def week_estimate(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

        m = np.zeros((CMS_DEPTH, CMS_WIDTH), dtype=np.int64)
        for arr in pdf["cms"]:
            m += np.asarray(arr, dtype=np.int64).reshape(
                CMS_DEPTH, CMS_WIDTH
            )
        probes = np.asarray(CMS_PROBE_USERS, dtype=np.int64)
        est = np.min(
            np.stack(
                [m[i, _cms_hash(i, probes)] for i in range(CMS_DEPTH)]
            ),
            axis=0,
        )
        n_week = int(pdf["n"].sum())
        return pd.DataFrame(
            {
                "week": np.repeat(pdf["week"].iloc[0], len(probes)),
                "user_id": probes,
                "est": est,
                "n_events": np.int64(n_week),
            }
        )

    return (
        daily.withColumn("week", F.date_trunc("week", "day").cast("date"))
        .groupBy("week")
        .applyInPandas(
            week_estimate,
            schema="week date, user_id long, est long, n_events long",
        )
        .orderBy("week", "user_id")
    )


# HLL sketch constants live in the Spark-free aw3d30_parquet_spark.
# constants module (queries.py embeds them into oracle SQL and must
# stay importable without pyspark); re-exported here because the a10
# operator below is their primary consumer.
from aw3d30_parquet_spark.constants import (  # noqa: E402
    HLL_ALPHA_NUM,
    HLL_M,
    HLL_P,
    HLL_RHO_MAX,
)


def a10_hll_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HyperLogLog distinct-user rollup with a FULL hash
    oracle — the hand-built, exactly-reproducible twin of a01's native
    ``approx_count_distinct`` (the a04↔a05 pattern applied to distinct
    counting, and the promotion a08 got for frequencies): daily
    256-register sketches, weekly rollup = element-wise register MAX
    (the defining mergeable property), estimate from the merged
    registers. Pure DataFrame ops — no UDF; the sketch build is a
    groupBy max, JVM-side end to end.

    Cross-engine exactness (why this can be hash-checked when a01
    cannot): the 60-bit hash is the md5-prefix integer both engines
    compute identically (v03/v04's promotion device); rho is the
    TRAILING-zero rank — distribution-identical to the classic
    leading-zero rho for uniform hash bits (P(rho=k)=2^-k either way)
    but computable EXACTLY as log2(w & -w) + 1, because w & -w is a
    power of two and IEEE log2 is exact on powers of two (float log2
    of arbitrary ints near 2^k boundaries is NOT safe — that rounding
    hazard is what rules the classic leading-zero form out); and the
    harmonic sum Σ 2^-R_j is carried as the exact BIGINT
    Σ 2^(53-R_j) (≤ 256·2^53 < 2^63), so the only float arithmetic in
    the whole operator is one constant/integer division per week.

    At 100 TB: daily sketches are 256 small ints per day regardless of
    event volume; any rollup window (week here, month, backfill) is a
    register-MAX merge over kilobytes — raw events are never
    re-scanned (reference src/main.rs has no sketch surface; this is
    SURVEY §2.4 training-pipeline scope).
    """
    ev = _t(spark, sf_dir, "events").select(
        F.date_trunc("day", "ts").alias("day"), "user_id"
    )
    h = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10
    ).cast("long")
    # integer shift, NOT `/` (float division would round a 60-bit hash
    # past double precision)
    w1 = F.shiftright(h, HLL_P) + F.lit(1 << 52).cast("long")
    rho = (F.log2(F.expr("w1 & -w1")) + F.lit(1)).cast("int")
    daily = (
        ev.select(
            "day", (h % HLL_M).cast("int").alias("j"), w1.alias("w1")
        )
        .withColumn("rho", rho)
        .groupBy("day", "j")
        .agg(F.max("rho").alias("r"))
    )
    weekly_reg = (
        daily.withColumn(
            "week", F.date_trunc("week", "day").cast("date")
        )
        .groupBy("week", "j")
        .agg(F.max("r").alias("r"))  # register MAX: the sketch merge
    )
    # SQL form: the python F.shiftleft binding takes a literal bit
    # count only, but the SQL function accepts a column expression
    term = F.expr(f"shiftleft(CAST(1 AS BIGINT), {HLL_RHO_MAX} - r)")
    return (
        weekly_reg.groupBy("week")
        .agg(
            F.sum(term).alias("s_hit"),
            F.count("*").alias("m_hit"),
        )
        .select(
            "week",
            # absent registers carry R=0 ⇒ term 2^53 each
            (
                F.col("s_hit")
                + (F.lit(HLL_M) - F.col("m_hit"))
                * F.lit(1 << HLL_RHO_MAX).cast("long")
            ).alias("s_int"),
            (F.lit(HLL_M) - F.col("m_hit")).alias("zero_registers"),
        )
        .withColumn("est_raw", F.lit(HLL_ALPHA_NUM) / F.col("s_int"))
        .withColumn(
            "est",
            # Flajolet's small-range correction: below 2.5m with empty
            # registers remaining, LINEAR COUNTING m·ln(m/V) is the
            # estimator (the raw harmonic form overshoots badly there —
            # measured 0.78 rel. err at n=150 vs 0.006 corrected). The
            # branch condition is exact-integer/identical-double on
            # both engines, so both take the same branch; ln is libm —
            # t07's accepted last-ulp class.
            round_half_up(
                F.when(
                    (F.col("est_raw") <= 2.5 * HLL_M)
                    & (F.col("zero_registers") > 0),
                    F.lit(float(HLL_M))
                    * F.log(
                        F.lit(float(HLL_M)) / F.col("zero_registers")
                    ),
                ).otherwise(F.col("est_raw")),
                4,
            ),
        )
        .drop("est_raw")
        .orderBy("week")
    )


ANOM_FRAME = 20  # trailing window size (rows) per user
ANOM_SIGMA_SQ = 9  # flag |z| > 3 ⟺ z² > 9


def q70_rolling_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection over the event stream — with
    the float-free trick that makes it oracle-exact: flag value v
    against its trailing-window mean/σ using the INTEGER inequality

        (v·n − s1)² > 9·(n·s2 − s1²)

    (⟺ z² > 9, multiplied through by n²σ²-denominators), where s1/s2
    are window sums of integer cents and their squares. No division,
    no sqrt, no float — the flag is bit-identical under any partial-agg
    merge order, which a naive stddev_samp window can never guarantee.

    One shuffle by user_id; both window sums share the frame; flags
    aggregate per event_type."""
    ev = _t(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100).cast("bigint")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-ANOM_FRAME, -1)
    )
    framed = ev.select(
        "event_type",
        cents.alias("v"),
        F.count("*").over(w).alias("n"),
        F.sum(cents).over(w).alias("s1"),
        F.sum(cents * cents).over(w).alias("s2"),
    ).filter(F.col("n") >= 5)  # need a minimally-formed baseline
    dev = F.col("v") * F.col("n") - F.col("s1")
    var_n2 = F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")
    flagged = framed.select(
        "event_type",
        (dev * dev > ANOM_SIGMA_SQ * var_n2).cast("int").alias("anom"),
    )
    return (
        flagged.groupBy("event_type")
        .agg(
            F.count("*").alias("n_scored"),
            F.sum("anom").alias("n_anomalies"),
        )
        .orderBy("event_type")
    )


def q71_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style snapshot diff: classify every key across two table
    versions as insert / delete / update / unchanged and emit a per-
    action audit — the change-detection pass that feeds incremental
    downstream rebuilds (only changed keys get reprocessed).

    The second snapshot is derived deterministically from the first
    (so both engines can reconstruct it): keys ≡0 (mod 97) are deleted,
    keys ≡0 (mod 13) get +500 cents, keys ≡0 (mod 101) are re-inserted
    shifted by 1 000 000 (the insert branch).

    Scale shape: change detection compares one 8-byte ``xxhash64``
    digest of the non-key payload per side, never the wide row — the
    full-outer join shuffles (key, digest) pairs only, so a 100-column
    100 TB table diffs at the cost of its key column. Digest equality ⟺
    payload equality (modulo 2⁻⁶⁴ collisions), so the action counts are
    hash-function-independent and the oracle compares values directly."""
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        _cents(F.col("c_acctbal")).alias("bal_cents"),
        "c_nationkey",
    )
    v2_base = cust.filter(F.col("c_custkey") % 97 != 0).select(
        "c_custkey",
        (
            F.col("bal_cents")
            + F.when(F.col("c_custkey") % 13 == 0, 500).otherwise(0)
        ).alias("bal_cents"),
        "c_nationkey",
    )
    inserts = cust.filter(F.col("c_custkey") % 101 == 0).select(
        (F.col("c_custkey") + 1_000_000).alias("c_custkey"),
        "bal_cents",
        "c_nationkey",
    )
    v2 = v2_base.unionByName(inserts)

    def digested(df: DataFrame, tag: str) -> DataFrame:
        return df.select(
            F.col("c_custkey").alias(f"key_{tag}"),
            F.xxhash64("bal_cents", "c_nationkey").alias(f"dig_{tag}"),
        )

    d = digested(cust, "a").join(
        digested(v2, "b"),
        F.col("key_a") == F.col("key_b"),
        "full_outer",
    )
    action = (
        F.when(F.col("key_a").isNull(), "insert")
        .when(F.col("key_b").isNull(), "delete")
        .when(F.col("dig_a") != F.col("dig_b"), "update")
        .otherwise("unchanged")
    )
    return (
        d.select(
            action.alias("action"),
            F.coalesce("key_a", "key_b").alias("key"),
        )
        .groupBy("action")
        .agg(F.count("*").alias("n_rows"), F.sum("key").alias("sum_keys"))
        .orderBy("action")
    )


def q73_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access through the VARIANT type (Spark 4):
    ``parse_json`` shreds the JSON string ONCE into the binary variant
    encoding, then typed ``try_variant_get`` paths read it without
    re-parsing — the modern replacement for per-access
    ``get_json_object`` string scans (q25/q29 keep the classic forms).
    At scale the variant column is materialized at ingest and every
    downstream path access is a cheap binary probe instead of a JSON
    re-parse per expression."""
    ev = _t(spark, sf_dir, "events")
    k = F.try_variant_get(F.parse_json("props"), "$.k", "long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").alias("sum_k"),
            F.count_distinct(F.col("k")).alias("n_k"),
        )
        .orderBy("event_type")
    )


def q75_rolling_distinct_users(
    spark: SparkSession, sf_dir: str, days: int = 7
) -> DataFrame:
    """q75: rolling 7-day distinct users per day (the WAU curve next
    to DAU) — COUNT(DISTINCT) OVER a sliding frame, which Spark has no
    native window form for (distinct aggregates are unsupported in
    window specs). The scalable re-expression: each (day, user)
    activity row CONTRIBUTES to the ``days`` target days it is visible
    from — a map-side explode(sequence) — then one distinct + count
    per target day. No range join, no per-row set state, no
    collect_set window whose arrays would grow with the user count;
    the shuffle carries (target_day, user_id) pairs, dedup happens
    partial-first like any distinct.

    ``dau`` rides along (distinct users that exact day, 0 for days
    active only via the trailing window) so the output exposes the
    DAU/WAU pair engagement dashboards actually plot.
    """
    from aw3d30_parquet_spark.scratch import scratch_persist

    ev = _t(spark, sf_dir, "events")
    # two consumers (contribution explode, dau): persist the daily
    # activity relation or the events scan + distinct runs twice
    par = max(8, session_width(spark))
    daily = scratch_persist(
        "q75",
        ev.select(
            F.date_trunc("day", "ts").cast("date").alias("day"),
            "user_id",
        )
        .distinct()
        .coalesce(par),  # cached-index right-sizing (l01's fix)
    )
    # r12: max(day) doesn't need the distinct — computing the span off
    # the raw scan keeps this broadcast build a parallel partial agg
    # instead of a single-task final-distinct pass over the daily
    # relation (profiled: a 0.53 s one-task stage). Identical value:
    # a day appears in `daily` iff it appears in the raw events.
    span = ev.agg(
        F.max(F.date_trunc("day", "ts").cast("date")).alias("max_day")
    )
    contrib = (
        daily.withColumn(
            "k", F.explode(F.sequence(F.lit(0), F.lit(days - 1)))
        )
        .select(
            F.date_add("day", F.col("k")).alias("day"), "user_id"
        )
        .crossJoin(F.broadcast(span))
        .filter(F.col("day") <= F.col("max_day"))
        .select("day", "user_id")
        .distinct()
    )
    wau = contrib.groupBy("day").agg(F.count("*").alias("wau"))
    dau = daily.groupBy("day").agg(
        F.count_distinct("user_id").alias("dau")
    )
    return (
        wau.join(dau, "day", "left")
        .select(
            "day", F.coalesce("dau", F.lit(0)).alias("dau"), "wau"
        )
        .orderBy("day")
    )


#: a09 bottom-k (KMV) sketch size.
KMV_K = 32


def a09_kmv_bottomk_rollup(
    spark: SparkSession, sf_dir: str, k: int = KMV_K
) -> DataFrame:
    """a09: mergeable BOTTOM-K (KMV) distinct-count sketch rollup —
    the sketch-family member that is EXACTLY cross-engine
    reproducible: the sketch content is the k smallest md5 digests of
    the member set, a deterministic relation, so unlike a01–a06/a08
    (engine-specific registers, rows-only) the full sketch state AND
    its estimates are driver-hash-checked.

    Weekly sketches = per-week bottom-k over distinct user digests;
    the ALL row is built FROM THE WEEKLY SKETCH ROWS (distinct →
    re-rank → bottom-k), exercising the KMV merge property inside the
    plan itself: the k smallest global digests are each within their
    own week's bottom-k, so merging materialized weekly sketches
    loses nothing — the same never-rescan-raw-events contract as
    a03's HLL union, but exact. The estimator is the standard KMV
    ``(k−1)·2^60 / v_k`` when the sketch is full (v_k uniform in
    [0, 2^60) under the digest map) and the exact count when
    undersampled; ``exact_distinct`` rides along so the driver row
    also records the estimator's true error.

    Scale shape: two corpus-sized but BALANCED shuffles — the
    (week, digest) distinct and the (week, salt)-keyed phase-1 rank
    (16 salt buckets per week, so no single task ever sorts a whole
    week's digest set); everything after phase 1 is ≤16k rows per
    scope and the merge input is kilobytes regardless of corpus size.

    r12 optimization (guide §1.2/§2.4): the original form compiled the
    (scope, h) distinct subtree FOUR times — weekly chain, ALL-merge
    (via ``weekly ∪ allsk(weekly)``), per-scope exact counts, ALL
    exact count — four full events scans and ~10 exchanges per run.
    Now ONE chain: the per-(scope, salt) window carries the bucket
    count alongside the rank (same exchange, same sort), the ≤512
    phase-1 survivor rows per scope explode into their own scope AND
    an ''ALL'' copy, and a single dense_rank + grouped conditional
    aggregate produces every sketch row — the k smallest distinct
    digests over the survivors are provably the weekly/merged bottom-k
    (each is within its bucket's and its scope's bottom-k; when the
    global distinct count is under k every survivor IS a weekly
    member, so the undersampled ALL row agrees too). Per-scope exact
    counts fall out of the carried bucket counts (Σ over rn=1 rows);
    only the ALL exact count needs a second corpus pass, a plain
    countDistinct off the raw scan (partial map-side distinct — no
    (scope, h) shuffle). 2 scans / ~6 exchanges, identical rows.
    """
    from aw3d30_parquet_spark.functions.dedup import _md5_60

    ev = _t(spark, sf_dir, "events")
    dig = (
        ev.select(
            F.date_trunc("week", "ts")
            .cast("date")
            .cast("string")
            .alias("scope"),
            _md5_60(F.col("user_id").cast("string")).alias("h"),
        )
        .distinct()
    )
    # two-phase bottom-k: a single per-scope rank window would sort a
    # whole week's digest set on ONE task (scope is a handful of keys
    # — the hot-key shape k01 exists to kill). Phase 1 takes the local
    # bottom-k per (scope, salt) over 16 balanced salt buckets; the
    # full-partition count rides the SAME exchange and sort (a second
    # window function over the identical partitioning), so the exact
    # per-scope cardinality costs no extra pass.
    n_salts = 16
    w_local = Window.partitionBy("scope", "salt").orderBy("h")
    w_cnt = Window.partitionBy("scope", "salt")
    surv = (
        dig.withColumn("salt", F.pmod("h", F.lit(n_salts)))
        .withColumn("rn", F.row_number().over(w_local))
        .withColumn("bucket_cnt", F.count("*").over(w_cnt))
        .filter(F.col("rn") <= k)
    )
    # survivors are ≤ k·n_salts rows per scope (kilobytes at any
    # corpus size): explode each into its own scope plus the ALL
    # merge's copy, then one dense_rank per group — for per-scope
    # groups h is already distinct so dense_rank ≡ row_number; for
    # the ALL group it deduplicates cross-week repeats exactly as the
    # old distinct-then-rank merge did.
    dup = surv.select(
        F.explode(F.array(F.col("scope"), F.lit("ALL"))).alias("gscope"),
        "h",
        "rn",
        "bucket_cnt",
    )
    ranked = dup.withColumn(
        "dr", F.dense_rank().over(Window.partitionBy("gscope").orderBy("h"))
    )
    per_group = ranked.groupBy("gscope").agg(
        F.count_distinct(
            F.when(F.col("dr") <= k, F.col("h"))
        ).alias("n_sketch"),
        F.max(F.when(F.col("dr") <= k, F.col("h"))).alias("kth_digest"),
        # Σ bucket counts, taken once per bucket via its rn=1 carrier
        # row (every nonempty bucket keeps one) = the scope's exact
        # distinct; meaningless for the ALL copies, masked out here
        # and overridden below.
        F.sum(
            F.when(
                (F.col("rn") == 1) & (F.col("gscope") != "ALL"),
                F.col("bucket_cnt"),
            )
        ).alias("exact_scope"),
    )
    # the one count the survivor rows cannot carry: global distinct
    # digests. A plain countDistinct over the raw scan — partial
    # map-side distinct, no (scope, h) shuffle, 1-row broadcast.
    all_exact = ev.select(
        _md5_60(F.col("user_id").cast("string")).alias("h")
    ).agg(F.count_distinct("h").alias("exact_all"))
    est = F.when(F.col("n_sketch") < k, F.col("n_sketch")).otherwise(
        F.floor(
            F.lit(float(k - 1))
            * 1152921504606846976.0  # 2^60, exactly representable
            / F.col("kth_digest").cast("double")
            + 0.5
        ).cast("long")
    )
    return (
        per_group.crossJoin(F.broadcast(all_exact))
        .select(
            F.col("gscope").alias("scope"),
            "n_sketch",
            "kth_digest",
            est.cast("long").alias("est_distinct"),
            F.when(F.col("gscope") == "ALL", F.col("exact_all"))
            .otherwise(F.col("exact_scope"))
            .alias("exact_distinct"),
        )
        .orderBy("scope")
    )


RELATIONAL_QUERIES = {
    "q01_scan_project": q01_scan_project,
    "a01_approx_count_distinct": a01_approx_count_distinct,
    "a02_approx_percentile": a02_approx_percentile,
    "a03_hll_sketch_rollup": a03_hll_sketch_rollup,
    "a04_quantile_sketch_rollup": a04_quantile_sketch_rollup,
    "a05_kll_quantile_rollup": a05_kll_quantile_rollup,
    "a06_theta_audience_rollup": a06_theta_audience_rollup,
    "a07_heavy_hitters": a07_heavy_hitters,
    "a08_cms_freq_rollup": a08_cms_freq_rollup,
    "a10_hll_distinct_rollup": a10_hll_distinct_rollup,
    "a09_kmv_bottomk_rollup": a09_kmv_bottomk_rollup,
    "q02_filter_conjunction": q02_filter_conjunction,
    "q03_filter_disjunction": q03_filter_disjunction,
    "q04_regex_extract": q04_regex_extract,
    "q05_inner_join": q05_inner_join,
    "q06_star_join": q06_star_join,
    "q07_left_outer_join": q07_left_outer_join,
    "q08_semi_join": q08_semi_join,
    "q09_anti_join": q09_anti_join,
    "q10_theta_join": q10_theta_join,
    "q11_group_agg": q11_group_agg,
    "q12_count_distinct": q12_count_distinct,
    "q13_rollup": q13_rollup,
    "q14_grouping_sets": q14_grouping_sets,
    "q15_rank_topk": q15_rank_topk,
    "q16_lag": q16_lag,
    "q17_window_frame": q17_window_frame,
    "q18_topk": q18_topk,
    "q19_intersect": q19_intersect,
    "q20_except": q20_except,
    "q21_union_all": q21_union_all,
    "q22_string_funcs": q22_string_funcs,
    "q23_date_trunc": q23_date_trunc,
    "q24_cond_math": q24_cond_math,
    "q25_json_extract": q25_json_extract,
    "q26_tumbling_window": q26_tumbling_window,
    "q27_distinct": q27_distinct,
    "q28_asof": q28_asof,
    "q29_json_path": q29_json_path,
    "q30_cube": q30_cube,
    "q31_cross_join": q31_cross_join,
    "q32_range_frame": q32_range_frame,
    "q33_fact_fact_join": q33_fact_fact_join,
    "q34_full_outer_join": q34_full_outer_join,
    "q35_pivot": q35_pivot,
    "q36_percentiles": q36_percentiles,
    "q37_first_last_nth": q37_first_last_nth,
    "q38_ntile": q38_ntile,
    "q39_posexplode": q39_posexplode,
    "q40_correlated_subquery": q40_correlated_subquery,
    "q41_stat_agg": q41_stat_agg,
    "q42_min_max_by": q42_min_max_by,
    "q43_having": q43_having,
    "q44_percent_rank": q44_percent_rank,
    "q45_interval_arith": q45_interval_arith,
    "q46_uncorrelated_subquery": q46_uncorrelated_subquery,
    "q47_sorted_list_agg": q47_sorted_list_agg,
    "q48_bitwise": q48_bitwise,
    "q49_array_hof": q49_array_hof,
    "q50_map_ops": q50_map_ops,
    "q51_struct_ops": q51_struct_ops,
    "q52_except_intersect_all": q52_except_intersect_all,
    "q53_string_transform": q53_string_transform,
    "q54_time_range_frame": q54_time_range_frame,
    "q55_null_least_greatest": q55_null_least_greatest,
    "q56_unpivot": q56_unpivot,
    "q57_lateral_join": q57_lateral_join,
    "q58_ignore_nulls_window": q58_ignore_nulls_window,
    "q59_group_by_all": q59_group_by_all,
    "q60_date_series_fill": q60_date_series_fill,
    "q61_recursive_cte": q61_recursive_cte,
    "q62_bool_agg_cume_dist": q62_bool_agg_cume_dist,
    "q63_try_arithmetic": q63_try_arithmetic,
    "q64_width_bucket_histogram": q64_width_bucket_histogram,
    "q65_event_funnel": q65_event_funnel,
    "q66_retention_cohorts": q66_retention_cohorts,
    "q67_sessionization": q67_sessionization,
    "q68_scd_dimension_join": q68_scd_dimension_join,
    "q69_merge_upsert": q69_merge_upsert,
    "q70_rolling_anomalies": q70_rolling_anomalies,
    "q71_snapshot_diff": q71_snapshot_diff,
    "q73_variant_json": q73_variant_json,
    "q74_lateral_topk": q74_lateral_topk,
    "q75_rolling_distinct_users": q75_rolling_distinct_users,
}

# Queries registered WITHOUT a DuckDB oracle, by design (sketch/approx
# outputs are engine-specific: HLL++/GK/KLL/Theta/CMS binary registers
# have no ANSI-SQL twin — SURVEY §2.3 exclusions; their correctness is
# tolerance/sandwich-tested in tests/test_relational.py T5a-T5g).
# This is THE registry: __spark_entry__.rows_only(), tools/driver_sim.py
# and tests/test_relational_oracle.py all derive from it, so registering
# a rows-only query means adding it here — the gate can only redden if
# the registration is genuinely inconsistent (name here but an oracle
# exists, or no-oracle name missing here).
ROWS_ONLY = frozenset(
    {
        "a01_approx_count_distinct",
        "a02_approx_percentile",
        "a03_hll_sketch_rollup",
        "a04_quantile_sketch_rollup",
        "a05_kll_quantile_rollup",
        "a06_theta_audience_rollup",
        # a08 was promoted to a full hash oracle in r7: its CMS matrix
        # is element-wise integer addition under a fixed multiply-shift
        # family — order-independent, so DuckDB recomputes the weekly
        # estimates bit-for-bit (see queries.py). The remaining set is
        # engine-RNG / register-format sketches (a01–a03, a05, a06)
        # plus a04, which is deterministic in-engine (lexsort before
        # compression) but NOT hash-promotable: its equi-depth bucket
        # boundaries are IEEE-754 cumulative-sum comparisons, and an
        # SQL twin's different summation associativity can land a
        # point on the other side of a boundary, shifting a centroid
        # mean DISCONTINUOUSLY (not by an ulp) — a genuine
        # impossibility note, not a missing oracle (SURVEY §2.4).
    }
)
