"""Plan-quality regression tests: the 100 TB posture as assertions.

Each test pins a physical-plan property that matters at scale (SURVEY
§4.2). A failure here means a code change silently degraded the plan —
e.g. a filter stopped reaching the Parquet scan or a broadcast hint got
lost — even though results are still correct.
"""

from __future__ import annotations

import pytest

from aw3d30_parquet_spark.functions import dedup, text
from aw3d30_parquet_spark.operators import relational as R
from aw3d30_parquet_spark.plans import (
    count_node,
    formatted_plan,
    has_node,
    pushed_filters,
    read_schemas,
)
from aw3d30_parquet_spark.sources.demo import ensure_demo_tiles
from aw3d30_parquet_spark.sources.geotiff import read_tiles

SF = "/root/testdata/sf0.001"


def test_filter_pushdown_reaches_scan(spark):
    """q02's conjunctive range predicate is pushed into the Parquet scan."""
    fs = pushed_filters(R.q02_filter_conjunction(spark, SF))
    assert "GreaterThanOrEqual(c_nationkey,5)" in fs
    assert "LessThanOrEqual(c_nationkey,10)" in fs
    assert "GreaterThan(c_acctbal,1000.0)" in fs


def test_column_pruning(spark):
    """q02 reads exactly the 4 referenced customer columns, not all 5."""
    [cols] = read_schemas(R.q02_filter_conjunction(spark, SF))
    assert cols == ["c_custkey", "c_name", "c_nationkey", "c_acctbal"]


def test_star_join_broadcasts_all_dims(spark):
    """q06: customer/nation/region joins are all broadcast — the fact
    table (orders) never shuffles. A SortMergeJoin here would mean a
    full shuffle of the 100 TB side."""
    df = R.q06_star_join(spark, SF)
    assert count_node(df, "BroadcastHashJoin") == 3
    assert not has_node(df, "SortMergeJoin")


def test_partial_aggregation(spark):
    """q11: partial (map-side) + final HashAggregate around exactly one
    hash shuffle; the only other exchange is the presentation ORDER BY
    (range partitioning)."""
    df = R.q11_group_agg(spark, SF)
    plan = formatted_plan(df)
    assert count_node(df, "HashAggregate") >= 2
    assert count_node(df, "Exchange") == 2
    assert plan.count("hashpartitioning") >= 1
    assert plan.count("rangepartitioning") >= 1


def test_ntile_no_global_window(spark):
    """q38: the quartile assignment must NOT plan a single-partition
    window over the fact table (`ntile OVER (ORDER BY ...)` funnels
    every row through one task). The scale-safe form range-partitions
    the sort and windows per partition id; the only SinglePartition
    exchange allowed is the one feeding the tiny per-partition-count
    relation (≤ #partitions rows, post-aggregate)."""
    df = R.q38_ntile(spark, SF)
    plan = formatted_plan(df)
    assert "ntile" not in plan.lower()
    assert "rangepartitioning" in plan
    # the fact-side row_number window is keyed by _pid (parallel):
    # every formatted Window section computing row_number must name
    # _pid in its partition spec
    for section in plan.split("\n\n"):
        if "Window" in section and "row_number" in section:
            assert "_pid" in section, section


def test_topk_is_take_ordered(spark):
    """q18: ORDER BY + LIMIT plans as TakeOrderedAndProject (per-
    partition top-k then merge), never a global sort."""
    df = R.q18_topk(spark, SF)
    assert has_node(df, "TakeOrderedAndProject")
    assert not has_node(df, "Sort ")


def test_sessionization_single_user_shuffle(spark):
    """q67: the lag window and the running-sum window share ONE
    user_id Exchange (same partitioning + sort), and the per-(user,
    session) aggregate reuses it too — the plan's only other exchanges
    are the tiny histogram agg and presentation sort. Two user_id
    shuffles here would double the dominant cost at 100 TB."""
    df = R.q67_sessionization(spark, SF)
    plan = formatted_plan(df)
    assert plan.count("hashpartitioning(user_id") == 1
    assert count_node(df, "Window") == 2


def test_mixture_budget_broadcasts_targets(spark):
    """p10: the 5-row target relation joins back by broadcast — the
    corpus-side cumsum stream must not shuffle for the join."""
    from aw3d30_parquet_spark.functions.pipeline import mixture_budget

    df = mixture_budget(spark, SF)
    assert has_node(df, "BroadcastHashJoin")
    assert not has_node(df, "SortMergeJoin")


def test_incremental_dedup_shuffles_digests_only(spark):
    """d09: no document text crosses a shuffle — every Exchange's
    output partitioning is keyed on the digest column, and the corpus
    side is reduced by a partial (map-side) distinct aggregate before
    its exchange."""
    from aw3d30_parquet_spark.functions.dedup import incremental_dedup

    df = incremental_dedup(spark, SF)
    plan = formatted_plan(df)
    for section in plan.split("\n\n"):
        if "Exchange hashpartitioning" in section:
            assert "text" not in section.split("Exchange")[1].split("\n")[0]
    assert count_node(df, "HashAggregate") >= 2


def test_rolling_anomalies_single_user_shuffle(spark):
    """q70: the three trailing-frame window aggregates (count, s1, s2)
    share ONE user_id Exchange and one Window node — identical
    partitioning and frame must not split into separate passes."""
    df = R.q70_rolling_anomalies(spark, SF)
    plan = formatted_plan(df)
    assert plan.count("hashpartitioning(user_id") == 1
    assert count_node(df, "Window") == 1


def test_scd_join_broadcasts_versioned_dim(spark):
    """q68: the versioned dimension (3 rows per customer) joins by
    broadcast — the orders fact never shuffles before the 15-row agg."""
    df = R.q68_scd_dimension_join(spark, SF)
    assert has_node(df, "BroadcastHashJoin")
    assert not has_node(df, "SortMergeJoin")


def test_boilerplate_chunking_stays_in_codegen(spark):
    """p11: chunking (sequence → slice → concat_ws) is pure codegen —
    no Python eval nodes anywhere; shuffles carry chunk hashes only."""
    from aw3d30_parquet_spark.functions.pipeline import boilerplate_chunks

    df = boilerplate_chunks(spark, SF)
    plan = formatted_plan(df)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    for section in plan.split("\n\n"):
        if "Exchange hashpartitioning" in section:
            first = section.split("Exchange")[1].split("\n")[0]
            assert "text" not in first, first


def test_warp_broadcasts_index_map(spark):
    """g07: both target→source index-map joins broadcast — the decoded
    point table is never on the build side and never shuffles for the
    warp itself."""
    from aw3d30_parquet_spark.sources.demo import g07_warp_resample

    df = g07_warp_resample(spark, SF)
    assert count_node(df, "BroadcastHashJoin") == 2
    assert not has_node(df, "SortMergeJoin")


def test_geotiff_ingest_is_shuffle_free(spark, tmp_path):
    """Tile decode pipeline: scan → filter → mapInArrow, no Exchange
    anywhere — at 31 000 tiles this must stay embarrassingly parallel."""
    tif_dir = ensure_demo_tiles(str(tmp_path / "tiles"))
    df = read_tiles(spark, tif_dir, "netherlands")
    plan = formatted_plan(df)
    assert "Exchange" not in plan
    assert "MapInArrow" in plan


def test_native_minhash_has_no_python(spark):
    """d06's minhash/banding runs entirely JVM-side: no Python eval
    nodes in the plan (the old MLlib path shipped rows to Python)."""
    plan = formatted_plan(dedup.minhash_lsh_pairs(spark, SF))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "pythonUDF" not in plan


def test_neardup_native_banding(spark):
    """v04: banded-signature near-dup join — the only Python is the
    Arrow-batched signature matmul (map-side); no row-at-a-time eval,
    and the candidate join is an equi hash join, never cartesian."""
    from aw3d30_parquet_spark.functions import vectors

    plan = formatted_plan(vectors.embedding_neardup_pairs(spark, SF))
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_simhash_single_stage(spark):
    """d05: signature computation has no join/agg shuffle — only the
    final presentation sort exchanges data."""
    plan = formatted_plan(dedup.simhash(spark, SF))
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan


def test_tfidf_df_relation_broadcast(spark):
    """t06: the document-frequency relation joins broadcast (vocabulary
    ≪ corpus), so the tf relation never shuffles for the join."""
    plan = formatted_plan(text.tfidf_top_terms(spark, SF))
    assert "BroadcastHashJoin" in plan


def test_fact_fact_join_is_smj_when_no_broadcast(spark):
    """q33: with broadcast off (the 100 TB condition — neither fact
    fits), the join degrades to SortMergeJoin on the shuffled key,
    never a nested loop. At tiny SF the default plan broadcasts the
    smaller fact, which is also right — the point is the fallback."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = R.q33_fact_fact_join(spark, SF)
        assert has_node(df, "SortMergeJoin")
        assert not has_node(df, "BroadcastNestedLoopJoin")
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_pivot_single_scan(spark):
    """q35: pinned pivot values mean no distinct-values pre-pass — the
    fact table is scanned exactly once."""
    assert count_node(R.q35_pivot(spark, SF), "Scan parquet") == 1


def test_posexplode_filter_still_pushed(spark):
    """q39: the Generate (posexplode) does not block pushdown of the
    upstream doc_id predicate into the Parquet scan."""
    df = R.q39_posexplode(spark, SF)
    assert has_node(df, "Generate")
    assert "LessThan(doc_id,100)" in pushed_filters(df)


def test_width_bucket_prunes_to_single_column(spark):
    """q64: the histogram reads exactly one column (o_totalprice) and
    partial-aggregates before its 13-group exchange — at 100 TB the
    scan is the whole cost, so a wider ReadSchema is a regression."""
    df = R.q64_width_bucket_histogram(spark, SF)
    [cols] = read_schemas(df)
    assert cols == ["o_totalprice"]
    assert count_node(df, "HashAggregate") >= 2


def test_repetition_filter_stays_in_codegen(spark):
    """p07: split→array_distinct→size scoring runs JVM-side — no
    Python evaluation node anywhere, one scan, partial+final agg."""
    from aw3d30_parquet_spark.functions.pipeline import repetition_filter

    df = repetition_filter(spark, SF)
    plan = formatted_plan(df)
    assert "EvalPython" not in plan  # neither BatchEvalPython nor Arrow
    assert count_node(df, "Scan parquet") == 1
    assert count_node(df, "HashAggregate") >= 2


def test_media_decode_has_no_rowwise_python(spark):
    """m01: fabricate+decode are mapInPandas (Arrow-vectorized) only —
    a BatchEvalPython node would mean a row-at-a-time UDF crept in."""
    from aw3d30_parquet_spark.functions.multimodal import m01_media_metadata

    df = m01_media_metadata(spark, SF)
    plan = formatted_plan(df)
    assert "BatchEvalPython" not in plan
    assert plan.lower().count("mapinpandas") >= 2


def test_sink_partition_pruning(spark, tmp_path):
    """The partitioned point tree delivers partition pruning: a tile
    predicate over the ingested output appears as PartitionFilters on
    the scan and prunes to one directory — the property that replaces
    the reference's filename-encoded partitioning at scale."""
    from aw3d30_parquet_spark.sources.sink import write_tiles

    tif_dir = ensure_demo_tiles(str(tmp_path / "tiles"))
    out = str(tmp_path / "pts")
    write_tiles(read_tiles(spark, tif_dir, "netherlands"), out)
    df = spark.read.parquet(out).filter(
        "tile_lat = 51 AND tile_lon = 4 AND elevation > 100"
    )
    plan = formatted_plan(df)
    assert "PartitionFilters" in plan
    assert "tile_lat" in plan.split("PartitionFilters")[1].splitlines()[0]
    # the data predicate still pushes into parquet
    assert "GreaterThan(elevation,100)" in plan


def test_q71_diff_joins_digests_not_rows(spark):
    """q71: the full-outer diff join must carry only (key, digest)
    columns — never the wide payload — and both xxhash64 digests must
    be computed below the join (change detection at key-column cost)."""
    df = R.q71_snapshot_diff(spark, SF)
    plan = formatted_plan(df)
    assert plan.count("xxhash64") >= 2
    import re

    # the join's output schema: only key/digest columns flow through
    m = re.search(r"SortMergeJoin.*?Arguments: \[(.*?)\]", plan)
    if m:  # AQE may choose another join; digest check above still holds
        assert "c_acctbal" not in m.group(0)


def test_g08_tile_bytes_never_shuffle(spark):
    """g08 moves halo edges, never raster bytes: the gradient
    MapInArrow reads the binaryFile scan with no Exchange and no join
    below it, the halo pass plus the gradient pass run exactly 2 jobs
    on the mosaic, and no job of the read has a shuffle stage."""
    from aw3d30_parquet_spark.sources import demo
    from aw3d30_parquet_spark.sources.geotiff import (
        read_tile_gradients_seamless,
    )

    demo.ensure_demo_tiles(demo._MOSAIC_DIR, demo.MOSAIC_COORDS)
    sc = spark.sparkContext
    sc.setJobGroup("g08-plan", "g08-plan")
    try:
        df = read_tile_gradients_seamless(spark, demo._MOSAIC_DIR, "netherlands")
        assert len(df.collect()) == len(demo.MOSAIC_COORDS) * demo.DEMO_SIZE**2
    finally:
        sc._jsc.clearJobGroup()
    tree = formatted_plan(df).split("\n\n")[0]
    assert tree.splitlines()[1:] == [
        "MapInArrow (2)",
        "+- Scan binaryFile  (1)",
    ], tree
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    st = sc.statusTracker()
    jobs = list(st.getJobIdsForGroup("g08-plan"))
    assert len(jobs) == 2, jobs
    for jid in jobs:
        [sid] = st.getJobInfo(jid).stageIds
        stage = store.lastStageAttempt(sid)
        assert stage.shuffleWriteBytes() == 0 and stage.shuffleReadBytes() == 0


def test_q72_zvalue_is_codegen(spark):
    """q72: the Morton interleave is pure shift/mask codegen — no
    Python eval stage anywhere in the plan."""
    from aw3d30_parquet_spark.operators import zorder

    df = zorder.QUERIES["q72_zorder_cluster"](spark, SF)
    plan = formatted_plan(df)
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan
    assert "MapInPandas" not in plan


def test_d11_prefix_join_no_cartesian_no_python(spark):
    """The ED-Join prefix variant must stay candidate-bounded hash
    joins in codegen: no cartesian product, no Python eval node."""
    plan = formatted_plan(dedup.qgram_editdist_pairs_prefix(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "Python" not in plan


def test_a07_single_scan_family_and_broadcast_verify(spark):
    """a07's verify pass joins the token stream against BROADCAST
    candidates (the candidate relation is ≤K·partitions rows by the
    Misra–Gries bound); the heavy token relation itself is never the
    build side of a shuffle join."""
    plan = formatted_plan(R.a07_heavy_hitters(spark, SF))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_d12_pipeline_no_cartesian_broadcast_flags(spark):
    """d12's fate join must broadcast the (tiny) near-dup removal set
    and contain no cartesian product anywhere in the pipeline."""
    from aw3d30_parquet_spark.functions.dedup import dedup_pipeline_audit

    plan = formatted_plan(dedup_pipeline_audit(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_q74_lateral_decorrelates_no_cartesian(spark):
    """The LATERAL top-k must decorrelate into a window/join pass —
    a CartesianProduct (per-driving-row re-execution) here would be
    quadratic at scale."""
    df = R.q74_lateral_topk(spark, SF)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "Window" in plan


def test_p14_bloom_probe_is_broadcast_codegen(spark):
    """p14: the train-side Bloom probe must be map-side — the bitmap
    and eval-hash relations arrive by broadcast (no SortMergeJoin /
    ShuffledHashJoin anywhere: the only shuffles are the final
    aggregates) and the k seeded probes are pure codegen (no Python)."""
    from aw3d30_parquet_spark.functions.pipeline import (
        bloom_prefilter_decontaminate,
    )

    df = bloom_prefilter_decontaminate(spark, SF)
    plan = formatted_plan(df)
    assert not has_node(df, "SortMergeJoin")
    assert not has_node(df, "ShuffledHashJoin")
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan


def test_v07_semdedup_join_keys_on_cluster_id(spark):
    """v07: the only joins are the cluster-id self-join (hash join on
    cluster_id, never a cartesian product) and no Python eval stage."""
    from aw3d30_parquet_spark.functions.vectors import semantic_dedup

    df = semantic_dedup(spark, SF)
    plan = formatted_plan(df)
    assert not has_node(df, "CartesianProduct")
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan


def test_t09_bm25_stats_broadcast_no_cartesian(spark):
    """t09: the 1-row corpus stats must broadcast (BroadcastNestedLoop
    on a 1-row side is the declared bounded shape); the candidate join
    itself must be a hash join, not a cartesian product."""
    from aw3d30_parquet_spark.functions.text import bm25_search

    df = bm25_search(spark, SF)
    assert not has_node(df, "CartesianProduct")
    plan = formatted_plan(df)
    assert "ArrowEvalPython" not in plan


def test_v09_assignment_is_shuffle_free_map(spark):
    """r9 scale posture: the k-means ASSIGNMENT relation is a pure map
    stage — scan → (spread fan-out) → Arrow kernel, with NO data-key
    shuffle and NO window. The r8 shape (crossJoin(broadcast) →
    window row_number) shuffled N·k vector-carrying rows per iteration
    (~28 GB at 200 k × k=256); this pin fails if anyone reintroduces
    that. The single allowed Exchange is spread()'s ROUND-ROBIN
    repartition (small-input core fan-out — a no-op at real scale);
    a hash/range Exchange below the kernel is the regression."""
    from aw3d30_parquet_spark.functions.vectors import _kmeans_assign

    assign, _cent = _kmeans_assign(spark, SF)
    plan = formatted_plan(assign)
    assert count_node(assign, "Exchange") <= 1, plan
    assert "roundrobin" in plan.lower(), plan
    assert "hashpartitioning" not in plan.lower(), plan
    assert "MapInPandas" in plan, plan
    assert not has_node(assign, "Window"), plan


def test_p05_small_bench_is_broadcast_probe(spark):
    """r10 scale posture (the r9 100× probe's finding): under the
    bench-size gate, p05's train side STREAMS through a broadcast-hash
    probe — the corpus-sized shingle relation is never shuffled. The
    r9 shape (train .distinct() then shuffled left join) exchanged a
    corpus-linear hash relation (7.7 M rows at the 510 k-doc corpus);
    this pin fails if that shape comes back: the only hashpartitioning
    Exchanges allowed are keyed by doc_id (the bounded per-bench-doc
    aggregates and the hit distinct), never by the bare shingle hash."""
    import re

    from aw3d30_parquet_spark.functions.pipeline import decontaminate

    df = decontaminate(spark, SF)
    plan = formatted_plan(df)
    assert has_node(df, "BroadcastHashJoin"), plan
    for m in re.finditer(r"hashpartitioning\(([^)]*)\)", plan):
        assert "doc_id" in m.group(1), m.group(0)


def test_p05_over_gate_fallback_shape_and_equality(spark, monkeypatch):
    """r11 (VERDICT r10 #6): the OVER-the-gate arm — an oversized bench
    must not broadcast, so train reduces to DISTINCT hashes (partial/
    map-side first) and left-joins. Forcing the gate low pins that
    shape: exactly the r9 plan, whose signature is a bare-``h``
    hashpartitioning Exchange (the train-side distinct — allowed HERE
    and only here), plus an HashAggregate pair around it (the partial
    distinct). And both arms must return identical rows — the gate is
    a plan choice, never a semantics choice."""
    import re

    from aw3d30_parquet_spark.functions import pipeline as P

    broadcast_rows = sorted(
        map(tuple, P.decontaminate(spark, SF).collect())
    )
    monkeypatch.setattr(P, "P05_BENCH_BROADCAST_CAP", -1)
    df = P.decontaminate(spark, SF)
    plan = formatted_plan(df)
    bare_h = [
        m.group(0)
        for m in re.finditer(r"hashpartitioning\(([^)]*)\)", plan)
        if "doc_id" not in m.group(1)
    ]
    assert bare_h, plan  # the train-distinct shuffle IS the fallback
    assert plan.count("HashAggregate") >= 2, plan  # partial-first distinct
    assert broadcast_rows == sorted(map(tuple, df.collect()))


def test_whole_surface_no_cartesian_no_rowwise_python(spark):
    """Suite-wide plan hygiene (r10): EVERY registered query compiles to
    a plan with ZERO CartesianProduct and ZERO BatchEvalPython nodes —
    no exceptions, no allowlist. Even q31 (the declared cross join)
    plans as a broadcast nested-loop, and every Python kernel in the
    engine is Arrow-vectorized (ArrowEvalPython / MapInPandas /
    grouped-map), never row-at-a-time. BroadcastNestedLoopJoin is NOT
    asserted against: its build side is a broadcast by construction,
    and the 18 queries that use it all broadcast a bounded relation
    (1-row corpus stats, capped query sets, k-row centroids) — the
    sanctioned shape. This is the one test that catches a plan
    regression in a query no individual pin covers."""
    import re

    import __spark_entry__ as contract

    offenders = {}
    for name, fn in contract.queries().items():
        plan = formatted_plan(fn(spark, SF))
        hits = [
            node
            for node in ("CartesianProduct", "BatchEvalPython")
            if re.search(rf"\(\d+\) {node}\b", plan)
        ]
        if hits:
            offenders[name] = hits
    assert not offenders, offenders


def test_u03_udf_evaluates_above_the_sort(spark):
    """r12: the cosine pandas UDF must sit ABOVE the orderBy's range
    exchange. With the UDF below it, the range partitioner's boundary-
    sampling pass re-executes the child subtree and the UDF runs twice
    per invocation (profiled: two ~equal stages reading the same
    shuffle). Pin: no ArrowEvalPython anywhere under a Sort node —
    i.e. the plan's single ArrowEvalPython appears after the Sort in
    the formatted tree."""
    from aw3d30_parquet_spark.functions.udfs import scalar_cosine_scores

    plan = formatted_plan(scalar_cosine_scores(spark, SF))
    tree = plan.split("\n\n", 1)[0]
    eval_pos = tree.index("ArrowEvalPython")
    sort_pos = tree.index("Sort")
    # formatted tree prints top-down: an earlier position = closer to
    # the root = executed later. The UDF must print BEFORE the sort.
    assert eval_pos < sort_pos, tree


def test_m06_python_chain_has_single_consumer(spark):
    """r12: m06 persists ONE grouped (media_id, digest, count)
    relation; the fabricate->decode->md5 Python chain must appear in
    the compiled plan exactly once per cached subtree — per_video,
    dist and the sharing arms all read the same InMemoryRelation
    instead of racing two persists. Pin: every MapInPandas node in the
    plan lives under an InMemoryRelation's cached subtree (the plan
    outside cached reprints contains none)."""
    from aw3d30_parquet_spark.functions.multimodal import (
        m06_frame_dedup_audit,
    )

    plan = formatted_plan(m06_frame_dedup_audit(spark, SF))
    tree = plan.split("\n\n", 1)[0]
    for line in tree.splitlines():
        if "MapInPandas" in line or "ArrowEvalPython" in line:
            # allowed only while the cache is unmaterialized at compile
            # time: such lines print under an InMemoryRelation header,
            # which indents them past the InMemoryTableScan that owns
            # them — assert one exists above in the tree
            assert "InMemoryRelation" in tree[: tree.index(line)], line


def test_l01_loop_is_lazy_single_plan(spark):
    """r12: the fixed-iteration PageRank loop is LAZY — constructing
    the full query (iters=3) fires ZERO jobs (the old form ran a
    persist+count per iteration), and the final plan chains all three
    iterations (3 contribution aggregates over the one cached
    edge_deg)."""
    from aw3d30_parquet_spark.operators.graph import (
        pagerank_supplier_customer,
    )

    st = spark.sparkContext.statusTracker()
    before = set(st.getJobIdsForGroup())
    df = pagerank_supplier_customer(spark, SF)
    assert set(st.getJobIdsForGroup()) == before  # construction: no jobs
    plan = formatted_plan(df)
    # the three iteration aggregates are distinct partial/final
    # HashAggregate pairs on `dst` — at least 3 sum(share) aggs chain
    assert plan.count("partial_sum") >= 3, plan


def test_a09_single_chain_two_scans(spark):
    """r12: a09 compiles exactly TWO events scans — the fused sketch
    chain (distinct → salt window carrying rank AND bucket count →
    explode-to-ALL → dense_rank → one grouped aggregate) plus the
    raw-scan countDistinct for the ALL exact count. The old form
    compiled the (scope, h) distinct subtree four times (weekly chain,
    ALL merge, per-scope exact, ALL exact). A third scan appearing
    here means a branch re-grew a duplicate corpus pass."""
    df = R.a09_kmv_bottomk_rollup(spark, SF)
    assert count_node(df, "Scan parquet") == 2, formatted_plan(df)
    # the ALL exact count arm must stay a broadcast (1-row) cross join,
    # never a shuffled join against the sketch rows
    assert has_node(df, "BroadcastNestedLoopJoin")
