"""Training-data pipeline operators over the ``documents`` table.

The ops a 100 TB pretraining-data build actually runs between dedup and
tokenization: deterministic split assignment, token-budget packing,
stratified sampling, and PII redaction. All hot paths are built-in
``pyspark.sql.functions`` expressions (JVM codegen, no Python), and
every op is deterministic — re-running the pipeline on the same corpus
reproduces the same splits/bins/samples bit-for-bit, which is what
makes a data build auditable.

Scale posture:

- **p01 split** is a pure map: md5 prefix compare per row, then one
  partial+final aggregate. No shuffle of document text.
- **p02 packing** windows per ``source`` shard, not globally — a global
  ordered cumsum is a single-partition sequential bottleneck at scale,
  while per-shard packing parallelizes across shards (and matches how
  corpora actually arrive: pre-sharded).
- **p03 stratified sample** shuffles (lang, md5) pairs, never text, and
  the per-stratum count comes from the same window pass.
- **p04 redaction** is a pure map stage (regexp_replace in codegen).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from aw3d30_parquet_spark.numeric import round_half_up
from aw3d30_parquet_spark.session import register_views, spread

#: md5 hex prefix thresholds: 'cc'/256 ≈ 0.797, 'e6'/256 ≈ 0.898 —
#: lowercase-hex digests compare identically in Spark and DuckDB, so
#: lexicographic compare on the digest is a dialect-shared uniform draw.
SPLIT_TRAIN_LT = "cc"
SPLIT_VAL_LT = "e6"

PACK_CAPACITY_TOKENS = 4096
SAMPLE_FRACTION = 0.1


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    # every pipeline op tokenizes/hashes text per row: fan the (single-
    # split) scan out to all cores; no-op when splits >= parallelism
    return spread(spark.table("documents"))


def _split_col():
    d = F.md5("text")
    return (
        F.when(d < SPLIT_TRAIN_LT, "train")
        .when(d < SPLIT_VAL_LT, "val")
        .otherwise("test")
    )


def hash_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (~80/10/10) by content
    digest — re-ingesting the same document always lands it in the same
    split (content-keyed, not id-keyed, so dedup-survivors keep their
    assignment even if ids shift). Returns per-split audit stats."""
    return (
        _docs(spark, sf_dir)
        .select(
            _split_col().alias("split"),
            F.size(F.split(F.trim("text"), r"\s+")).alias("n_tok"),
        )
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
        )
        .orderBy("split")
    )


def pack_token_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget packing: contiguous docs (per source shard, doc_id
    order) are packed into bins of ≤``PACK_CAPACITY_TOKENS`` tokens —
    the grouping a sequence-packing tokenizer consumes. Bin boundary =
    exclusive running token count crossing a capacity multiple. Returns
    per-bin stats (docs, tokens, id range)."""
    n_tok = F.size(F.split(F.trim("text"), r"\s+"))
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    binned = (
        _docs(spark, sf_dir)
        .select("doc_id", "source", n_tok.alias("n_tok"))
        .withColumn(
            "bin_id",
            F.floor(
                (F.sum("n_tok").over(w) - F.col("n_tok"))
                / F.lit(PACK_CAPACITY_TOKENS)
            ).cast("bigint"),
        )
    )
    return (
        binned.groupBy("source", "bin_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("bin_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("source", "bin_id")
    )


def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language deterministic ~10% sample: rank docs within each
    lang stratum by (md5(text), doc_id) — a content-keyed shuffle that
    is stable across runs, unlike ``TABLESAMPLE``/``rand(seed)`` whose
    row assignment is partitioning-dependent — and keep the first
    ceil(0.1·|stratum|). Returns the kept (doc_id, lang) rows."""
    w = Window.partitionBy("lang").orderBy(F.md5("text"), "doc_id")
    return (
        _docs(spark, sf_dir)
        .select(
            "doc_id",
            "lang",
            F.row_number().over(w).alias("rn"),
            F.count("*").over(Window.partitionBy("lang")).alias("n"),
        )
        .filter(F.col("rn") <= F.ceil(F.col("n") * SAMPLE_FRACTION))
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


BENCH_MOD = 97  # doc_id % 97 == 0 marks the held-out "benchmark" set
LEAK_FLAG = 0.5
#: bench-side broadcast gate for p05's asymmetric plan: (doc_id, h)
#: rows are 16 B, so 5 M rows ≈ 80 MB broadcast — safely under executor
#: memory at any realistic eval-set size (eval sets are FIXED-size in
#: production; only the fixture's %97 rule grows bench with the corpus)
P05_BENCH_BROADCAST_CAP = 5_000_000

#: (applicationId, sf_dir) → measured bench-side shingle row count. The
#: gate is a plan-choice scalar over an immutable input dir, so it is
#: memoized: without this, every p05 PLAN COMPILATION pays a full
#: corpus scan (persist + count), and callers that only compile — the
#: suite-wide plan-hygiene test walks all registered queries — rescan
#: the corpus once per walk (ADVICE r10).
_P05_GATE_MEMO: dict[tuple[str, str], int] = {}


def _p05_bench_count(spark: SparkSession, sf_dir: str, bench: DataFrame) -> int:
    from aw3d30_parquet_spark.session import session_token

    key = (session_token(spark), sf_dir)
    if key not in _P05_GATE_MEMO:
        _P05_GATE_MEMO[key] = bench.count()
    return _P05_GATE_MEMO[key]

#: funnel predicates, applied cumulatively (lang allowlist → minimum
#: token count → stopword-hit quality gate → exact dedup survivors)
FUNNEL_LANGS = ("en", "de", "fr")
FUNNEL_MIN_TOKENS = 5


def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: per held-out doc, the fraction of its
    distinct 3-gram shingles that leak from the training split.

    The canonical pre-training hygiene op — before a corpus ships, every
    eval/benchmark document is checked for n-gram overlap against the
    training text so test questions that were memorized verbatim get
    pulled. Here the "benchmark" is the ``doc_id % 97 == 0`` slice of
    ``documents`` and train is the rest.

    Scale shape — the r10 asymmetric plan (the d13-style bound the r9
    100× probe demanded; see SCALING.md "Round-10 probes"):

    - shingle both splits from one shingled relation; join key is
      ``xxhash64(shingle)`` (8-byte ints shuffle, never strings);
    - the bench side (an eval set — FIXED-size in production; ~1/97 of
      the corpus under the fixture's rule) persists once and its
      measured row count gates the plan, the d12/p12 discipline:
    - **small bench (the production case): broadcast-probe.** The
      (doc_id, h) bench relation broadcasts; every train shingle
      OCCURRENCE probes it map-side (inner broadcast-hash join — the
      corpus-sized relation is scanned but never shuffled), and only
      the HIT rows reach a shuffle, deduped per (bench doc, shingle)
      by a partial-first distinct. The r9 probe measured the old
      plan's train-side ``distinct()`` at 7.7 M shuffled rows for the
      510 k-doc corpus — linear in the corpus by construction; this
      plan's shuffle is bounded by leak volume instead, which is what
      a 100 TB decontamination pass actually affords.
    - **large bench (fixture stress): shuffled hash join.** Train is
      reduced to distinct hashes (partial/map-side first) and
      left-joined — the r9 shape, kept as the fallback because
      broadcasting an oversized bench is worse than shuffling.

    A leaked shingle is counted once per bench doc (both sides
    distinct), so ``leak_frac`` is exact set overlap, not occurrence
    counting; both plans produce byte-identical output.
    """
    from aw3d30_parquet_spark.functions.dedup import (
        _shingles_of,
        _words,
    )
    from aw3d30_parquet_spark.scratch import scratch_persist

    sh = (
        _docs(spark, sf_dir)
        .select(
            "doc_id",
            (F.col("doc_id") % BENCH_MOD == 0).alias("is_bench"),
            _words(F.col("text")).alias("w"),
        )
        .select(
            "doc_id", "is_bench", _shingles_of(F.col("w")).alias("shs")
        )
    )
    bench = scratch_persist(
        "p05",
        sh.filter("is_bench")
        .select("doc_id", F.explode_outer("shs").alias("s"))
        .select("doc_id", F.xxhash64("s").alias("h")),
    )
    train_occ = (
        sh.filter(~F.col("is_bench"))
        .select(F.explode_outer("shs").alias("s"))
        .select(F.xxhash64("s").alias("h"))
    )
    n_sh = bench.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    if _p05_bench_count(spark, sf_dir, bench) <= P05_BENCH_BROADCAST_CAP:
        # asymmetric broadcast-probe: train occurrences stream through a
        # map-side hash probe; only hits shuffle (for the per-(doc, h)
        # distinct — Spark plans it partial-first)
        hits = (
            train_occ.join(F.broadcast(bench), "h")
            .select("doc_id", "h")
            .distinct()
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_hit"))
        )
    else:
        hits = (
            bench.join(
                train_occ.distinct().withColumn("hit", F.lit(1)), "h", "left"
            )
            .groupBy("doc_id")
            .agg(F.count("hit").alias("n_hit"))
        )
    leak = F.floor(
        F.col("n_hit") / F.col("n_sh").cast("double") * 100 + 0.5
    ).cast("bigint") / 100.0
    return (
        n_sh.join(hits, "doc_id", "left")
        .withColumn("n_hit", F.coalesce("n_hit", F.lit(0)))
        .select(
            "doc_id",
            "n_sh",
            "n_hit",
            leak.alias("leak_frac"),
            (F.col("n_hit") >= F.col("n_sh") * LEAK_FLAG)
            .cast("int")
            .alias("contaminated"),
        )
        .orderBy("doc_id")
    )


def quality_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-curation funnel: per-stage survivor counts for the
    standard filter chain (lang allowlist → min length → stopword
    quality gate → exact dedup), as one row per stage with the
    fraction of the raw corpus retained.

    ONE scan, one aggregate — every stage is a conditional aggregate
    over the same pass (``count(CASE WHEN …)``), and the dedup stage is
    ``count(DISTINCT CASE WHEN … THEN md5(text) END)`` so even the
    distinct runs inside the same shuffle. The naive form (one filtered
    count per stage) scans the corpus five times; this form once —
    at 100 TB that is the difference between one pass over the data
    and an afternoon.
    """
    toks = F.split(F.trim(F.col("text")), r"\s+")
    c_lang = F.col("lang").isin(*FUNNEL_LANGS)
    c_len = c_lang & (F.size(toks) >= FUNNEL_MIN_TOKENS)
    from aw3d30_parquet_spark.functions.text import STOPWORDS

    c_qual = c_len & (
        F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS))) > 0
    )
    one = (
        _docs(spark, sf_dir)
        .agg(
            F.count("*").alias("s0"),
            F.count(F.when(c_lang, 1)).alias("s1"),
            F.count(F.when(c_len, 1)).alias("s2"),
            F.count(F.when(c_qual, 1)).alias("s3"),
            F.countDistinct(F.when(c_qual, F.md5("text"))).alias("s4"),
        )
    )
    stages = one.select(
        F.expr(
            "stack(5, 'raw', s0, 'lang', s1, 'min_len', s2,"
            " 'quality', s3, 'dedup', s4) AS (stage, n_docs)"
        ),
        F.col("s0").alias("_total"),
    )
    pct = F.floor(
        F.col("n_docs") / F.col("_total").cast("double") * 1000 + 0.5
    ).cast("bigint") / 1000.0
    return (
        stages.select("stage", "n_docs", pct.alias("retained_frac"))
        .orderBy(F.col("n_docs").desc(), "stage")
    )


_EMAIL_RE = "[a-z0-9]+@[a-z0-9.]+\\.[a-z]+"
_PHONE_RE = "\\+1-555-[0-9]{4}"


def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub: redact email/phone patterns, report per-doc match
    counts and the redacted text's length. The fixture corpus has no
    PII, so the op runs on an augmented column (text + a contact line
    fabricated from source/doc_id) — the redaction kernel itself is the
    real, reusable part."""
    contact = F.concat(
        F.col("text"),
        F.lit(" contact: "),
        F.col("source"),
        F.lit("@example.com +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(contact, _EMAIL_RE, "[EMAIL]"), _PHONE_RE, "[PHONE]"
    )
    return (
        _docs(spark, sf_dir)
        .filter(F.col("doc_id") < 50)
        .select(
            "doc_id",
            F.size(
                F.regexp_extract_all(contact, F.lit(_EMAIL_RE), F.lit(0))
            ).alias("n_email"),
            F.size(
                F.regexp_extract_all(contact, F.lit(_PHONE_RE), F.lit(0))
            ).alias("n_phone"),
            F.length(redacted).alias("len_redacted"),
        )
        .orderBy("doc_id")
    )


def repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition scoring (Gopher-style quality rule:
    drop documents dominated by repeated content). Per doc the
    distinct-word fraction is computed entirely in codegen
    (split → array_distinct → size — no shuffle, no Python), then one
    partial+final agg per lang. Ratios are derived from exact integer
    sums (never averaged as floats) so the result is order-insensitive
    and oracle-stable."""
    words = F.split(F.trim(F.col("text")), r"\s+")
    per_doc = _docs(spark, sf_dir).select(
        "lang",
        F.size(words).alias("n_words"),
        F.size(F.array_distinct(words)).alias("n_distinct"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(F.col("n_distinct") * 2 <= F.col("n_words"), 1)
                .otherwise(0)
            ).alias("heavy_repeat_docs"),
            F.sum("n_words").alias("total_words"),
            F.sum("n_distinct").alias("total_distinct"),
        )
        .withColumn(
            "distinct_bp",
            F.floor(
                F.col("total_distinct") * 10000.0 / F.col("total_words")
            ).cast("bigint"),
        )
        .orderBy("lang")
    )


N_SHARDS = 16


def shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic output sharding: content-keyed shard id (md5-prefix
    hex → int mod N) with per-shard doc/token balance stats — the
    write-side of a corpus build (`partitionBy(shard_id)` gives N
    balanced, reproducible output shards; a skewed shard here means a
    straggler writer at 100 TB). Pure codegen map + one partial+final
    agg on a 16-value key."""
    toks = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    shard = (
        F.conv(F.substring(F.md5("text"), 1, 4), 16, 10).cast("int")
        % N_SHARDS
    )
    return (
        _docs(spark, sf_dir)
        .select(shard.alias("shard_id"), toks.alias("n_tok"))
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("shard_tokens"),
        )
        .orderBy("shard_id")
    )


CURRICULUM_PHASES = 4


def curriculum_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p09: curriculum assignment — rank the corpus by a quality proxy
    (stopword basis points, exact integer) and split the GLOBAL rank
    into K equal phases (clean/natural text first), the standard
    curriculum-learning data ordering.

    The global rank uses the factored distributed-rank operator
    (:mod:`aw3d30_parquet_spark.operators.ranking` — range-partitioned
    sort + per-partition row_number + broadcast offsets), NOT an
    ``ntile() OVER (ORDER BY ...)`` single-partition window: ranking
    100 TB of documents is exactly where that plan shape dies. doc_id
    tiebreak ⇒ deterministic total order; the oracle reproduces the
    split with SQL ntile (single-node DuckDB can afford the global
    window; the engine cannot assume it)."""
    from aw3d30_parquet_spark.functions.text import STOPWORDS
    from aw3d30_parquet_spark.operators.ranking import (
        ntile_expr,
        with_global_rank,
    )

    toks = F.split(F.trim(F.col("text")), r"\s+")
    scored = _docs(spark, sf_dir).select(
        "doc_id",
        F.size(toks).alias("n_tok"),
        F.size(
            F.filter(toks, lambda t: t.isin(*STOPWORDS))
        ).alias("stop_cnt"),
    )
    scored = scored.withColumn(
        "score_bp", F.expr("stop_cnt * 10000 DIV n_tok")
    )
    ranked = with_global_rank(
        scored, [F.col("score_bp").desc(), F.col("doc_id")]
    )
    phase = ntile_expr("_r", "_n", CURRICULUM_PHASES)
    return (
        ranked.select(
            phase.cast("int").alias("phase"), "n_tok", "score_bp"
        )
        .groupBy("phase")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("phase_tokens"),
            F.min("score_bp").alias("min_bp"),
            F.max("score_bp").alias("max_bp"),
        )
        .orderBy("phase")
    )


#: target mixture, integer percent by language (sums to 100) — the
#: data-mixture spec a pretraining run declares ("40% en, 20% de, …")
MIXTURE_PCT = {"en": 40, "de": 20, "fr": 15, "es": 15, "zh": 10}
MIXTURE_BUDGET_FRAC_PCT = 50  # token budget = 50% of the corpus


def mixture_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p10: data-mixture rebalancing — fill a global token budget with
    declared per-language shares, keeping a deterministic greedy prefix
    of each stratum (content-keyed order, same stability argument as
    p03). The op every mixture-weighted pretraining build runs between
    curation and tokenization.

    Exact-integer spec (oracle-stable): budget = total_tokens·50 DIV
    100; per-lang target = budget·pct DIV 100; a doc is kept while the
    EXCLUSIVE running token count is below target (the p02 boundary
    rule), so realized tokens may overshoot by at most one document.

    Scale shape: one scan computes (lang, md5, n_tok); the global total
    is a partial+final agg to ONE row whose derived 5-row target table
    is broadcast back; the per-stratum cumsum windows by lang over
    (md5, doc_id) — shuffles 16-byte digests and ints, never text; no
    global window anywhere.
    """
    per_doc = _docs(spark, sf_dir).select(
        "doc_id",
        "lang",
        F.md5("text").alias("h"),
        F.size(F.split(F.trim("text"), r"\s+")).alias("n_tok"),
    )
    total = per_doc.agg(F.sum("n_tok").alias("total_tok"))
    pct = F.create_map(
        *[F.lit(x) for kv in MIXTURE_PCT.items() for x in kv]
    )
    targets = total.select(
        F.explode(pct).alias("lang", "pct"),
        F.expr(
            f"total_tok * {MIXTURE_BUDGET_FRAC_PCT} DIV 100"
        ).alias("budget"),
    ).select(
        "lang",
        F.expr("budget * pct DIV 100").alias("target_tok"),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = per_doc.withColumn(
        "cum_excl", F.sum("n_tok").over(w) - F.col("n_tok")
    )
    return (
        cum.join(F.broadcast(targets), "lang")
        .groupBy("lang")
        .agg(
            F.first("target_tok").alias("target_tok"),
            F.count(F.when(F.col("cum_excl") < F.col("target_tok"), 1))
            .alias("kept_docs"),
            F.sum(
                F.when(
                    F.col("cum_excl") < F.col("target_tok"), F.col("n_tok")
                )
            ).alias("kept_tokens"),
            F.count("*").alias("stratum_docs"),
            F.sum("n_tok").alias("stratum_tokens"),
        )
        .orderBy("lang")
    )


BOILER_CHUNK_TOKENS = 8
BOILER_MIN_DOCS = 3


def boilerplate_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p11: cross-document boilerplate detection (the C4 rule "drop any
    line occurring ≥N times in the corpus", over fixed token windows
    since the fixture has no line structure): chunk every doc into
    consecutive 8-token windows, count each distinct chunk's document
    frequency corpus-wide, and report per-source how much text is
    boilerplate (chunks seen in ≥3 docs).

    Scale shape: chunking is pure codegen (sequence → slice →
    concat_ws — no shuffle, no Python); the frequency count shuffles
    8-byte ``xxhash64`` chunk keys only (d04's argument), reduced by a
    map-side partial distinct per doc so a chunk repeated within one
    doc counts once; the flag join is the same hash stream re-joined.
    """
    from aw3d30_parquet_spark.functions.dedup import _words

    # toks is projected into its own column before the chunking lambda
    # references it — an expression inlined into a lambda body is
    # re-evaluated per element (see _words), turning chunking O(tokens²)
    toks = F.col("w")
    n_chunks = F.ceil(F.size(toks) / BOILER_CHUNK_TOKENS).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.concat_ws(
            " ", F.slice(toks, i * BOILER_CHUNK_TOKENS + 1, BOILER_CHUNK_TOKENS)
        ),
    )
    ch = (
        _docs(spark, sf_dir)
        .select("doc_id", "source", _words(F.col("text")).alias("w"))
        .select("doc_id", "source", F.explode(chunks).alias("chunk"))
        .select("doc_id", "source", F.xxhash64("chunk").alias("h"))
        .distinct()  # document frequency: one vote per (doc, chunk)
    )
    freq = ch.groupBy("h").agg(F.count("*").alias("df"))
    flagged = ch.join(freq, "h").withColumn(
        "boiler", (F.col("df") >= BOILER_MIN_DOCS).cast("int")
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum("boiler").alias("boiler_chunks"),
            F.countDistinct(
                F.when(F.col("boiler") == 1, F.col("doc_id"))
            ).alias("docs_affected"),
        )
        .orderBy("source")
    )


def neardup_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p12: NEAR-dup-aware eval decontamination — p05 catches exact
    shingle leakage; this op flags every held-out (test-split) document
    that has a near-duplicate (d04 pair, jaccard ≥ 0.6) in the TRAIN
    split. Exact-match decontamination misses paraphrased or
    lightly-edited leaks — the case that actually inflates evals.

    Composition, not recomputation: consumes the MEMOIZED d04 pair
    graph (the build-once artifact d08/d12 share — in production the
    dedup job's output table), symmetrizes it, semi-joins the train
    side, and left-joins the bounded contaminated-id set to the test
    slice for per-source accounting. No text is rescanned; the only
    non-id column shuffled is the md5 digest that assigns the split
    (p01's content-keyed rule, so the oracle reproduces it exactly).

    Scale shape: pair graph ≪ corpus on any deduped crawl; the
    contaminated set is bounded by 2·|pairs| and broadcast only under
    the same measured edge-count gate d12 uses.
    """
    from aw3d30_parquet_spark.functions.dedup import (
        COMPONENT_DRIVER_EDGE_CAP,
        _pair_graph,
    )

    docs = _docs(spark, sf_dir).select(
        "doc_id", "source", _split_col().alias("split")
    )
    pairs, n_pairs = _pair_graph(spark, sf_dir)
    sym = pairs.select("id_a", "id_b").unionByName(
        pairs.select(
            F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b")
        )
    )
    train_ids = docs.filter(F.col("split") == "train").select(
        F.col("doc_id").alias("id_b")
    )
    contam = (
        sym.join(train_ids, "id_b", "left_semi")
        .select(F.col("id_a").alias("doc_id"))
        .distinct()
        .withColumn("flag", F.lit(1))
    )
    if n_pairs <= COMPONENT_DRIVER_EDGE_CAP:
        contam = F.broadcast(contam)
    test = docs.filter(F.col("split") == "test")
    return (
        test.join(contam, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_test"),
            F.count("flag").alias("n_contaminated"),
            (F.count("*") - F.count("flag")).alias("n_clean"),
        )
        .orderBy("source")
    )


#: p13 hashed-feature space width. The DSIR paper uses 10k buckets on
#: web-scale corpora; 256 keeps the fixture's per-bucket counts dense
#: enough that the log-ratios are meaningful. The weight table is
#: B rows regardless of corpus size — always broadcastable.
DSIR_BUCKETS = 256
#: the "target distribution" docs: English here (the "select data that
#: looks like my curated target" scenario; any predicate works).
DSIR_TARGET_LANG = "en"


def dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p13: DSIR-style data selection via hashed n-gram importance
    weights (Xie et al. 2023, arXiv:2302.03169): score every document
    by how much more likely its features are under a TARGET
    distribution than under the RAW corpus distribution, and select
    docs with a positive log-ratio.

    Features are word uni+bigrams (multiset — every occurrence votes)
    hashed into ``DSIR_BUCKETS`` buckets; both bucket-count vectors get
    Laplace +1 smoothing, and the per-bucket weight is

        λ_b = ln((t_b + 1)/(T + B)) − ln((r_b + 1)/(R + B))

    (target = ``lang = 'en'`` docs, raw = the whole corpus — the paper
    fits target counts on an external curated set; the predicate stands
    in for it here). A document's importance weight is Σ_b n_db·λ_b —
    its log likelihood ratio under the two hashed-unigram LMs — and
    ``selected = weight > 0`` (more target-like than raw-like): a fixed
    decision boundary, NOT a global rank, so there is no global sort or
    single-partition window anywhere (p09's factored ranking exists
    when a top-fraction variant is wanted). ``n_feats`` is the exact
    integer pin; the weight sums ≤B libm-backed addends per doc
    (floor-rounded, t07's accepted risk class).

    Scale shape: gram hashing is a pure map; bucket counting is a
    partial-agg groupBy on ≤B distinct keys per side (kilobytes after
    map-side combine); the λ table is B rows — broadcast by
    construction; the per-doc weight is one more partial aggregate.
    The md5 bucket hash (vs xxhash64) is what the DuckDB oracle can
    recompute — d05/d06's trade, same rationale.
    """
    from aw3d30_parquet_spark.functions.dedup import _md5_60, _words

    b = DSIR_BUCKETS
    docs = _docs(spark, sf_dir)
    # words is projected into its own column before the bigram lambda
    # references it (element_at(words, i+2)) — an expression inlined
    # into a lambda body re-evaluates per element (see _words), which
    # made gram construction O(words²) in regex work per doc
    words = F.col("w")
    bigrams = F.transform(
        F.slice(words, 1, F.greatest(F.size(words) - 1, F.lit(0))),
        lambda w, i: F.concat_ws(
            " ", w, F.element_at(words, i + 2)
        ),
    )
    grams = F.concat(words, bigrams)
    doc_grams = docs.select(
        "doc_id",
        "source",
        "lang",
        _words(F.col("text")).alias("w"),
    ).select(
        "doc_id",
        "source",
        "lang",
        F.explode(grams).alias("g"),
    ).select(
        "doc_id",
        "source",
        "lang",
        F.pmod(_md5_60(F.col("g")), F.lit(b)).alias("bucket"),
    )
    # deliberately UNPERSISTED although the gram pipeline compiles
    # twice (λ broadcast build + weight agg side): the plain persist
    # was A/B-rejected at r12 entry, and the r12 EAGER fill
    # (persist+count) re-measured +0.98 s med over 6 interleaved
    # rounds — same verdict as t06, opposite of t09/d07/d04/p14 where
    # ≥2 racing fills of a heavier subtree made the barrier win
    doc_buckets = doc_grams.groupBy(
        "doc_id", "source", "lang", "bucket"
    ).agg(F.count("*").alias("n_db"))
    # r12 optimization (§2.3 shuffle/compute less): the λ-table build
    # used to compile FIVE full explode→md5→partial-agg gram pipelines
    # into one plan (raw + tgt under both the totals and lam
    # broadcasts, plus the final weight agg — plans/r12/
    # p13_dsir_select_before.txt shows five parquet scans). Two
    # algebraic collapses get it to TWO without any persist barrier
    # (an interleaved A/B showed a persisted doc_buckets LOSES wall
    # time here — the cache fill serializes what were concurrent
    # broadcast builds):
    # 1. raw/tgt fold into ONE conditional aggregate — the target-side
    #    bucket count is sum(n_db) over target-lang rows of the SAME
    #    relation, so the left join + coalesce(t_b, 0) is sum(CASE
    #    WHEN) exactly.
    # 2. the totals broadcast needs no gram pipeline at all: Σ_b r_b
    #    is the corpus gram count = Σ_docs size(grams), and Σ_b t_b
    #    its target-lang restriction — one cheap size() aggregate over
    #    the raw scan, identical BIGINTs (every gram lands in exactly
    #    one bucket).
    lam_rel = doc_buckets.groupBy("bucket").agg(
        F.sum("n_db").alias("r_b"),
        F.sum(
            F.when(
                F.col("lang") == DSIR_TARGET_LANG, F.col("n_db")
            ).otherwise(F.lit(0))
        ).alias("t_b"),
    )
    # gram COUNT needs no gram construction: size(concat(words,
    # bigrams)) = n + max(n−1, 0) exactly — grams is a multiset concat,
    # duplicates kept (slice(words, 1, greatest(n−1, 0)) has
    # max(n−1, 0) elements) — the totals scan does one split per row
    # and zero transform/concat work
    nw = F.size(_words(F.col("text"))).cast("long")
    n_grams = nw + F.greatest(nw - F.lit(1).cast("long"), F.lit(0).cast("long"))
    totals = docs.agg(
        F.sum(n_grams).alias("r_total"),
        F.sum(
            F.when(F.col("lang") == DSIR_TARGET_LANG, n_grams).otherwise(
                F.lit(0)
            )
        ).alias("t_total"),
    )
    lam = (
        lam_rel.crossJoin(F.broadcast(totals))
        .select(
            "bucket",
            (
                F.log((F.col("t_b") + 1) / (F.col("t_total") + b))
                - F.log((F.col("r_b") + 1) / (F.col("r_total") + b))
            ).alias("lam"),
        )
    )
    return (
        doc_buckets.join(F.broadcast(lam), "bucket")
        .groupBy("doc_id", "source", "lang")
        .agg(
            F.sum("n_db").alias("n_feats"),
            round_half_up(F.sum(F.col("n_db") * F.col("lam")), 4).alias(
                "weight"
            ),
        )
        .withColumn("selected", (F.col("weight") > 0).cast("int"))
        .orderBy("doc_id")
    )


#: p14 Bloom filter geometry: 512 words × 63 usable bits (the top bit
#: stays clear so every word is a non-negative BIGINT both engines
#: order and shift identically) = 32 256 bits, k = 5 seeded hashes.
#: Sized for the fixture's eval shingle count (~10 bits/element at
#: sf0.01); production sizes m from the eval-set cardinality
#: (m ≈ 1.44·k·n for the target FP rate) — the filter is still only
#: m/8 bytes, broadcast as ONE row.
BLOOM_WORDS = 512
BLOOM_WORD_BITS = 63
BLOOM_K = 5


def bloom_prefilter_decontaminate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """p14: Bloom-filter SEMI-JOIN REDUCTION for decontamination — the
    scale pattern for "which train docs leak into the eval set?" when
    the train side is 100 TB: build a kilobyte Bloom filter over the
    eval shingles (the SMALL side), broadcast it, and probe every train
    shingle MAP-SIDE; only Bloom-positive docs ever reach the exact
    join. p05 answers the eval-side question (which eval docs are
    contaminated); this answers the train-side one (which train docs to
    pull) without shuffling the train corpus.

    The registered query is the AUDIT form: it computes the Bloom
    verdict AND the exact verdict for every train doc and reports, per
    source, n_train / n_candidates (Bloom hits) / n_confirmed (exact
    hits) / n_false_pos — so the oracle hash-match certifies both the
    filter arithmetic and the no-false-negative guarantee (confirmed ⊆
    candidates is structural: every exact hit sets all its own bits).
    The production path exact-joins only the candidate slice.

    Plan shape: the filter is built by one explode(k)+bit_or aggregate
    over the (tiny) eval shingle set, assembled into a single
    array<long> row, and crossJoin-broadcast; the probe is a pure
    codegen expression — k seeded re-hashes of the 8-byte shingle hash
    (d06's "i:h" decimal-string seeding, md5 so DuckDB reproduces every
    bit), ``element_at`` + ``bit_get`` into the broadcast array, no
    explode, no join, no shuffle on the train side beyond the final
    per-doc/per-source aggregates (partial map-side combine). Shingle
    text never shuffles — both the probe and the exact confirm key on
    the 60-bit md5 prefix ``h0``.
    """
    from aw3d30_parquet_spark.functions.dedup import (
        _md5_60,
        _shingles_of,
        _words,
    )
    from aw3d30_parquet_spark.scratch import scratch_persist_eager

    m = BLOOM_WORDS * BLOOM_WORD_BITS
    sh = scratch_persist_eager(
        "p14",
        _docs(spark, sf_dir)
        .select(
            "doc_id",
            "source",
            (F.col("doc_id") % BENCH_MOD == 0).alias("is_bench"),
            _words(F.col("text")).alias("w"),
        )
        .select(
            "doc_id",
            "source",
            "is_bench",
            F.explode(_shingles_of(F.col("w"))).alias("s"),
        )
        .select(
            "doc_id", "source", "is_bench", _md5_60(F.col("s")).alias("h0")
        ),
    )
    eval_h = sh.filter("is_bench").select("h0").distinct()

    def _pos(i, h0):
        return F.pmod(
            _md5_60(
                F.concat_ws(":", i.cast("string"), h0.cast("string"))
            ),
            F.lit(m),
        )

    pos = eval_h.select(
        F.explode(F.sequence(F.lit(0), F.lit(BLOOM_K - 1))).alias("i"),
        "h0",
    ).select(_pos(F.col("i"), F.col("h0")).alias("pos"))
    word_rows = (
        pos.select(
            (F.col("pos") / BLOOM_WORD_BITS).cast("int").alias("word"),
            F.pmod(F.col("pos"), F.lit(BLOOM_WORD_BITS)).alias("bit"),
        )
        .groupBy("word")
        .agg(
            F.bit_or(
                F.expr(
                    "shiftleft(CAST(1 AS BIGINT), CAST(bit AS INT))"
                )
            ).alias("bits")
        )
    )
    bm = word_rows.groupBy().agg(
        F.map_from_entries(
            F.collect_list(F.struct("word", "bits"))
        ).alias("wb")
    ).select(
        F.transform(
            F.sequence(F.lit(0), F.lit(BLOOM_WORDS - 1)),
            lambda w: F.coalesce(
                F.element_at(F.col("wb"), w), F.lit(0).cast("long")
            ),
        ).alias("bm")
    )

    def _hit():
        def chk(acc, i):
            p = _pos(i, F.col("h0"))
            word = (p / BLOOM_WORD_BITS).cast("int")
            bit = F.pmod(p, F.lit(BLOOM_WORD_BITS)).cast("int")
            return acc & (
                F.bit_get(F.element_at(F.col("bm"), word + 1), bit) == 1
            )

        return F.aggregate(
            F.sequence(F.lit(0), F.lit(BLOOM_K - 1)), F.lit(True), chk
        )

    probed = (
        sh.filter(~F.col("is_bench"))
        .crossJoin(F.broadcast(bm))
        .join(
            F.broadcast(eval_h.withColumn("ex", F.lit(1))), "h0", "left"
        )
        .groupBy("doc_id", "source")
        .agg(
            F.count("*").alias("n_sh"),
            F.count_if(_hit()).alias("n_bloom"),
            F.count("ex").alias("n_exact"),
        )
    )
    return (
        probed.groupBy("source")
        .agg(
            F.count("*").alias("n_train"),
            F.count_if(F.col("n_bloom") > 0).alias("n_candidates"),
            F.count_if(F.col("n_exact") > 0).alias("n_confirmed"),
            (
                F.count_if(F.col("n_bloom") > 0)
                - F.count_if(F.col("n_exact") > 0)
            ).alias("n_false_pos"),
        )
        .orderBy("source")
    )


#: p15 repeat-factor resolution (millionths) — fractional epochs are
#: resolved per document by a digest draw at this granularity.
REPEAT_RESOLUTION = 10**6


def repeat_factor_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p15: repeat-factor (epoch) data mixing — the UPSAMPLING
    complement to p10's budget truncation: p10 decides what to keep
    under a token budget; this decides how many EPOCHS of each source
    the training run sees (the Llama-recipe "sampling proportions"
    knob: wiki 3 epochs, web <1, etc.), emitting the replicated
    dataset itself.

    Exact-integer spec (oracle-stable): target weights derive from the
    source name (``srcK`` → weight K+1 — a stand-in for a quality
    table; at scale this is a joined dimension); the repeat factor in
    millionths is ``r = weight·N·10⁶ div (W·n_s)`` (N total docs, W
    total weight, n_s source size). Each doc emits ``r div 10⁶``
    guaranteed copies plus one more iff its digest draw
    ``md5₆₀(doc_id) mod 10⁶ < r mod 10⁶`` — deterministic fractional
    epochs with exactly the right expectation, no RNG, no global
    sort. The emitted relation (doc_id, epoch) is the real product;
    the driver row audits per source: n_docs, r_milli, n_emitted
    (counted FROM the exploded relation, certifying the generation).

    Scale shape: the (source → weight, n_s, N, W) relation is
    |sources| rows — broadcast; replication is a map-side
    explode(sequence) with no shuffle; the audit is one partial agg.
    """
    from aw3d30_parquet_spark.functions.dedup import _md5_60

    docs = _docs(spark, sf_dir).select("doc_id", "source")
    res = REPEAT_RESOLUTION
    stats = docs.groupBy("source").agg(F.count("*").alias("n_s"))
    # digit-less source names default to weight 1 on BOTH engines: the
    # bare cast yields NULL here ('' -> NULL, silent zero-emission
    # cascade) but a cast ERROR in DuckDB — a divergent failure mode
    # on unexpected fixture data (ADVICE r5). coalesce(…, 0) + 1 makes
    # the fallback explicit and identical.
    weight = (
        F.coalesce(
            F.regexp_extract(F.col("source"), r"(\d+)$", 1).cast("long"),
            F.lit(0),
        )
        + 1
    )
    totals = stats.select(
        F.sum("n_s").alias("n_total"),
        F.sum(weight).alias("w_total"),
    )
    rates = (
        stats.crossJoin(F.broadcast(totals))
        .select(
            "source",
            "n_s",
            # pure long arithmetic: products fit well under 2^63
            (weight * F.col("n_total") * F.lit(res)).alias("_num"),
            F.col("w_total"),
        )
        .select(
            "source",
            "n_s",
            F.expr("_num div (w_total * n_s)").alias("r_milli"),
        )
    )
    emitted = (
        docs.join(F.broadcast(rates), "source")
        .withColumn(
            "copies",
            F.expr(f"r_milli div {res}")
            + (
                F.pmod(
                    _md5_60(F.col("doc_id").cast("string")), F.lit(res)
                )
                < F.pmod(F.col("r_milli"), F.lit(res))
            ).cast("long"),
        )
        .withColumn(
            "epoch",
            F.explode(
                F.when(
                    F.col("copies") >= 1,
                    F.sequence(F.lit(1), F.col("copies")),
                ).otherwise(F.array().cast("array<int>"))
            ),
        )
    )
    audit = emitted.groupBy("source").agg(
        F.count("*").alias("n_emitted")
    )
    return (
        rates.join(audit, "source", "left")
        .select(
            "source",
            "n_s",
            "r_milli",
            F.coalesce("n_emitted", F.lit(0)).alias("n_emitted"),
        )
        .orderBy("source")
    )


QUERIES = {
    "p01_hash_split": hash_split_assign,
    "p02_pack_token_bins": pack_token_bins,
    "p03_stratified_sample": stratified_sample,
    "p04_pii_redact": pii_redact,
    "p05_decontaminate": decontaminate,
    "p06_quality_funnel": quality_funnel,
    "p07_repetition_filter": repetition_filter,
    "p08_shard_assign": shard_assign,
    "p09_curriculum_bins": curriculum_bins,
    "p10_mixture_budget": mixture_budget,
    "p11_boilerplate_chunks": boilerplate_chunks,
    "p12_neardup_decontaminate": neardup_decontaminate,
    "p13_dsir_select": dsir_select,
    "p14_bloom_prefilter": bloom_prefilter_decontaminate,
    "p15_repeat_factor_mixture": repeat_factor_mixture,
}

ORACLE_SQL = {
    "p01_hash_split": f"""
SELECT CASE WHEN md5(text) < '{SPLIT_TRAIN_LT}' THEN 'train'
            WHEN md5(text) < '{SPLIT_VAL_LT}' THEN 'val'
            ELSE 'test' END AS split,
       count(*) AS n_docs,
       CAST(sum(len(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT)
         AS total_tokens
FROM documents GROUP BY 1 ORDER BY split
""",
    "p02_pack_token_bins": f"""
WITH toks AS (
  SELECT doc_id, source,
         len(regexp_split_to_array(trim(text), '\\s+')) AS n_tok
  FROM documents
), binned AS (
  SELECT doc_id, source, n_tok,
         CAST(floor((sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     - n_tok) / {PACK_CAPACITY_TOKENS}) AS BIGINT) AS bin_id
  FROM toks
)
SELECT source, bin_id, count(*) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS bin_tokens,
       min(doc_id) AS first_doc, max(doc_id) AS last_doc
FROM binned GROUP BY source, bin_id ORDER BY source, bin_id
""",
    "p03_stratified_sample": f"""
WITH ranked AS (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang ORDER BY md5(text), doc_id) AS rn,
         count(*) OVER (PARTITION BY lang) AS n
  FROM documents
)
SELECT doc_id, lang FROM ranked
WHERE rn <= ceil(n * {SAMPLE_FRACTION}) ORDER BY doc_id
""",
    "p04_pii_redact": """
WITH aug AS (
  SELECT doc_id,
         text || ' contact: ' || source || '@example.com +1-555-' ||
         lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS contact
  FROM documents WHERE doc_id < 50
)
SELECT doc_id,
       CAST(len(regexp_extract_all(contact, '[a-z0-9]+@[a-z0-9.]+\\.[a-z]+')) AS INTEGER) AS n_email,
       CAST(len(regexp_extract_all(contact, '\\+1-555-[0-9]{4}')) AS INTEGER) AS n_phone,
       length(regexp_replace(regexp_replace(contact,
              '[a-z0-9]+@[a-z0-9.]+\\.[a-z]+', '[EMAIL]', 'g'),
              '\\+1-555-[0-9]{4}', '[PHONE]', 'g')) AS len_redacted
FROM aug ORDER BY doc_id
""",
    # leak counting is on shingle STRINGS here vs xxhash64 ints in
    # Spark — identical counts absent a 64-bit collision (d04 argument)
    "p05_decontaminate": f"""
WITH words AS (
  SELECT doc_id, doc_id % {BENCH_MOD} = 0 AS is_bench,
         regexp_split_to_array(trim(text), '\\s+') AS w
  FROM documents
), shing AS (
  SELECT doc_id, is_bench,
         CASE WHEN len(w) >= 3
              THEN list_distinct(list_transform(range(1, len(w) - 1),
                                 i -> array_to_string(w[i:i+2], ' ')))
              ELSE [array_to_string(w, ' ')] END AS shs
  FROM words
), bench AS (
  SELECT doc_id, unnest(shs) AS sh FROM shing WHERE is_bench
), train AS (
  SELECT DISTINCT unnest(shs) AS sh FROM shing WHERE NOT is_bench
)
SELECT b.doc_id, count(*) AS n_sh, count(t.sh) AS n_hit,
       CAST(floor(count(t.sh) / CAST(count(*) AS DOUBLE) * 100 + 0.5) AS BIGINT) / 100.0 AS leak_frac,
       CAST(count(t.sh) >= count(*) * {LEAK_FLAG} AS INT) AS contaminated
FROM bench b LEFT JOIN train t USING (sh)
GROUP BY b.doc_id ORDER BY doc_id
""",
    "p06_quality_funnel": f"""
WITH flags AS (
  SELECT text, lang,
         regexp_split_to_array(trim(text), '\\s+') AS toks
  FROM documents
), conds AS (
  SELECT text,
         lang IN ('en','de','fr') AS c_lang,
         lang IN ('en','de','fr') AND len(toks) >= {FUNNEL_MIN_TOKENS} AS c_len,
         lang IN ('en','de','fr') AND len(toks) >= {FUNNEL_MIN_TOKENS}
           AND len(list_filter(toks,
               t -> t IN ('the','and','of','to','in','is','that','for'))) > 0 AS c_qual
  FROM flags
), agg AS (
  SELECT count(*) AS s0,
         count(CASE WHEN c_lang THEN 1 END) AS s1,
         count(CASE WHEN c_len THEN 1 END) AS s2,
         count(CASE WHEN c_qual THEN 1 END) AS s3,
         count(DISTINCT CASE WHEN c_qual THEN md5(text) END) AS s4
  FROM conds
), stages AS (
  SELECT 'raw' AS stage, s0 AS n_docs, s0 AS total FROM agg UNION ALL
  SELECT 'lang', s1, s0 FROM agg UNION ALL
  SELECT 'min_len', s2, s0 FROM agg UNION ALL
  SELECT 'quality', s3, s0 FROM agg UNION ALL
  SELECT 'dedup', s4, s0 FROM agg
)
SELECT stage, n_docs,
       CAST(floor(n_docs / CAST(total AS DOUBLE) * 1000 + 0.5) AS BIGINT) / 1000.0 AS retained_frac
FROM stages ORDER BY n_docs DESC, stage
""",
    # integer-sum-derived ratios: no float summation order dependence
    "p07_repetition_filter": """
WITH per_doc AS (
  SELECT lang,
         len(regexp_split_to_array(trim(text), '\\s+')) AS n_words,
         len(list_distinct(regexp_split_to_array(trim(text), '\\s+')))
           AS n_distinct
  FROM documents
)
SELECT lang, count(*) AS n_docs,
       CAST(sum(CASE WHEN 2 * n_distinct <= n_words THEN 1 ELSE 0 END)
            AS BIGINT) AS heavy_repeat_docs,
       CAST(sum(n_words) AS BIGINT) AS total_words,
       CAST(sum(n_distinct) AS BIGINT) AS total_distinct,
       CAST(floor(sum(n_distinct) * 10000.0 / sum(n_words)) AS BIGINT)
         AS distinct_bp
FROM per_doc GROUP BY lang ORDER BY lang
""",
    # p09: DuckDB affords the global ntile window single-node; the
    # engine derives the identical split with distributed rank
    "p09_curriculum_bins": """
WITH scored AS (
  SELECT doc_id,
         len(regexp_split_to_array(trim(text), '\\s+')) AS n_tok,
         len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
             t -> t IN ('the','and','of','to','in','is','that','for')))
           AS stop_cnt
  FROM documents
), ranked AS (
  SELECT n_tok, (stop_cnt * 10000) // n_tok AS score_bp,
         ntile(4) OVER (ORDER BY (stop_cnt * 10000) // n_tok DESC, doc_id)
           AS phase
  FROM scored
)
SELECT phase, count(*) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS phase_tokens,
       CAST(min(score_bp) AS BIGINT) AS min_bp,
       CAST(max(score_bp) AS BIGINT) AS max_bp
FROM ranked GROUP BY phase ORDER BY phase
""",
    # hex-prefix → int: Spark conv(_,16,10), DuckDB '0x' cast — same
    # 16-bit value, same mod
    "p08_shard_assign": f"""
WITH s AS (
  SELECT CAST(('0x' || substr(md5(text), 1, 4)) AS INT) % {N_SHARDS}
           AS shard_id,
         len(regexp_split_to_array(trim(text), '\\s+')) AS n_tok
  FROM documents
)
SELECT shard_id, count(*) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS shard_tokens
FROM s GROUP BY shard_id ORDER BY shard_id
""",
    # all-integer spec (DIV-derived budget/targets, exclusive-cumsum
    # boundary) — no float in the kept/target arithmetic on either side
    "p10_mixture_budget": f"""
WITH per_doc AS (
  SELECT doc_id, lang, md5(text) AS h,
         len(regexp_split_to_array(trim(text), '\\s+')) AS n_tok
  FROM documents
), tot AS (
  SELECT sum(n_tok) * {MIXTURE_BUDGET_FRAC_PCT} // 100 AS budget FROM per_doc
), targets AS (
  SELECT m.lang, CAST(tot.budget * m.pct // 100 AS BIGINT) AS target_tok
  FROM (VALUES {",".join(f"('{k}',{v})" for k, v in MIXTURE_PCT.items())})
       m(lang, pct), tot
), cum AS (
  SELECT lang, n_tok,
         sum(n_tok) OVER (PARTITION BY lang ORDER BY h, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok
           AS cum_excl
  FROM per_doc
)
SELECT c.lang, any_value(t.target_tok) AS target_tok,
       count(CASE WHEN c.cum_excl < t.target_tok THEN 1 END) AS kept_docs,
       CAST(sum(CASE WHEN c.cum_excl < t.target_tok THEN c.n_tok END)
            AS BIGINT) AS kept_tokens,
       count(*) AS stratum_docs,
       CAST(sum(c.n_tok) AS BIGINT) AS stratum_tokens
FROM cum c JOIN targets t USING (lang)
GROUP BY c.lang ORDER BY c.lang
""",
    # p11: chunk strings compared directly in DuckDB vs xxhash64 keys
    # in Spark — identical counts absent a 64-bit collision (d04 note)
    "p11_boilerplate_chunks": f"""
WITH words AS (
  SELECT doc_id, source,
         regexp_split_to_array(trim(text), '\\s+') AS w
  FROM documents
), raw AS (
  SELECT doc_id, source,
         unnest(list_transform(range(CAST(ceil(len(w) / {BOILER_CHUNK_TOKENS}.0) AS INT)),
                i -> array_to_string(w[i * {BOILER_CHUNK_TOKENS} + 1 : i * {BOILER_CHUNK_TOKENS} + {BOILER_CHUNK_TOKENS}], ' ')))
           AS chunk
  FROM words
), ch AS (
  SELECT DISTINCT doc_id, source, chunk FROM raw
), freq AS (
  SELECT chunk, count(*) AS df FROM ch GROUP BY chunk
)
SELECT c.source, count(*) AS n_chunks,
       CAST(sum(CASE WHEN f.df >= {BOILER_MIN_DOCS} THEN 1 ELSE 0 END)
            AS BIGINT) AS boiler_chunks,
       count(DISTINCT CASE WHEN f.df >= {BOILER_MIN_DOCS} THEN c.doc_id END)
         AS docs_affected
FROM ch c JOIN freq f USING (chunk)
GROUP BY c.source ORDER BY c.source
""",
}


def _p12_oracle() -> str:
    """p12 oracle: d04's pair SQL nested under the split rule — the
    oracle recomputes the near-dup graph independently, then applies
    the identical md5-prefix split + per-source accounting."""
    from aw3d30_parquet_spark.functions.dedup import ORACLE_SQL as DEDUP_SQL

    return f"""
WITH pairs AS (
  SELECT id_a, id_b FROM ({DEDUP_SQL["d04_ngram_jaccard_pairs"]}) p
), sym AS (
  SELECT id_a, id_b FROM pairs
  UNION ALL
  SELECT id_b AS id_a, id_a AS id_b FROM pairs
), lab AS (
  SELECT doc_id, source,
         CASE WHEN md5(text) < '{SPLIT_TRAIN_LT}' THEN 'train'
              WHEN md5(text) < '{SPLIT_VAL_LT}' THEN 'val'
              ELSE 'test' END AS split
  FROM documents
), contam AS (
  SELECT DISTINCT s.id_a AS doc_id
  FROM sym s JOIN lab t ON s.id_b = t.doc_id AND t.split = 'train'
)
SELECT l.source, count(*) AS n_test,
       count(c.doc_id) AS n_contaminated,
       count(*) - count(c.doc_id) AS n_clean
FROM lab l LEFT JOIN contam c USING (doc_id)
WHERE l.split = 'test'
GROUP BY l.source ORDER BY l.source
"""


ORACLE_SQL["p12_neardup_decontaminate"] = _p12_oracle()

# p13: the same hashed-n-gram importance arithmetic — md5-bucketed
# uni+bigram multisets, Laplace-smoothed count vectors, per-doc
# Σ n_db·λ_b with the exact-integer n_feats pin (ln is libm-backed,
# floor-rounded — t07's risk class).
ORACLE_SQL["p13_dsir_select"] = f"""
WITH words AS (
  SELECT doc_id, source, lang,
         regexp_split_to_array(trim(text), '\\s+') AS w
  FROM documents
), grams AS (
  SELECT doc_id, source, lang,
         list_concat(w, list_transform(range(1, len(w)),
                     i -> w[i] || ' ' || w[i + 1])) AS gs
  FROM words
), g AS (
  SELECT doc_id, source, lang,
         ('0x' || substr(md5(unnest(gs)), 1, 15))::BIGINT % {DSIR_BUCKETS}
           AS bucket
  FROM grams
), doc_buckets AS (
  SELECT doc_id, source, lang, bucket, count(*) AS n_db
  FROM g GROUP BY doc_id, source, lang, bucket
), raw AS (
  SELECT bucket, sum(n_db) AS r_b FROM doc_buckets GROUP BY bucket
), tgt AS (
  SELECT bucket, sum(n_db) AS t_b FROM doc_buckets
  WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY bucket
), lam_rel AS (
  SELECT raw.bucket, raw.r_b, coalesce(tgt.t_b, 0) AS t_b
  FROM raw LEFT JOIN tgt ON raw.bucket = tgt.bucket
), totals AS (
  SELECT sum(r_b) AS r_total, sum(t_b) AS t_total FROM lam_rel
), lam AS (
  SELECT bucket,
         ln((t_b + 1) / CAST(t_total + {DSIR_BUCKETS} AS DOUBLE))
         - ln((r_b + 1) / CAST(r_total + {DSIR_BUCKETS} AS DOUBLE)) AS lam
  FROM lam_rel CROSS JOIN totals
), scored AS (
  SELECT d.doc_id, d.source, d.lang,
         CAST(sum(d.n_db) AS BIGINT) AS n_feats,
         CAST(floor(sum(d.n_db * l.lam) * 10000 + 0.5) AS BIGINT)
           / 10000.0 AS weight
  FROM doc_buckets d JOIN lam l ON d.bucket = l.bucket
  GROUP BY d.doc_id, d.source, d.lang
)
SELECT doc_id, source, lang, n_feats, weight,
       CAST(weight > 0 AS INT) AS selected
FROM scored ORDER BY doc_id
"""

# p14: the full Bloom arithmetic recomputed from first principles —
# same 60-bit md5 shingle hashes, same "i:h" seeded positions, same
# 63-bit word layout and bit_or fold; the probe is re-derived as an
# explode+join instead of the engine's broadcast-array expression, so
# a hash match certifies the filter CONTENTS, not the plan.
ORACLE_SQL["p14_bloom_prefilter"] = f"""
WITH words AS (
  SELECT doc_id, source, regexp_split_to_array(trim(text), '\\s+') AS w
  FROM documents
), shing AS (
  SELECT doc_id, source, doc_id % {BENCH_MOD} = 0 AS is_bench,
         CASE WHEN len(w) >= 3
              THEN list_distinct(list_transform(range(1, len(w) - 1),
                                 i -> array_to_string(w[i:i+2], ' ')))
              ELSE [array_to_string(w, ' ')] END AS shs
  FROM words
), sh AS (
  SELECT doc_id, source, is_bench,
         ('0x' || substr(md5(unnest(shs)), 1, 15))::BIGINT AS h0
  FROM shing
), eval_h AS (
  SELECT DISTINCT h0 FROM sh WHERE is_bench
), pos AS (
  SELECT ('0x' || substr(md5(i.i::VARCHAR || ':' || h0::VARCHAR), 1, 15))::BIGINT
           % {BLOOM_WORDS * BLOOM_WORD_BITS} AS pos
  FROM eval_h, (SELECT unnest(range(0, {BLOOM_K})) AS i) i
), bmw AS (
  SELECT pos // {BLOOM_WORD_BITS} AS word,
         bit_or(1::BIGINT << (pos % {BLOOM_WORD_BITS})::INT) AS bits
  FROM pos GROUP BY 1
), probe AS (
  SELECT s.doc_id, s.source, s.h0, i.i,
         ('0x' || substr(md5(i.i::VARCHAR || ':' || s.h0::VARCHAR), 1, 15))::BIGINT
           % {BLOOM_WORDS * BLOOM_WORD_BITS} AS pos
  FROM sh s, (SELECT unnest(range(0, {BLOOM_K})) AS i) i
  WHERE NOT s.is_bench
), checked AS (
  SELECT p.doc_id, p.source, p.h0,
         min(CASE WHEN ((coalesce(b.bits, 0) >> (p.pos % {BLOOM_WORD_BITS})::INT) & 1) = 1
                  THEN 1 ELSE 0 END) AS all_set
  FROM probe p LEFT JOIN bmw b ON b.word = p.pos // {BLOOM_WORD_BITS}
  GROUP BY p.doc_id, p.source, p.h0
), per_sh AS (
  SELECT c.doc_id, c.source, c.all_set,
         CASE WHEN e.h0 IS NULL THEN 0 ELSE 1 END AS ex
  FROM checked c LEFT JOIN eval_h e ON e.h0 = c.h0
), per_doc AS (
  SELECT doc_id, source,
         count(*) AS n_sh,
         CAST(sum(all_set) AS BIGINT) AS n_bloom,
         CAST(sum(ex) AS BIGINT) AS n_exact
  FROM per_sh GROUP BY doc_id, source
)
SELECT source,
       count(*) AS n_train,
       count(*) FILTER (n_bloom > 0) AS n_candidates,
       count(*) FILTER (n_exact > 0) AS n_confirmed,
       count(*) FILTER (n_bloom > 0) - count(*) FILTER (n_exact > 0)
         AS n_false_pos
FROM per_doc GROUP BY source ORDER BY source
"""

# p15: the oracle recomputes the integer repeat rates and the per-doc
# digest draw; emitted counts are the sum of copies (the semantic spec
# — the Spark side must reach the same number THROUGH the explode).
ORACLE_SQL["p15_repeat_factor_mixture"] = f"""
WITH docs AS (
  SELECT doc_id, source,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
  FROM documents
), stats AS (
  SELECT source, count(*) AS n_s,
         CAST(coalesce(nullif(regexp_extract(source, '(\\d+)$', 1), ''),
                       '0') AS BIGINT) + 1 AS weight
  FROM docs GROUP BY source
), totals AS (
  SELECT sum(n_s) AS n_total, sum(weight) AS w_total FROM stats
), rates AS (
  SELECT source, n_s,
         (weight * n_total * {REPEAT_RESOLUTION})
           // (w_total * n_s) AS r_milli
  FROM stats, totals
), copies AS (
  SELECT d.source, r.r_milli, r.n_s,
         r.r_milli // {REPEAT_RESOLUTION}
         + CASE WHEN d.h % {REPEAT_RESOLUTION}
                     < r.r_milli % {REPEAT_RESOLUTION}
                THEN 1 ELSE 0 END AS copies
  FROM docs d JOIN rates r ON r.source = d.source
)
SELECT source,
       CAST(min(n_s) AS BIGINT) AS n_s,
       CAST(min(r_milli) AS BIGINT) AS r_milli,
       CAST(sum(copies) AS BIGINT) AS n_emitted
FROM copies GROUP BY source ORDER BY source
"""
