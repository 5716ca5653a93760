"""Text-analysis operators over the ``documents`` table.

All hot-path expressions are built-in ``pyspark.sql.functions`` (JVM
whole-stage codegen; no Python UDFs): tokenization via ``split``,
stopword hits via higher-order ``filter``, BPE-ish token counting via
``regexp_extract_all``. Language-ID is a stopword-profile argmax — also
pure built-ins; its DuckDB oracle is generated below from the same
``LANG_STOPWORDS`` profiles (integer hit counts + pinned tie order ⇒
fully deterministic across engines).

At 100 TB these are embarrassingly parallel map-side ops: no shuffle at
all except the final aggregates, which do partial map-side combine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aw3d30_parquet_spark.numeric import round_half_up
from aw3d30_parquet_spark.session import register_views, session_width, spread

#: Tiny per-language stopword profiles for the heuristic language-ID.
#: Deterministic, dependency-free; tie order pinned (list order wins).
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "for"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "es": ("el", "la", "los", "las", "es", "de", "que", "para"),
    "fr": ("le", "la", "les", "est", "et", "une", "que", "pour"),
    "zh": ("de", "shi", "le", "wo", "ni", "ta", "men", "zai"),
}

#: English stopwords used by the quality score.
STOPWORDS = LANG_STOPWORDS["en"]

BPE_ISH_PATTERN = r"\w+|[^\w\s]"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    # expensive per-row kernels downstream: fan the (single-split)
    # scan out to all cores; no-op when splits >= parallelism
    return spread(spark.table("documents"))


def _tokens(col):
    return F.split(F.trim(col), r"\s+")


def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc char/token counts + mean token length (whitespace tokens)."""
    toks = _tokens(F.col("text"))
    n_tokens = F.size(toks)
    return (
        _docs(spark, sf_dir)
        .select(
            "doc_id",
            F.length("text").alias("n_chars"),
            n_tokens.alias("n_tokens"),
            # round_half_up instead of round(): ratios like
            # 189/40 = 4.725 sit exactly on the .005 boundary, where
            # Spark (HALF_UP on decimal string) and DuckDB (binary
            # double) disagree (see numeric.py). Token chars strip ALL
            # whitespace — the tokenizer splits on \s+, so
            # tabs/newlines are separators, not token characters.
            round_half_up(
                F.length(F.regexp_replace(F.col("text"), r"\s+", ""))
                / n_tokens.cast("double"),
                2,
            ).alias("avg_tok_len"),
        )
        .orderBy("doc_id")
    )


def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-ratio quality signal (LLM-corpus filtering primitive)."""
    toks = _tokens(F.col("text"))
    stop_cnt = F.size(
        F.filter(toks, lambda t: t.isin(*STOPWORDS))
    )
    n_tokens = F.size(toks)
    # round_half_up — see numeric.py (0.125-style halfway ratios
    # round differently between Spark and DuckDB under round()).
    ratio = round_half_up(stop_cnt / n_tokens.cast("double"), 2)
    return (
        _docs(spark, sf_dir)
        .select(
            "doc_id",
            stop_cnt.alias("stop_cnt"),
            ratio.alias("stop_ratio"),
            ((n_tokens >= 5) & (stop_cnt > 0)).cast("int").alias("is_quality"),
        )
        .orderBy("doc_id")
    )


def token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting: words + isolated punctuation marks."""
    return (
        _docs(spark, sf_dir)
        .select(
            "doc_id",
            F.size(
                F.regexp_extract_all(F.col("text"), F.lit(BPE_ISH_PATTERN), 0)
            ).alias("n_bpe"),
        )
        .orderBy("doc_id")
    )


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language-ID: argmax of per-language stopword hits.

    Pure built-ins — one ``filter``+``size`` per language profile, then
    a ``greatest``/``when`` argmax with pinned tie order. Returns the
    prediction next to the labeled lang for agreement analysis.
    """
    df = _docs(spark, sf_dir)
    toks = _tokens(F.col("text"))
    langs = list(LANG_STOPWORDS)
    def _hits(words):
        # NB: the HOF lambda must be unary — a second parameter would be
        # interpreted as the element index by F.filter.
        return F.size(F.filter(toks, lambda t: t.isin(*words)))

    for lang in langs:
        df = df.withColumn(f"hits_{lang}", _hits(LANG_STOPWORDS[lang]))
    best = F.greatest(*[F.col(f"hits_{lang}") for lang in langs])
    pred = F.lit("unk")
    # Reverse order so earlier langs win ties (en first).
    for lang in reversed(langs):
        pred = F.when(
            (F.col(f"hits_{lang}") == best) & (best > 0), lang
        ).otherwise(pred)
    return df.select(
        "doc_id", "lang", pred.alias("pred_lang")
    ).orderBy("doc_id")


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive document fingerprint: md5 of the sorted token
    bag — the exact-dedup key that also catches token permutations."""
    toks = F.array_sort(_tokens(F.col("text")))
    return (
        _docs(spark, sf_dir)
        .select(
            "doc_id", F.md5(F.concat_ws(" ", toks)).alias("fp")
        )
        .orderBy("doc_id")
    )


def tfidf_top_terms(spark: SparkSession, sf_dir: str, k: int = 3) -> DataFrame:
    """V6: top-k TF-IDF terms per document, all built-in expressions.

    explode tokens → per-(doc, term) TF → per-term DF (one small agg,
    reused via self-join) → smoothed idf = ln((N+1)/(df+1)) + 1 →
    row_number top-k per doc with (score desc, term) tie-break.

    At 100 TB: the DF relation is |vocabulary|-sized (≪ corpus) and
    broadcast; both aggregations are partial+final map-side combines.
    Determinism contract (what makes this oracle-checkable): ranking
    and output use the FLOOR-ROUNDED score floor(tf·idf·10⁴+0.5)/10⁴
    with a term tiebreak — pure IEEE arithmetic both engines compute
    identically on identical doubles; the residual risk is a last-ulp
    ``ln`` divergence landing exactly on a rounding boundary (~1e-13
    per row — the accepted class t07 documents). Also verified against
    a pure Python recomputation in pytest.
    """
    docs = _docs(spark, sf_dir)
    # corpus size as a broadcast 1-row relation, not a driver .count()
    # scalar — keeps the whole query one lazy plan (no extra job, no
    # driver materialization in a package path)
    n_docs_rel = docs.agg(F.count("*").alias("n_docs"))
    terms = docs.select(
        "doc_id", F.explode(_tokens(F.col("text"))).alias("term")
    )
    # deliberately UNPERSISTED although the TF subtree compiles twice
    # (DF broadcast build + scored side): a plain persist was A/B-
    # rejected at r12 entry, and the r12 EAGER fill (persist+count)
    # re-measured +0.60 s med over 6 interleaved rounds even at ~15
    # effective cores — one explode+agg duplicate is cheaper than
    # serializing the fill ahead of both consumers (contrast t09,
    # where THREE racing fills made the barrier win −1.2 s)
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    # DF derives from the TF relation — (doc_id, term) is already
    # distinct there, so this is a plain count, not a countDistinct
    # over a second scan+explode of the corpus.
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    idf = F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0
    score_r = (
        round_half_up(F.col("tf") * idf, 4)
    )
    scored = (
        tf.join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(n_docs_rel))
        .withColumn("score", score_r)
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("term")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("doc_id", "rn", "term", "tf", "df", "score")
        .orderBy("doc_id", "rn")
    )


def unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t07: per-doc mean unigram surprisal −ln p(token) under the
    corpus's own unigram LM — the classic cheap perplexity proxy for
    pretraining-data quality filtering (rare-token-heavy docs score
    high; boilerplate scores low).

    Shape at 100 TB: one explode → term-frequency aggregate (partial
    map-side combine), the 1-row total crossJoin-broadcast, one join of
    tokens against the frequency relation (AQE broadcasts it while
    vocabulary ≪ corpus; hash the term key if the vocabulary itself is
    huge), one final per-doc aggregate. ``sum_tf`` is an exact integer
    column so the hash check pins the join itself; the surprisal mean
    is libm-backed (ln) and floor-rounded to 2 decimals — addends may
    differ between engines in the last ulp, giving a boundary-hit
    probability per row of ~1e-13 (the same accepted risk class as
    t01/t02's ratio rounding).
    """
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id", F.explode(_tokens(F.col("text"))).alias("term")
    )
    tf = toks.groupBy("term").agg(F.count("*").alias("tf"))
    # r12 (§2.3 "don't compute things you throw away"): Σ tf over the
    # vocabulary IS the total token count, so the broadcast total no
    # longer re-runs the scan→explode→agg pipeline a third time
    # (plans/r12/t07_*_before.txt) — one cheap size() aggregate over
    # the raw scan computes the identical BIGINT before the cast.
    total = docs.agg(
        F.sum(F.size(_tokens(F.col("text"))))
        .cast("double")
        .alias("n_total")
    )
    nll = -F.log(F.col("tf").cast("double") / F.col("n_total"))
    surprisal = round_half_up(F.avg(nll), 2)
    return (
        toks.join(tf, "term")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("tf").alias("sum_tf"),
            surprisal.alias("surprisal"),
        )
        .orderBy("doc_id")
    )


#: bounded query slice for t08: 1% of the corpus are "query" docs,
#: under the same FIXED budget as t09/t10 (doc_id < BM25_QUERY_CAP) —
#: retrieval QPS is corpus-independent, so the query volume must not
#: scale with the corpus (the r6 100x probe caught t08 growing its
#: query set with the replicas, the exact blowup t09's cap fixed in
#: r5). A no-op at every driver scale (all sf<=0.1 doc_ids < 5000).
SIMILAR_QUERY_MOD = 100
SIMILAR_TOP_K = 5


def similar_doc_search(
    spark: SparkSession, sf_dir: str, k: int = SIMILAR_TOP_K
) -> DataFrame:
    """t08: top-k most-similar documents per query doc — similarity
    SEARCH over the inverted shingle index (d04's machinery pointed at
    retrieval instead of threshold pairs: "find sources/near-copies of
    this document" is the curation question; "all pairs above t" is
    the dedup one).

    Query set is a bounded deterministic slice (``doc_id % 100 = 0``)
    under the FIXED ``BM25_QUERY_CAP`` budget — query volume must not
    scale with the corpus. Plan shape: the hashed-shingle stream is built
    ONCE (persisted — both the query slice and the corpus side read
    it), the candidate join is ASYMMETRIC (query shingles ⋈ corpus
    index), so candidate volume is linear in the query count × shingle
    df — never corpus². Ranking runs per query over its own candidate
    set (a window partitioned by q_id, size df-bounded), top-k with a
    deterministic tie-break. Ranks compare the ROUNDED jaccard
    (floor-half-up, the shared numeric contract) so the rank order is
    the exact integer-ratio order both engines agree on.

    At 100 TB the shingle stream is the maintained inverted-index
    table; per-query top-k is the classic search-serving shape and the
    window never sees more than one query's candidates.
    """
    from pyspark.sql import Window

    from aw3d30_parquet_spark.functions.dedup import (
        _scratch_persist_eager,
        _shingles_of,
        _words,
    )

    docs = _docs(spark, sf_dir)
    sh = _scratch_persist_eager(
        "t08",
        docs.select("doc_id", _words(F.col("text")).alias("w"))
        .select("doc_id", _shingles_of(F.col("w")).alias("shs"))
        .select(
            "doc_id",
            F.size("shs").alias("n"),
            F.explode_outer("shs").alias("s"),
        )
        .select("doc_id", "n", F.xxhash64("s").alias("h")),
    )
    q = sh.filter(
        (F.col("doc_id") % SIMILAR_QUERY_MOD == 0)
        & (F.col("doc_id") < BM25_QUERY_CAP)
    )
    inter = (
        q.alias("q")
        .join(
            sh.alias("c"),
            (F.col("q.h") == F.col("c.h"))
            & (F.col("q.doc_id") != F.col("c.doc_id")),
        )
        .groupBy(
            F.col("q.doc_id").alias("q_id"),
            F.col("c.doc_id").alias("c_id"),
            F.col("q.n").alias("n_q"),
            F.col("c.n").alias("n_c"),
        )
        .agg(F.count("*").alias("inter"))
    )
    jac = F.col("inter") / (F.col("n_q") + F.col("n_c") - F.col("inter"))
    scored = inter.select(
        "q_id", "c_id", round_half_up(jac, 4).alias("jaccard")
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("jaccard").desc(), F.col("c_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "c_id", "jaccard")
        .orderBy("q_id", "rank")
    )


#: BM25 constants (Robertson/Sparck Jones defaults).
BM25_K1 = 1.2
BM25_B = 0.75
#: Fixed query budget: only doc_ids below this cap are eligible as
#: queries, so the query count stops scaling with the corpus (real
#: retrieval QPS is independent of corpus size). At sf0.01/sf0.1 the
#: cap is above every doc_id — no behavior change; the 10× probe is
#: where it bites (500 → 50 queries, SCALING.md).
BM25_QUERY_CAP = 5000
#: Query-term pruning: keep each query's m globally-RAREST terms
#: (order by (df, term) — deterministic, oracle-reproducible). The
#: standard sparse-retrieval candidate bound: per-query candidate
#: volume is Σ of the m smallest dfs, so Zipf-tail terms drive the
#: join and corpus-wide hot terms never enter it. On this fixture's
#: 31-term vocabulary every doc has ≤31 distinct terms, so m=32 prunes
#: nothing and scores are unchanged — the guard exists for realistic
#: vocabularies where it is the difference between Σ tail-dfs and
#: Σ all-dfs per query.
BM25_QUERY_TERMS = 32


def bm25_search(
    spark: SparkSession, sf_dir: str, k: int = SIMILAR_TOP_K
) -> DataFrame:
    """t09: BM25 top-k document retrieval — the lexical ranking twin of
    t08's jaccard search (Robertson et al., Okapi BM25: the standard
    sparse-retrieval scorer; k1=1.2, b=0.75).

    Query set is t08's bounded slice (``doc_id % 100 = 0``) under a
    FIXED budget (``doc_id < BM25_QUERY_CAP`` — query volume must not
    scale with the corpus; the 10× probe initially grew 39× because
    queries AND postings both scaled, SCALING.md); each query doc's
    DISTINCT terms — pruned to its ``BM25_QUERY_TERMS`` globally
    rarest, the sparse-retrieval candidate bound — form its
    bag-of-words query (short-query BM25: query-side tf is not
    weighted). Per (query, candidate) score is

        Σ_t  ln(1 + (N − df + 0.5)/(df + 0.5))
             · tf·(k1+1) / (tf + k1·(1 − b + b·dl·N/Σdl))

    with ``dl·N/Σdl`` kept as exact-integer products over one double
    division so the length normalization is bit-identical across
    engines (an ``avg()`` would expose each engine's summation
    internals). ``n_terms`` is an exact integer companion pinning the
    join; ranks compare the floor-rounded score (shared contract) with
    a c_id tie-break. ln is libm-backed — same accepted last-ulp
    boundary risk class as t07.

    Scale shape: the (doc, term, tf) relation is the maintained
    inverted index (persisted here, a table at 100 TB); df and the
    2-integer corpus stats are term- and 1-row relations (broadcast);
    the candidate join is ASYMMETRIC — pruned query terms ⋈ postings —
    so volume is bounded by |queries| · Σ(m rarest dfs): the query
    budget fixes the first factor and the rarest-term prune keeps the
    second on the Zipf tail (corpus-wide hot terms never enter the
    join). The per-query window never sees more than one query's
    candidates.
    """
    from pyspark.sql import Window

    from aw3d30_parquet_spark.functions.dedup import _scratch_persist_eager

    docs = _docs(spark, sf_dir)
    # right-size the cached index: under the driver's plain session
    # (200-partition default) every downstream agg/join over a
    # 200-micro-partition cache schedules 200 tasks per stage — pure
    # overhead at index sizes (l01's fix, same rationale)
    par = max(8, session_width(spark))
    # eager: the index cache is read by FOUR concurrent first-wave jobs
    # (the qterms/stats broadcast builds + the candidate and dl sides);
    # profiled r12, each raced reader re-executed the explode+agg
    # subtree (3 full fills per invocation, ~55 s task time duplicated).
    #
    # Partitioned BY doc_id (r13, guide §2.4): the index is the
    # streamed side of the broadcast candidate join, so its layout IS
    # the layout of the candidate stream. Under the old (doc, term)
    # hash layout each candidate's terms scattered across partitions —
    # the (q_id, c_id) partial aggregate reduced almost nothing and
    # the score exchange carried the raw candidate stream (profiled
    # r13: 48.5 MB, 38 s task time at sf0.1/32c). hash(doc_id)
    # co-locates every candidate's terms; the aliased c_id carries the
    # partitioning through the joins, so the score aggregation needs
    # NO exchange at all — per-(q,c) scores complete where the
    # candidates sit, and only the WindowGroupLimit-pruned top-k rows
    # cross the wire. One exchange keyed differently at fill time,
    # same row volume; dl's groupBy(doc_id) also rides it for free.
    tf = _scratch_persist_eager(
        "t09",
        docs.select(
            "doc_id", F.explode(_tokens(F.col("text"))).alias("term")
        )
        .repartition(par, "doc_id")
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf")),
    )
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    stats = dl.agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    dfr = tf.groupBy("term").agg(F.count("*").alias("df"))
    # query set: sampled AND capped (fixed query budget — query volume
    # must not scale with the corpus), then pruned to each query's
    # BM25_QUERY_TERMS rarest terms. The prune ranks the tiny
    # query-side relation only (|queries|·terms rows) — never the
    # postings.
    wq = Window.partitionBy("q_id").orderBy("df", "term")
    qterms = (
        tf.filter(
            (F.col("doc_id") % SIMILAR_QUERY_MOD == 0)
            & (F.col("doc_id") < BM25_QUERY_CAP)
        )
        .select(F.col("doc_id").alias("q_id"), "term")
        .join(dfr, "term")
        .withColumn("qr", F.row_number().over(wq))
        .filter(F.col("qr") <= BM25_QUERY_TERMS)
        # keep df: the idf factor rides the broadcast instead of a
        # second vocabulary-keyed join against the candidate stream
        .select("q_id", "term", "df")
    )
    idf = F.log(
        1.0
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    wtd = (F.col("tf") * (BM25_K1 + 1)) / (
        F.col("tf")
        + BM25_K1
        * (
            1.0
            - BM25_B
            + BM25_B
            * (F.col("dl") * F.col("n_docs"))
            / F.col("sum_dl").cast("double")
        )
    )
    # the query relation is bounded by construction (|queries|·m rows)
    # — broadcast it explicitly: the candidate join must be map-side
    # over the postings scan, never a shuffle on the term column
    # (vocabulary-sized key space ⇒ pathological reduce-side skew; the
    # rank window above it also defeats AQE's size estimate, so the
    # hint is load-bearing, not advisory)
    scored = (
        F.broadcast(qterms)
        .join(
            tf.select(F.col("doc_id").alias("c_id"), "term", "tf"),
            "term",
        )
        .filter(F.col("c_id") != F.col("q_id"))
        .join(dl.select(F.col("doc_id").alias("c_id"), "dl"), "c_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("q_id", "c_id")
        .agg(
            F.count("*").alias("n_terms"),
            round_half_up(F.sum(idf * wtd), 4).alias("score"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("score").desc(), F.col("c_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "c_id", "n_terms", "score")
        .orderBy("q_id", "rank")
    )


#: t10 phrase length (consecutive tokens that must match in order).
PHRASE_LEN = 3


def phrase_search(
    spark: SparkSession, sf_dir: str, plen: int = PHRASE_LEN
) -> DataFrame:
    """t10: exact PHRASE search over a POSITIONAL inverted index — the
    third retrieval primitive next to t08 (set overlap) and t09 (BM25
    bag-of-words): "these words, in this order, consecutively", which
    no positionless index can answer.

    The index is the (doc_id, term, pos) relation (``posexplode`` over
    the tokenizer — at 100 TB this is the maintained positional
    postings table, bucketed by term). Each query doc (t09's capped
    1% slice) contributes its FIRST ``plen`` tokens as the phrase;
    matching is the classic positional-join chain: postings for word₁
    anchor candidate (doc, pos) pairs, each subsequent word k joins on
    ``(doc, term = wordₖ, pos = anchor + k − 1)`` — selectivity
    multiplies at every step, so candidates collapse after the second
    join even when word₁ is corpus-hot. Output one row per (query,
    matching doc) with the occurrence count.

    Scale shape: the phrase relation is |queries| rows — broadcast;
    every positional join keys on (doc_id, term, pos) — maximal-
    cardinality keys, no hot-key skew by construction; nothing ever
    materializes more than (phrase-anchor candidates) rows.
    """
    docs = _docs(spark, sf_dir)
    from aw3d30_parquet_spark.functions.dedup import _scratch_persist

    postings = _scratch_persist(
        "t10",
        docs.select(
            "doc_id",
            F.posexplode(_tokens(F.col("text"))).alias("pos", "term"),
        ),
    )
    toks = _tokens(F.col("text"))
    phrases = (
        docs.filter(
            (F.col("doc_id") % SIMILAR_QUERY_MOD == 0)
            & (F.col("doc_id") < BM25_QUERY_CAP)
            & (F.size(toks) >= plen)
        )
        .select(
            F.col("doc_id").alias("q_id"),
            *[
                F.element_at(toks, i + 1).alias(f"w{i}")
                for i in range(plen)
            ],
        )
    )
    chain = (
        F.broadcast(phrases)
        .join(
            postings.select(
                F.col("doc_id").alias("c_id"),
                F.col("term").alias("t0"),
                F.col("pos").alias("anchor"),
            ),
            F.col("t0") == F.col("w0"),
        )
        .filter(F.col("c_id") != F.col("q_id"))
    )
    for i in range(1, plen):
        nxt = postings.select(
            F.col("doc_id").alias("c_id"),
            F.col("term").alias(f"t{i}"),
            (F.col("pos") - i).alias("anchor"),
        )
        chain = chain.join(
            nxt,
            ["c_id", "anchor"],
        ).filter(F.col(f"t{i}") == F.col(f"w{i}"))
    return (
        chain.groupBy("q_id", "c_id")
        .agg(F.count("*").alias("n_occurrences"))
        .orderBy("q_id", "c_id")
    )


QUERIES = {
    "t01_token_stats": token_stats,
    "t02_quality_score": quality_score,
    "t03_token_count_bpe": token_count_bpe,
    "t04_lang_id": lang_id,
    "t05_doc_fingerprint": doc_fingerprint,
    "t06_tfidf_top_terms": tfidf_top_terms,
    "t07_unigram_surprisal": unigram_surprisal,
    "t08_similar_doc_search": similar_doc_search,
    "t09_bm25_search": bm25_search,
    "t10_phrase_search": phrase_search,
}

ORACLE_SQL = {
    "t01_token_stats": """
SELECT doc_id, length(text) AS n_chars,
       len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
       CAST(floor(length(regexp_replace(text, '\\s+', '', 'g'))
             / CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS DOUBLE)
             * 100 + 0.5) AS BIGINT) / 100.0 AS avg_tok_len
FROM documents ORDER BY doc_id
""",
    "t02_quality_score": """
WITH tok AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
  FROM documents
), scored AS (
  SELECT doc_id,
         len(list_filter(toks, t -> t IN ('the','and','of','to','in','is','that','for'))) AS stop_cnt,
         len(toks) AS n_tokens
  FROM tok
)
SELECT doc_id, stop_cnt,
       CAST(floor(stop_cnt / CAST(n_tokens AS DOUBLE) * 100 + 0.5) AS BIGINT) / 100.0 AS stop_ratio,
       CAST(n_tokens >= 5 AND stop_cnt > 0 AS INTEGER) AS is_quality
FROM scored ORDER BY doc_id
""",
    "t03_token_count_bpe": """
SELECT doc_id,
       len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS n_bpe
FROM documents ORDER BY doc_id
""",
    "t05_doc_fingerprint": """
SELECT doc_id,
       md5(array_to_string(list_sort(regexp_split_to_array(trim(text), '\\s+')), ' ')) AS fp
FROM documents ORDER BY doc_id
""",
    # t06: same smoothed TF-IDF in DuckDB; both engines rank on the
    # floor-rounded score with a term tiebreak (see docstring)
    "t06_tfidf_top_terms": """
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
), df AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
), nd AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents
), scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         CAST(floor(tf.tf * (ln((n_docs + 1) / (df.df + 1)) + 1)
              * 10000 + 0.5) AS BIGINT) / 10000.0 AS score
  FROM tf JOIN df USING (term) CROSS JOIN nd
), ranked AS (
  SELECT doc_id, term, tf, df, score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, term) AS rn
  FROM scored
)
SELECT doc_id, rn, term, tf, df, score
FROM ranked WHERE rn <= 3 ORDER BY doc_id, rn
""",
    "t07_unigram_surprisal": """
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
  FROM documents
), tf AS (
  SELECT term, count(*) AS tf FROM toks GROUP BY term
), tot AS (
  SELECT CAST(sum(tf) AS DOUBLE) AS n_total FROM tf
)
SELECT doc_id, count(*) AS n_tokens,
       CAST(sum(tf) AS BIGINT) AS sum_tf,
       CAST(floor(avg(-ln(tf / n_total)) * 100 + 0.5) AS BIGINT) / 100.0
         AS surprisal
FROM toks JOIN tf USING (term) CROSS JOIN tot
GROUP BY doc_id ORDER BY doc_id
""",
}


def _lang_id_oracle() -> str:
    """DuckDB oracle for t04, generated from the same LANG_STOPWORDS the
    Spark operator uses (single source of truth). Hit counts are exact
    integers; CASE checks languages in profile order so ties resolve
    identically to the Spark side (earlier language wins)."""
    langs = list(LANG_STOPWORDS)
    hit_cols = ",\n    ".join(
        "len(list_filter(toks, t -> t IN ({}))) AS h_{}".format(
            ", ".join(f"'{w}'" for w in LANG_STOPWORDS[lang]), lang
        )
        for lang in langs
    )
    best = "greatest({})".format(", ".join(f"h_{lang}" for lang in langs))
    arms = "\n       ".join(
        f"WHEN h_{lang} = {best} THEN '{lang}'" for lang in langs
    )
    return f"""
WITH tok AS (
  SELECT doc_id, lang, regexp_split_to_array(trim(text), '\\s+') AS toks
  FROM documents
), hits AS (
  SELECT doc_id, lang,
    {hit_cols}
  FROM tok
)
SELECT doc_id, lang,
  CASE WHEN {best} = 0 THEN 'unk'
       {arms}
       ELSE 'unk' END AS pred_lang
FROM hits ORDER BY doc_id
"""


ORACLE_SQL["t04_lang_id"] = _lang_id_oracle()

# t08: the d04 shingle twin pointed at retrieval — exact jaccard per
# (query, candidate), ranked per query on the floor-rounded score with
# a c_id tie-break (the rank must order the same values both engines
# compute identically: integer-ratio jaccard → floor-half-up).
ORACLE_SQL["t08_similar_doc_search"] = f"""
WITH words AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM documents
), shing AS (
  SELECT doc_id,
         CASE WHEN len(w) >= 3
              THEN list_distinct(list_transform(range(1, len(w) - 1),
                                 i -> array_to_string(w[i:i+2], ' ')))
              ELSE [array_to_string(w, ' ')] END AS shs
  FROM words
), sh AS (
  SELECT doc_id, unnest(shs) AS sh FROM shing
), counts AS (
  SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
), inter AS (
  SELECT q.doc_id AS q_id, c.doc_id AS c_id, count(*) AS inter
  FROM sh q JOIN sh c ON q.sh = c.sh AND q.doc_id <> c.doc_id
  WHERE q.doc_id % {SIMILAR_QUERY_MOD} = 0
    AND q.doc_id < {BM25_QUERY_CAP}
  GROUP BY 1, 2
), scored AS (
  SELECT q_id, c_id,
         CAST(floor(inter / CAST(cq.n_sh + cc.n_sh - inter AS DOUBLE)
               * 10000 + 0.5) AS BIGINT) / 10000.0 AS jaccard
  FROM inter
  JOIN counts cq ON cq.doc_id = q_id
  JOIN counts cc ON cc.doc_id = c_id
), ranked AS (
  SELECT q_id, c_id, jaccard,
         CAST(row_number() OVER (
           PARTITION BY q_id ORDER BY jaccard DESC, c_id
         ) AS INTEGER) AS rank
  FROM scored
)
SELECT q_id, rank, c_id, jaccard FROM ranked
WHERE rank <= {SIMILAR_TOP_K} ORDER BY q_id, rank
"""

# t09: the same BM25 arithmetic — exact-integer tf/df/dl/N/Σdl feed
# libm ln + one double division per factor, floor-rounded score,
# c_id tie-break (n_terms is the exact-integer join pin).
ORACLE_SQL["t09_bm25_search"] = f"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
), dl AS (
  SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id
), stats AS (
  SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dl
), dfr AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
), qterms AS (
  -- fixed query budget + rarest-m query-term pruning (same
  -- deterministic (df, term) ordering as the Spark side)
  SELECT q_id, term FROM (
    SELECT q.doc_id AS q_id, q.term,
           row_number() OVER (
             PARTITION BY q.doc_id ORDER BY dfr.df, q.term
           ) AS qr
    FROM tf q JOIN dfr ON dfr.term = q.term
    WHERE q.doc_id % {SIMILAR_QUERY_MOD} = 0
      AND q.doc_id < {BM25_QUERY_CAP}
  ) WHERE qr <= {BM25_QUERY_TERMS}
), scored AS (
  SELECT q.q_id, c.doc_id AS c_id,
         count(*) AS n_terms,
         CAST(floor(sum(
           ln(1.0 + (s.n_docs - dfr.df + 0.5) / (dfr.df + 0.5))
           * (c.tf * ({BM25_K1} + 1)) / (c.tf + {BM25_K1} * (1.0 - {BM25_B}
              + {BM25_B} * (dl.dl * s.n_docs) / CAST(s.sum_dl AS DOUBLE)))
         ) * 10000 + 0.5) AS BIGINT) / 10000.0 AS score
  FROM qterms q
  JOIN tf c ON c.term = q.term AND c.doc_id <> q.q_id
  JOIN dfr ON dfr.term = q.term
  JOIN dl ON dl.doc_id = c.doc_id
  CROSS JOIN stats s
  GROUP BY q.q_id, c.doc_id
), ranked AS (
  SELECT q_id, c_id, n_terms, score,
         CAST(row_number() OVER (
           PARTITION BY q_id ORDER BY score DESC, c_id
         ) AS INTEGER) AS rank
  FROM scored
)
SELECT q_id, rank, c_id, n_terms, score FROM ranked
WHERE rank <= {SIMILAR_TOP_K} ORDER BY q_id, rank
"""

# t10: the oracle rebuilds the positional postings (parallel unnests
# zip term and position) and runs the identical positional-join chain.
_T10_JOINS = "\n".join(
    f"JOIN post p{i} ON p{i}.doc_id = p0.doc_id"
    f" AND p{i}.pos = p0.pos + {i} AND p{i}.term = ph.w{i}"
    for i in range(1, PHRASE_LEN)
)
ORACLE_SQL["t10_phrase_search"] = f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
  FROM documents
), post AS (
  SELECT doc_id, unnest(range(1, len(w) + 1)) AS pos, unnest(w) AS term
  FROM toks
), ph AS (
  SELECT doc_id AS q_id,
         {", ".join(f"w[{i + 1}] AS w{i}" for i in range(PHRASE_LEN))}
  FROM toks
  WHERE doc_id % {SIMILAR_QUERY_MOD} = 0 AND doc_id < {BM25_QUERY_CAP}
    AND len(w) >= {PHRASE_LEN}
)
SELECT ph.q_id, p0.doc_id AS c_id, count(*) AS n_occurrences
FROM ph
JOIN post p0 ON p0.term = ph.w0
{_T10_JOINS}
WHERE p0.doc_id <> ph.q_id
GROUP BY ph.q_id, p0.doc_id
ORDER BY q_id, c_id
"""
