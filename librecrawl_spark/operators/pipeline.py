"""Training-data pipeline operators: deterministic stratified sampling,
concat-then-chunk sequence packing, and dedup-cluster representative
selection.

These are the three steps a 100 TB corpus build runs after extraction +
dedup: downsample over-represented strata, pick one keeper per duplicate
cluster, and pack the survivors into fixed-token training windows. All
three are pure DataFrame plans — no Python in the hot path — and each
has a DuckDB-oracle twin in __spark_entry__.oracle_sql().

Scale notes per operator are inline; the common theme is that nothing
here uses a single-partition global window or driver-side iteration
over rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from .frontier import default_seq_buckets


def _rate_threshold(rate: float) -> str:
    """16-bit hex threshold string for a sampling rate. Fixed-width
    lowercase hex compares lexicographically == numerically in every
    engine; rate >= 1 maps to 'zzzz' which sorts above every hex digit,
    so such strata keep every row."""
    if rate >= 1.0:
        return "zzzz"
    # clamp to 0xffff: rates just under 1 can round to 65536, whose hex
    # ("10000", 5 chars) would compare lexicographically BELOW most
    # 4-char keys and silently drop ~94% of a keep-almost-all stratum
    return format(min(max(int(round(rate * 65536)), 0), 0xFFFF), "04x")


def stratified_sample(
    df: DataFrame,
    rates: dict[str, float],
    stratum_col: str = "lang",
    key_col: str = "doc_id",
    salt: str = "strat",
    default_rate: float = 0.0,
) -> DataFrame:
    """Deterministic per-stratum rate sampling: keep a row iff the first
    16 bits of md5(salt ':' key) fall below rate * 2^16 for its stratum.

    The standard corpus rebalancing step (downsample the over-represented
    language / source buckets). Deterministic in the KEY, not the row:
    re-running over a grown corpus keeps exactly the previously-kept keys
    plus new ones at the same rate — reproducible snapshots without
    storing a kept-keys table. md5-hex-prefix comparison is portable
    across engines.

    Scale shape: a single filter over the scan — no shuffle, no sort, no
    sampling pass; Catalyst pushes surviving-column pruning into the
    parquet read. Never uses df.sample() (partition-order dependent) or
    rand() (non-reproducible).
    """
    key16 = F.substring(
        F.md5(F.concat(F.lit(salt + ":"), F.col(key_col).cast("string"))), 1, 4
    )
    thr: Column = F.lit(_rate_threshold(default_rate))
    for stratum, rate in sorted(rates.items()):
        thr = F.when(F.col(stratum_col) == stratum,
                     F.lit(_rate_threshold(rate))).otherwise(thr)
    return df.withColumn("sample_key", key16).filter(F.col("sample_key") < thr)


def concat_chunk_packing(
    df: DataFrame,
    token_col: str,
    budget: int,
    order_col: str = "doc_id",
):
    """Concat-then-chunk sequence packing: lay every document's tokens
    end-to-end in deterministic ``order_col`` order and cut the stream
    into fixed ``budget``-token training windows (the GPT-style packing
    used when documents may straddle window boundaries).

    Emits per doc: ``start_off`` (exclusive prefix sum of tokens),
    ``chunk_first``/``chunk_last`` (the first/last window the document's
    tokens land in; zero-token docs anchor to their boundary), and
    ``n_chunks`` spanned. Downstream, window w's members are the rows
    with chunk_first <= w <= chunk_last.

    Physical strategy (scale): the naive plan is one global ordered
    window — a single-partition serialization wall at 10^9 docs. Instead
    the prefix sum is two-phase, the same shape as frontier.py's
    add_global_seq: range-repartition on ``order_col`` (disjoint
    ordered buckets), aggregate one token-sum per bucket (tiny collect:
    one row per partition), broadcast the bucket prefix offsets back,
    and run the cumulative sum per-bucket in parallel.

    Returns ``(out, cache_handle)``; the caller unpersists the handle
    once the result is materialized (the contract of schedule_wave's
    cache handle).
    """
    spark = df.sparkSession
    n_part = default_seq_buckets(spark)
    d = (
        df.repartitionByRange(n_part, F.col(order_col))
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    sums = {
        r["_pid"]: r["s"]
        for r in d.groupBy("_pid")
        .agg(F.coalesce(F.sum(token_col), F.lit(0)).cast("long").alias("s"))
        .collect()
    }
    if not sums:
        d.unpersist()
        out = df.select(
            "*",
            F.lit(0).cast("long").alias("start_off"),
            F.lit(0).cast("long").alias("chunk_first"),
            F.lit(0).cast("long").alias("chunk_last"),
            F.lit(1).cast("long").alias("n_chunks"),
        )
        return out.limit(0), None
    offsets, acc = {}, 0
    for k in sorted(sums):
        offsets[k] = acc
        acc += sums[k]
    odf = F.broadcast(
        spark.createDataFrame(list(offsets.items()), schema="_pid int, _off long")
    )
    # explicit ROWS frame: the default RANGE frame would sum peer rows
    # together if order_col ever carried duplicates
    w = (Window.partitionBy("_pid").orderBy(order_col)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    tok = F.col(token_col).cast("long")
    start = (F.col("_off") + F.sum(tok).over(w) - tok).cast("long")
    b = F.lit(int(budget)).cast("long")
    # exact integer division (start >= 0): floor(a/b) as ((a - a%b)/b).
    # Plain floor(double_div) can mis-round once totals pass 2^53 tokens;
    # the subtract-mod form divides an exact multiple of b instead.
    idiv = lambda a: ((a - F.pmod(a, b)) / b).cast("long")
    chunk_first = idiv(start)
    chunk_last = idiv(start + F.greatest(tok, F.lit(1)) - F.lit(1))
    out = (
        d.join(odf, "_pid")
        .withColumn("start_off", start)
        .withColumn("chunk_first", chunk_first)
        .withColumn("chunk_last", chunk_last)
        .withColumn("n_chunks", (F.col("chunk_last") - F.col("chunk_first") + 1))
        .drop("_pid", "_off")
    )
    return out, d


SHINGLE_K = 3


def _shingles(text_col: str, k: int):
    """Distinct k-token shingles as strings, via tokens + transform/slice
    (JVM-side higher-order functions, no UDF).

    CASE-guarded for short docs: Spark's sequence(1, 0) counts DOWN to
    [1, 0], so a doc with fewer than k tokens would evaluate slice at
    index 0 and abort the whole job (ANSI INVALID_PARAMETER_VALUE)."""
    toks = f"regexp_extract_all({text_col}, '\\\\w+', 0)"
    return F.expr(
        f"""
        CASE WHEN size({toks}) >= {k} THEN
          array_distinct(
            transform(
              sequence(1, size({toks}) - {k - 1}),
              i -> concat_ws(' ', slice({toks}, i, {k}))
            )
          )
        ELSE array() END
        """
    )


def benchmark_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    k: int | None = None,
    min_hits: int = 1,
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing k-token
    n-grams with an evaluation-benchmark set (the GPT-3/PaLM-style
    overlap check run before training). Emits one row per contaminated
    doc: distinct overlapping shingles, distinct benchmark docs hit,
    the doc's shingle count, and the contamination ratio.

    Both sides use the same distinct k-shingle construction
    (``_shingles``: JVM higher-order functions, no UDF).

    Scale shape: benchmark sets are small next to a 100 TB corpus
    (10^4-10^6 docs), so the exploded benchmark index broadcasts and the
    corpus side streams through a map-side hash join — no shuffle of the
    corpus, no all-pairs. The per-doc groupBy partial-aggregates. Set
    ``broadcast_benchmark=False`` for an oversized benchmark; the plan
    degrades to an ordinary shuffled inverted-index join (still never
    quadratic).
    """
    kk = SHINGLE_K if k is None else k
    c_nz = corpus.select("doc_id", _shingles(text_col, kk).alias("shingles")).filter(
        F.size("shingles") > 0)
    c_inv = c_nz.select("doc_id", F.explode("shingles").alias("shingle"))
    b_inv = benchmark.select(
        F.col("doc_id").alias("bench_id"),
        F.explode(_shingles(text_col, kk)).alias("shingle"),
    )
    right = F.broadcast(b_inv) if broadcast_benchmark else b_inv
    g = (
        c_inv.join(right, "shingle")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("shingle").alias("n_hit_shingles"),
            F.countDistinct("bench_id").alias("n_bench_docs"),
        )
        .filter(F.col("n_hit_shingles") >= min_hits)
    )
    sizes = c_nz.select("doc_id", F.size("shingles").cast("long").alias("n_shingles"))
    return g.join(sizes, "doc_id").select(
        "doc_id", "n_hit_shingles", "n_bench_docs", "n_shingles",
        F.round(F.col("n_hit_shingles") / F.col("n_shingles"), 6)
        .alias("contamination_ratio"),
    )


def cluster_representatives(
    docs: DataFrame,
    clusters: DataFrame,
    quality_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Pick one representative per duplicate cluster: the member with the
    highest ``quality_col``, ties broken by the smallest ``id_col`` —
    what a real corpus build wants (keep the best copy, not an
    arbitrary one).

    ``clusters`` holds one (``id_col``, ``cluster``) row per member.

    Scale shape: one hash join on the doc id plus one groupBy(cluster)
    with a map-side-combinable max(struct) — the argmax is an ordinary
    aggregate, NOT a per-cluster ordered window, so a pathological
    million-member cluster still combines partially instead of
    serializing in one task.
    """
    j = clusters.join(
        docs.select(F.col(id_col), F.col(quality_col).alias("_q")), id_col
    )
    m = F.max(
        F.struct(F.col("_q").alias("q"), (-F.col(id_col)).alias("nid"))
    ).alias("_m")
    return (
        j.groupBy("cluster")
        .agg(m, F.count("*").alias("cluster_size"))
        .select(
            "cluster",
            (-F.col("_m.nid")).alias("rep_doc_id"),
            F.col("_m.q").alias("rep_quality"),
            "cluster_size",
        )
    )


def domain_mix_rates(
    df: DataFrame,
    targets: dict[str, float],
    stratum_col: str = "lang",
    weight_col: str = "n_tokens",
) -> DataFrame:
    """Corpus mix planning: per-stratum weight totals/shares plus the
    per-stratum keep-rate that downsampling must apply to hit a target
    mix — the step that PRODUCES ``stratified_sample``'s rates dict.

    rate(s) = min(1, target_share(s) / actual_share(s)): strata over
    their target are cut proportionally, strata at/under target keep
    everything (rates never upsample — matching what a filter can do).
    Shares and rates round to 6 decimals so the DuckDB twin hashes
    identically. Strata absent from ``targets`` get target 0 (rate 0 —
    excluded from the mix).

    Scale shape: one groupBy(stratum) with map-side partial sums over
    the scan plus a 1-row broadcast total — no window, no second pass
    over the corpus.
    """
    per = df.groupBy(F.col(stratum_col).alias("stratum")).agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col(weight_col)).cast("long").alias("weight"),
    )
    tot = per.agg(F.sum("weight").cast("double").alias("_tw"))
    tgt: Column = F.lit(0.0)
    for stratum, share in sorted(targets.items()):
        tgt = F.when(F.col("stratum") == stratum,
                     F.lit(float(share))).otherwise(tgt)
    share = F.col("weight") / F.col("_tw")
    return (
        per.join(F.broadcast(tot))
        .select(
            "stratum", "n_docs", "weight",
            F.round(share, 6).alias("share"),
            F.round(F.least(F.lit(1.0), tgt / share), 6).alias("keep_rate"),
        )
    )


def quality_gate(
    df: DataFrame,
    text_col: str = "text",
    keep_lang: str = "en",
    min_words: int = 30,
    min_alpha: float = 0.82,
    max_word_rep: float = 0.62,
) -> DataFrame:
    """Composed corpus quality gate with first-failing-reason
    attribution — the FineWeb/Gopher-style filter chain a corpus build
    runs between extraction and dedup, folded into ONE pass:

        non_english -> too_short -> low_alpha -> repetitive -> pass

    Each document gets exactly one ``reason`` (the first gate it fails,
    in pipeline application order), so the per-reason counts downstream
    are a loss ledger: they sum to the corpus size and tell you what
    each gate REMOVES GIVEN the earlier gates — the number you need to
    tune thresholds, which per-gate independent counts do not give.

    Signal semantics reuse the standalone operators verbatim (same
    tokenization, same rounding): ``pred_lang`` is text.language_id's
    marker argmax, ``n_words``/``alpha_ratio`` are text.quality_score's
    definitions, ``word_rep_ratio`` is 1 - distinct/total tokens (the
    text.repetition_metrics headline ratio). They are inlined as column
    expressions rather than joined from the standalone operators, so
    the whole gate is a single projection over the scan: zero shuffles,
    zero Python, one pass over 100 TB, and Parquet still prunes to
    (doc_id, text).
    """
    t = F.col(text_col)
    words = F.expr(f"regexp_extract_all({text_col}, '\\\\w+', 0)")
    lwords = F.array_distinct(
        F.expr(f"regexp_extract_all(lower({text_col}), '\\\\w+', 0)"))
    n_words = F.size(words)
    alpha = F.round(
        F.length(F.regexp_replace(t, r"[^A-Za-z]", ""))
        / F.greatest(F.length(t), F.lit(1)), 4)
    word_rep = F.round(
        (n_words - F.size(F.array_distinct(words)))
        / F.greatest(n_words, F.lit(1)), 6)

    from .text import LANG_MARKERS
    langs = sorted(LANG_MARKERS)
    scores = {l: F.size(F.array_intersect(
        lwords, F.array(*[F.lit(m) for m in LANG_MARKERS[l]])))
        for l in langs}
    best = F.greatest(*scores.values())
    pred = F.lit("unknown")
    for l in reversed(langs):
        pred = F.when(scores[l] == best, F.lit(l)).otherwise(pred)
    pred = F.when(best == 0, F.lit("unknown")).otherwise(pred)

    reason = (
        F.when(pred != keep_lang, F.lit("non_english"))
        .when(n_words < min_words, F.lit("too_short"))
        .when(alpha < min_alpha, F.lit("low_alpha"))
        .when(word_rep > max_word_rep, F.lit("repetitive"))
        .otherwise(F.lit("pass"))
    )
    return df.select(
        "doc_id", reason.alias("reason"), n_words.alias("n_words"),
        alpha.alias("alpha_ratio"), word_rep.alias("word_rep_ratio"),
    )


def priority_sample(df: DataFrame, id_col: str, weight_col: str,
                    k: int) -> DataFrame:
    """Deterministic weight-proportional sample of k rows — priority
    sampling (Duffield–Lund–Thorup, JACM 2007): each row gets priority
    q = w / u with u = Uniform(0,1] derived from a value hash of the
    id, and the k largest priorities win. Inclusion probability is
    proportional to weight (for w << the sampling threshold), which is
    the corpus-mixing primitive "sample documents proportional to
    quality score" — stratified_sample's per-stratum RATES are exact but
    can't target an exact k; this targets exact k with weight bias.

    Determinism: u comes from the same md5-prefix hash as the KMV
    sketch (sketch.kmv_hash), so the sample is a pure function of
    (id, weight) — replayable in DuckDB/python, stable across runs,
    partitionings, and cluster sizes. The ordering key is the RAW
    double priority (bit-identical across engines); only the emitted
    priority is rounded for display.

    Scale shape: one map-side projection + a distributed top-k
    (TakeOrdered) — never a global sort.
    """
    from .sketch import _HASH_SPACE, kmv_hash

    u = (kmv_hash(id_col) + F.lit(1)).cast("double") / F.lit(_HASH_SPACE)
    pri = F.col(weight_col).cast("double") / u
    return (
        df.select(F.col(id_col), F.col(weight_col), pri.alias("_q"))
        .orderBy(F.desc("_q"), F.asc(id_col))
        .limit(k)
        .select(id_col, weight_col, F.round("_q", 4).alias("priority"))
    )
