"""Text-analysis operators for large-scale training-data pipelines,
expressed entirely with JVM-side builtin functions (no Python in the
hot path — every expression stays inside whole-stage codegen).

All operators run over the ``documents(doc_id, text, lang, ...)`` table
and each has a DuckDB-oracle twin in __spark_entry__.oracle_sql().
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

# Tiny per-language marker lexicons for the n-gram/stopword language-ID
# heuristic. Deterministic and SQL-portable (the oracle uses the same sets).
LANG_MARKERS = {
    "en": ("the", "and", "of", "to", "in"),
    "de": ("der", "die", "und", "das", "nicht"),
    "es": ("el", "la", "que", "de", "los"),
    "fr": ("le", "la", "les", "des", "est"),
    "zh": ("de5", "shi4", "le5", "zai4", "he2"),  # pinyin-ish markers
}

STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")


def tokens(col: Column) -> Column:
    """Whitespace+punctuation tokenization via regexp — ``\\w+`` runs,
    identical semantics to the DuckDB oracle's regexp_extract_all."""
    return F.expr(f"regexp_extract_all({col._jc.toString()}, '\\\\w+', 0)")


def token_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Token counting: whitespace words + a BPE-ish subword estimate
    (4 chars/token heuristic over non-space mass)."""
    t = F.col(text_col)
    return df.select(
        "doc_id",
        F.size(F.expr(f"regexp_extract_all({text_col}, '\\\\w+', 0)")).alias("n_words"),
        F.ceil(
            F.length(F.regexp_replace(t, r"\s+", "")) / F.lit(4)
        ).cast("long").alias("n_subword_est"),
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality scoring: length, mean word length, stopword ratio,
    alpha ratio — the standard cheap pre-filters for a training corpus.
    Pure column arithmetic; rounded for cross-engine comparison."""
    t = F.col(text_col)
    words = F.expr(f"regexp_extract_all({text_col}, '\\\\w+', 0)")
    n_words = F.size(words)
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.array_intersect(F.array_distinct(words), stop_arr))
    return df.select(
        "doc_id",
        F.length(t).alias("n_chars_obs"),
        n_words.alias("n_words"),
        F.round(F.length(F.regexp_replace(t, r"[^A-Za-z]", "")) / F.greatest(F.length(t), F.lit(1)), 4).alias("alpha_ratio"),
        F.round(n_stop / F.greatest(F.size(F.array_distinct(words)), F.lit(1)), 4).alias("stopword_ratio"),
        F.round(F.length(F.regexp_replace(t, r"\s+", "")) / F.greatest(n_words, F.lit(1)), 4).alias("mean_word_len"),
    )


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Marker-word language ID: score = count of language marker tokens;
    argmax with deterministic tie-break on language code order."""
    words = F.array_distinct(F.expr(f"regexp_extract_all(lower({text_col}), '\\\\w+', 0)"))
    scores = [
        F.size(F.array_intersect(words, F.array(*[F.lit(m) for m in marks]))).alias(f"s_{lang}")
        for lang, marks in sorted(LANG_MARKERS.items())
    ]
    scored = df.select("doc_id", F.col(text_col), *scores)
    langs = sorted(LANG_MARKERS)
    # argmax via greatest + when-cascade (first lang wins ties)
    best = F.greatest(*[F.col(f"s_{l}") for l in langs])
    pred = F.lit("unknown")
    for l in reversed(langs):
        pred = F.when(F.col(f"s_{l}") == best, F.lit(l)).otherwise(pred)
    pred = F.when(best == 0, F.lit("unknown")).otherwise(pred)
    return scored.select("doc_id", pred.alias("pred_lang"),
                         *[F.col(f"s_{l}") for l in langs])


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Document fingerprint: md5 over whitespace-normalized lowercase text
    (content-defined identity, reference md5 hashing crawler.py:1127-1131)."""
    norm = F.lower(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")))
    return df.select("doc_id", F.md5(norm).alias("fingerprint"))


def winnow_fingerprints(df: DataFrame, text_col: str = "text",
                        k: int = 5, w: int = 4) -> DataFrame:
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 —
    the MOSS algorithm): hash every k-token gram, slide a w-gram window,
    keep each window's minimum hash; the distinct selected set is the
    document's fingerprint. Guarantees every shared substring of length
    >= w+k-1 tokens contributes at least one common fingerprint, so two
    docs sharing long passages always collide — unlike plain MinHash,
    which is probabilistic.

    All JVM higher-order functions (transform/slice/array_min) over
    md5-hex gram hashes (lexicographic min == uniform permutation min,
    engine-portable). Output is one row per doc with the sorted
    fingerprint set flattened to a CSV string (scalar => directly
    oracle-comparable) plus the set size.

    Scale: per-row array work only, no shuffle at all — the downstream
    dedup join (explode + groupBy fingerprint) shuffles hash keys, never
    text. CASE-guards keep sub-k/sub-w docs from evaluating
    sequence(1, 0) (which counts DOWN in Spark and aborts the job)."""
    toks = f"regexp_extract_all(lower({text_col}), '\\\\w+', 0)"
    # staged through temp columns so tokenization/gram-hashing evaluates
    # once per row (inlining the subexpr would re-run the regex per use)
    grams = f"""
      CASE WHEN size(_toks) >= {k} THEN
        transform(sequence(1, size(_toks) - {k - 1}),
                  i -> md5(concat_ws(' ', slice(_toks, i, {k}))))
      ELSE array() END
    """
    fps = f"""
      CASE WHEN size(_grams) >= {w} THEN
        array_distinct(transform(sequence(1, size(_grams) - {w - 1}),
                                 j -> array_min(slice(_grams, j, {w}))))
      WHEN size(_grams) > 0 THEN array(array_min(_grams))
      ELSE array() END
    """
    return (
        df.withColumn("_toks", F.expr(toks))
        .withColumn("_grams", F.expr(grams))
        .withColumn("_fps", F.expr(fps))
        .select(
            "doc_id",
            F.concat_ws(",", F.sort_array(F.col("_fps"))).alias("fingerprints_csv"),
            F.size("_fps").alias("n_fp"),
        )
    )


def repetition_metrics(df: DataFrame, text_col: str = "text",
                       line_sep: str = "\n") -> DataFrame:
    """Gopher/MassiveText-style repetition quality metrics (Rae et al.
    2021, "Scaling Language Models", appendix A1.1 — the standard
    repetition pre-filters run over a web corpus before training):

    - ``dup_line_frac``      duplicate lines / total lines
    - ``dup_line_char_frac`` characters in repeat occurrences of a line
                             (beyond its first) / total line characters
    - ``word_rep_ratio``     1 - distinct words / words
    - ``top_2gram_char_frac`` characters covered by the most frequent
                             word 2-gram / total word characters; ties
                             break to the lexicographically smallest
                             2-gram so the value is engine-portable

    Lines are ``line_sep``-separated, trimmed, empties dropped. Words
    are lowercase ``\\w+`` tokens (the corpus-wide tokenization shared
    with token_count/quality_score). All fractions round to 6.

    Scale shape: every metric is per-row column algebra — zero shuffle,
    whole-stage codegen end to end. The top-2-gram mode is computed by
    sorting the row's gram array and scanning it once with a linear
    ``aggregate`` (run-length max), NOT an explode+groupBy — the corpus
    never leaves its input partitioning."""
    toks_sql = f"regexp_extract_all(lower({text_col}), '\\\\w+', 0)"
    lines_raw = F.split(F.col(text_col), line_sep)
    lines = F.filter(F.transform(lines_raw, F.trim), lambda l: l != "")
    n_lines = F.size(lines)
    n_dist_lines = F.size(F.array_distinct(lines))
    sum_len = lambda arr: F.aggregate(
        arr, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x))
    line_chars = sum_len(lines)
    dist_line_chars = sum_len(F.array_distinct(lines))
    d = df.withColumn("_toks", F.expr(toks_sql))
    toks = F.col("_toks")
    n_toks = F.size(toks)
    grams = F.when(
        n_toks >= 2,
        F.transform(
            F.sequence(F.lit(1), n_toks - 1),
            lambda i: F.concat(F.element_at(toks, i), F.lit(" "),
                               F.element_at(toks, i + 1)),
        ),
    ).otherwise(F.expr("array()").cast("array<string>"))
    zero = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("run"),
        F.lit(0).alias("best"), F.lit("").alias("bg"),
    )

    def _step(acc, g):
        newrun = F.when(g == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            g.alias("prev"), newrun.alias("run"),
            F.when(newrun > acc["best"], newrun).otherwise(acc["best"]).alias("best"),
            F.when(newrun > acc["best"], g).otherwise(acc["bg"]).alias("bg"),
        )

    top = F.aggregate(F.array_sort(grams), zero, _step)
    tok_chars = sum_len(toks)
    # chars covered by the top 2-gram = occurrences x its word chars
    # (the joining space is presentation, not corpus mass)
    top_chars = top["best"] * (F.length(top["bg"]) - 1)
    frac = lambda num, den: F.round(
        F.when(den > 0, num.cast("double") / den).otherwise(F.lit(0.0)), 6)
    return d.select(
        "doc_id",
        n_lines.alias("n_lines"),
        frac(n_lines - n_dist_lines, n_lines).alias("dup_line_frac"),
        frac(line_chars - dist_line_chars, line_chars).alias("dup_line_char_frac"),
        frac(n_toks - F.size(F.array_distinct(toks)), n_toks).alias("word_rep_ratio"),
        F.when(F.size(grams) > 0, top["bg"]).otherwise(F.lit(None)).alias("top_2gram"),
        F.when(F.size(grams) > 0, top["best"]).otherwise(F.lit(0)).alias("top_2gram_count"),
        frac(F.when(F.size(grams) > 0, top_chars).otherwise(F.lit(0)), tok_chars)
        .alias("top_2gram_char_frac"),
    )


def repetition_filter(df: DataFrame, text_col: str = "text",
                      line_sep: str = "\n",
                      max_dup_line_frac: float = 0.30,
                      max_dup_line_char_frac: float = 0.20,
                      max_top_2gram_char_frac: float = 0.20) -> DataFrame:
    """The Gopher repetition gate: keep documents under all three
    repetition thresholds (paper defaults). Returns the metrics plus a
    ``keep`` flag so a pipeline can either filter or audit what a
    filter would drop — same pure-codegen shape as repetition_metrics."""
    m = repetition_metrics(df, text_col, line_sep)
    return m.withColumn(
        "keep",
        (F.col("dup_line_frac") <= max_dup_line_frac)
        & (F.col("dup_line_char_frac") <= max_dup_line_char_frac)
        & (F.col("top_2gram_char_frac") <= max_top_2gram_char_frac),
    )


# PII patterns: deliberately conservative, RE2/Java-portable (no
# lookbehind), anchored on word boundaries so the same pattern string
# runs identically in Spark (Java regex) and DuckDB (RE2).
PII_PATTERNS = (
    ("email", r"[0-9A-Za-z._%+\-]+@[0-9A-Za-z.\-]+\.[A-Za-z]{2,}"),
    ("phone", r"\+\d{1,3}[ .\-]\d{3}[ .\-]\d{4}\b"),
    ("ipv4", r"\b(?:\d{1,3}\.){3}\d{1,3}\b"),
)


def scrub_pii(df: DataFrame, text_col: str = "text",
              redact: bool = True) -> DataFrame:
    """PII scrubbing — the standard pre-training redaction pass (emails,
    phone numbers, IPv4 addresses) over a web corpus. Emits per-doc
    match counts per class and, with ``redact=True``, the text with
    every match replaced by ``<CLASS>`` tokens (patterns applied in
    PII_PATTERNS order, so a phone inside an already-redacted email
    cannot double-fire).

    Pure JVM regexp_count/regexp_replace — zero shuffle, codegen
    end-to-end; the patterns avoid lookaround so the DuckDB oracle runs
    the identical strings."""
    t = F.col(text_col)
    counts = [
        F.regexp_count(t, F.lit(pat)).alias(f"n_{name}")
        for name, pat in PII_PATTERNS
    ]
    out = df.select("doc_id", *counts, t.alias("_t"))
    red = F.col("_t")
    if redact:
        for name, pat in PII_PATTERNS:
            red = F.regexp_replace(red, pat, f"<{name.upper()}>")
    return out.select(
        "doc_id", *[f"n_{n}" for n, _ in PII_PATTERNS],
        (sum(F.col(f"n_{n}") for n, _ in PII_PATTERNS) > 0).alias("has_pii"),
        *( [red.alias("redacted_text")] if redact else [] ),
    )


def winnow_dup_candidates(df: DataFrame, text_col: str = "text",
                          k: int = 5, w: int = 4) -> DataFrame:
    """Candidate near-dup pairs: docs sharing any winnowing fingerprint.
    Explode + self-join on the fingerprint key — band-join shape, never
    all-pairs."""
    base = winnow_fingerprints(df, text_col, k, w).select(
        "doc_id", F.explode(F.split("fingerprints_csv", ",")).alias("fp")
    ).filter(F.col("fp") != "")
    a, b = base.alias("a"), base.alias("b")
    return (
        a.join(b, (F.col("a.fp") == F.col("b.fp"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )


def tfidf_top_terms(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", top_k: int = 3) -> DataFrame:
    """Per-document top-k terms by TF-IDF — the keyword-extraction /
    topic-weighting step of a corpus build (and the classic inverted-
    index weighting the reference's keyword report approximates with
    raw counts, seo_extractor keyword density).

    Terms are the corpus-wide ``\\w+`` lowercase tokens (shared with
    token_count / repetition_metrics so every text operator agrees on
    the word definition). tf = in-document term count; idf =
    ln(N / df) with N = total corpus documents and df = documents
    containing the term; score = round(tf * idf, 6) so cross-engine
    ranking is stable, ties broken by term ascending.

    Scale shape: one explode + two hash aggregates — per-(doc, term)
    counts partial-aggregate map-side, the document-frequency table
    aggregates on the term key, and the top-k filter is a bounded
    per-doc window over at most the doc's distinct terms (never a
    global sort). N comes from a 1-row aggregate broadcast by AQE, not
    a driver collect.
    """
    toks = F.expr(f"regexp_extract_all(lower({text_col}), '\\\\w+', 0)")
    terms = df.select(F.col(id_col), F.explode(toks).alias("term"))
    tf = terms.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = df.agg(F.count("*").cast("double").alias("_n"))
    scored = (
        tf.join(dfreq, "term")
        .join(F.broadcast(n_docs))
        .select(
            F.col(id_col), F.col("term"),
            F.round(F.col("tf") * F.log(F.col("_n") / F.col("df")), 6)
            .alias("tfidf"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= top_k)
        .select(id_col, "term", "tfidf", "rn")
    )


def unigram_logprob(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Per-document unigram language-model score — the corpus-side
    fluency gate of a training-data pipeline (the cheap stand-in for a
    KenLM perplexity filter, CCNet/RefinedWeb style): documents whose
    tokens are uniformly rare relative to the corpus itself are
    boilerplate, lists, or noise; documents of common words score high.

    Trains the LM on the corpus being scored (self-perplexity): P(w) =
    count(w) / total_tokens over the whole input, score = mean over the
    document's tokens of ln P(w) (higher = more fluent), emitted as
    round-6 ``avg_logp`` with the token count. Tokens are the corpus-wide
    lowercase ``\\w+`` runs every text operator here shares (token_count
    / repetition_metrics / tfidf_top_terms).

    Scale shape: one explode + two hash aggregates (per-term corpus
    counts partial-aggregate map-side; the per-doc mean likewise), one
    hash join of the token stream to the O(vocab) frequency table, and
    a 1-row total broadcast. No windows, no driver state; the frequency
    table join key is the term, whose zipf skew is absorbed by the
    partial aggregation (the join itself is vocab-sized build side).
    """
    toks = F.expr(f"regexp_extract_all(lower({text_col}), '\\\\w+', 0)")
    words = df.select(F.col(id_col), F.explode(toks).alias("w"))
    freq = words.groupBy("w").agg(F.count("*").alias("cnt"))
    tot = words.agg(F.sum(F.lit(1)).cast("double").alias("_tot"))
    return (
        words.join(freq, "w")
        .join(F.broadcast(tot))
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.avg(F.log(F.col("cnt") / F.col("_tot"))), 6)
            .alias("avg_logp"),
        )
    )
