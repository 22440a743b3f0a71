"""Deduplication operators for training-data pipelines at 100 TB scale.

Five families, all shuffle-conscious:

- exact:        hash-groupBy on a content fingerprint (one shuffle).
- minhash_lsh:  shingle -> K minhash signatures -> band buckets ->
                within-bucket candidate join. Hash primitive = md5 hex
                string min per seeded permutation — deterministic and
                bit-identical in the DuckDB oracle (portable across
                engines, unlike xxhash64).
- simhash:      64-bit sign-sum sketch (4 x 16-bit bands) over token md5
                nibbles; near-dups found by Hamming-band candidate join
                (pairs within Hamming<=3 share a band) + exact verify.
- ngram_jaccard: doc-frequency-capped inverted-index block over 3-token
                shingle sets + exact array_intersect verify — the
                scale-safe version of LibreCrawl's O(n^2)
                duplicate-content pass
                (/root/reference/src/core/issue_detector.py:1299-1431).
- embedding near-dup: see similarity.py (cosine >= threshold).

Every function returns a deterministic DataFrame with aliased columns so
the DuckDB oracles in __spark_entry__ hash-match.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

N_MINHASH = 8           # permutations
N_BANDS = 4             # 2 rows/band
SHINGLE_K = 3


def _spread(df: DataFrame) -> DataFrame:
    """Spread a narrow scan across the cluster before CPU-bound work.

    Small benchmark/test inputs arrive as one parquet split, so the
    tokenization that follows (regexp_extract_all + md5 transforms —
    the dominant cost of every sketch below) would run in a single
    task. When the scan has fewer partitions than the cluster's
    parallelism, repartition first; at real scale the scan already has
    thousands of splits and this is a plan-only no-op (no shuffle)."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df


def exact_dups(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact duplicate groups: md5 of normalized text, groups with >1 doc.
    One shuffle; partial aggregation map-side."""
    norm = F.lower(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")))
    return (
        df.select(F.col("doc_id"), F.md5(norm).alias("fp"))
        .groupBy("fp")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keeper"))
        .filter(F.col("n_docs") > 1)
    )


def _shingles(text_col: str, k: int = SHINGLE_K):
    """k-token shingles as strings, via tokens + transform/slice —
    JVM-side higher-order functions, no UDF.

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


def shingle_sets(df: DataFrame, text_col: str = "text", k: int = SHINGLE_K) -> DataFrame:
    return df.select("doc_id", _shingles(text_col, k).alias("shingles"))


def minhash_signatures(df: DataFrame, text_col: str = "text",
                       n_hashes: int = N_MINHASH) -> DataFrame:
    """MinHash signature per doc: for seed i, sig_i = min over shingles of
    md5(i || ':' || shingle) — lexicographic min over hex strings is a
    valid uniform permutation min and is engine-portable."""
    out = (_spread(df).select("doc_id", _shingles(text_col).alias("sh"))
           .filter(F.size("sh") > 0))

    def mh(i: int):
        # NB: the lambda must be unary — a binary lambda is interpreted by
        # Spark's transform() as (element, index)
        return F.array_min(
            F.transform(F.col("sh"), lambda s: F.md5(F.concat(F.lit(f"{i}:"), s)))
        ).alias(f"mh{i}")

    return out.select("doc_id", *[mh(i) for i in range(n_hashes)])


def minhash_band_index(df: DataFrame, text_col: str = "text",
                       n_hashes: int = N_MINHASH,
                       n_bands: int = N_BANDS) -> DataFrame:
    """(doc_id, band_key) rows — the persistable LSH index of a corpus
    (band_key = band id '|' joined row hashes). This is the table an
    incremental pipeline appends per wave and joins new docs against."""
    sig = minhash_signatures(df, text_col, n_hashes)
    rows_per_band = n_hashes // n_bands
    bands = [
        F.concat_ws("|", F.lit(str(b)),
                    *[F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]
                    ).alias(f"band{b}")
        for b in range(n_bands)
    ]
    return sig.select("doc_id", F.explode(F.array(*bands)).alias("band_key"))


def minhash_lsh_candidates(df: DataFrame, text_col: str = "text",
                           n_hashes: int = N_MINHASH, n_bands: int = N_BANDS) -> DataFrame:
    """LSH banding: docs sharing any band bucket become candidate pairs.
    The band join shuffles on the band key only — never a cross join."""
    # the band rows (n_hashes md5 transforms per doc) feed both sides of
    # the band self-join — cache so the signatures compute once
    banded = minhash_band_index(df, text_col, n_hashes, n_bands).persist()
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(b, (F.col("a.band_key") == F.col("b.band_key"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    return pairs


def minhash_incremental_candidates(
    new_docs: DataFrame, index: DataFrame, text_col: str = "text",
    n_hashes: int = N_MINHASH, n_bands: int = N_BANDS,
) -> tuple[DataFrame, DataFrame]:
    """Per-wave incremental near-dup detection: candidates of the NEW
    docs against an existing corpus' band ``index`` (from
    minhash_band_index, persisted via TableIO across waves) plus the
    wave-internal candidates — WITHOUT recomputing anything over the
    historical corpus. Returns ``(pairs, new_bands)``:

    - ``pairs``: (doc_a, doc_b, against) — ``against='index'`` rows pair
      a new doc (doc_a) with an indexed doc (doc_b); ``against='wave'``
      rows pair two new docs (doc_a < doc_b).
    - ``new_bands``: the new docs' band rows, ready to append to the
      index table for the next wave.

    Completeness invariant (asserted in tests): index-build pairs ∪
    incremental pairs == minhash_lsh_candidates over old ∪ new — i.e.
    the incremental path finds exactly every pair involving a new doc.

    Scale shape: one band-key hash join of O(wave) new rows against the
    index (the index side shuffles once) + one O(wave) self-join. Historical text is never re-read.
    """
    new_bands = minhash_band_index(new_docs, text_col, n_hashes,
                                   n_bands).persist()
    vs_index = (
        new_bands.alias("a")
        .join(index.alias("b"), F.col("a.band_key") == F.col("b.band_key"))
        .filter(F.col("a.doc_id") != F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                F.lit("index").alias("against"))
        .distinct()
    )
    in_wave = (
        new_bands.alias("a")
        .join(new_bands.alias("b"),
              (F.col("a.band_key") == F.col("b.band_key"))
              & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                F.lit("wave").alias("against"))
        .distinct()
    )
    return vs_index.unionByName(in_wave), new_bands


SIMHASH_BANDS = 4       # 4 bands x 16 bits = 64-bit sketch


def simhash(df: DataFrame, text_col: str = "text") -> DataFrame:
    """64-bit SimHash, materialized as 4 x 16-bit band integers
    (``band0``..``band3``) plus the combined 16-hex-char ``simhash``.

    Bit j (0..63) sign source: hex nibble j of md5(token) for j < 32,
    nibble j-32 of md5('x:' || token) for j >= 32 — engine-portable
    (md5 + CASE arithmetic), fully vectorized JVM-side, no UDF.

    Why 64-bit + bands: a 16-bit sketch has only 65,536 buckets, so at
    10^9+ docs every bucket floods with unrelated docs. 64 bits keep the
    collision rate negligible, and the 4-band split gives Hamming-distance
    banding (pigeonhole: hamming <= 3 over 4 bands => at least one band
    identical) for candidate generation at scale."""
    toks = F.expr(f"regexp_extract_all({text_col}, '\\\\w+', 0)")
    ex = _spread(df).select("doc_id", F.explode(toks).alias("tok"))
    h1 = F.md5(F.col("tok"))
    h2 = F.md5(F.concat(F.lit("x:"), F.col("tok")))
    hi_nibbles = list("89abcdef")  # nibble >= 8 <=> top bit of the nibble set

    def bit_sum(j: int):
        h = h1 if j < 32 else h2
        return F.sum(
            F.when(F.substring(h, (j % 32) + 1, 1).isin(*hi_nibbles), 1).otherwise(-1)
        ).alias(f"s{j}")

    agg = ex.groupBy("doc_id").agg(*[bit_sum(j) for j in range(64)])
    band_cols = []
    for g in range(SIMHASH_BANDS):
        v = None
        for r in range(16):
            bit = (
                F.when(F.col(f"s{g * 16 + r}") > 0, F.lit(1)).otherwise(F.lit(0))
                * F.lit(1 << r)
            )
            v = bit if v is None else v + bit
        band_cols.append(v.cast("long").alias(f"band{g}"))
    out = agg.select("doc_id", *band_cols)
    hexstr = F.concat(
        *[F.lpad(F.lower(F.hex(F.col(f"band{g}"))), 4, "0")
          for g in reversed(range(SIMHASH_BANDS))]
    )
    return out.withColumn("simhash", hexstr)


def simhash_dup_groups(df: DataFrame, text_col: str = "text",
                       max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by 64-bit SimHash Hamming distance <= max_hamming.

    Candidate generation: explode each doc into its 4 (band_idx, value)
    keys and self-join on the key — by pigeonhole, any pair within
    Hamming distance 3 shares at least one identical 16-bit band, so the
    band join is lossless for max_hamming <= 3. Exact verify inside the
    candidate set via bit_count(xor) per band. Never an all-pairs scan;
    the shuffle key is the band bucket."""
    # the 64-column sign aggregation feeds both sides of the band
    # self-join — cache the sketch so it is computed once
    sig = simhash(df, text_col).persist()
    bands = sig.select(
        "doc_id", "band0", "band1", "band2", "band3",
        F.explode(F.array(*[
            F.concat_ws(":", F.lit(str(g)), F.col(f"band{g}").cast("string"))
            for g in range(SIMHASH_BANDS)
        ])).alias("band_key"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    ham = None
    for g in range(SIMHASH_BANDS):
        piece = F.bit_count(
            F.col(f"a.band{g}").bitwiseXOR(F.col(f"b.band{g}"))
        )
        ham = piece if ham is None else ham + piece
    return (
        a.join(b, (F.col("a.band_key") == F.col("b.band_key"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        threshold: float = 0.5, k: int = SHINGLE_K,
                        max_df: int = 1000) -> DataFrame:
    """Pairwise n-gram Jaccard >= threshold via a doc-frequency-capped
    shingle-inverted-index block, with exact verification.

    Scale guard: a shingle occurring in n docs produces n^2/2 join rows —
    one stop-phrase shared by 10^6 docs would create a 10^12-row join.
    Shingles with document frequency > max_df are therefore dropped from
    the CANDIDATE index (the drop count is logged at INFO). The Jaccard
    for every surviving candidate pair is still EXACT — computed from the
    full shingle sets via array_intersect — so the only loss is pairs
    whose every shared shingle is hotter than max_df (principled: such
    pairs share only boilerplate).

    Mirrors the pair *semantics* of the reference's duplicate-content
    detector (issue_detector.py:1299-1431) without the O(n^2) scan.
    """
    import logging

    # The shingle sets feed FOUR consumers (inverted index, doc sizes,
    # and both verify sides) and the ranked index feeds two (prefix +
    # probe of the self-join) — without caches every branch re-runs the
    # regex tokenization, the dominant cost. Both caches spill to disk
    # past memory; they are sized by the inverted index, which any
    # AllPairs-family join materializes at least once anyway. _spread
    # parallelizes the tokenization when the scan has few splits.
    sh = (shingle_sets(_spread(df), text_col, k)
          .filter(F.size("shingles") > 0).persist())
    inv = sh.select("doc_id", F.explode("shingles").alias("shingle"))
    dfreq = inv.groupBy("shingle").agg(F.count("*").alias("df"))
    log = logging.getLogger(__name__)
    if log.isEnabledFor(logging.INFO):
        # no-silent-caps logging without an extra explode+groupBy job:
        # dfreq is pinned, the count materializes it, and the candidate
        # join below reuses the cached frame (one dfreq computation
        # total — previously the INFO path recomputed it)
        dfreq = dfreq.persist()
        n_hot = dfreq.filter(F.col("df") > max_df).count()
        if n_hot:
            log.info("ngram_jaccard_pairs: dropped %d shingles with df > %d "
                     "from the candidate index", n_hot, max_df)
    # hot residue is tiny by construction -> broadcast anti-join
    hot = dfreq.filter(F.col("df") > max_df).select("shingle")
    inv_cold = inv.join(hot, "shingle", "left_anti")

    # EXACT prefix filter (AllPairs/PPJoin family): order each doc's
    # cold shingles by ascending global document frequency (rarest
    # first; ties by shingle — any total order works) and INDEX only the
    # first n - ceil(c*n) + 1 of them, c = 2t/(1+t), where n is the
    # doc's FULL shingle count. Completeness proof (holds through the
    # hot-shingle drop): for a pair A,B with J >= t and |A| <= |B|,
    # overlap o >= t/(1+t)(|A|+|B|) >= c*|A|; if B missed every indexed
    # prefix shingle of A, then all common elements sit in A's cold
    # suffix or A's hot set, so o <= (|cold_A| - p_A) + |hot_A| =
    # |A| - p_A = ceil(c|A|) - 1 < c|A| <= o — contradiction. The join
    # therefore probes ALL cold entries of the larger side against the
    # smaller side's prefix entries, with the exact size-ratio conjunct
    # |A| >= t*|B| (o <= |A| and o >= t|B|). Candidates shrink ~2-3x
    # (prefix is the rare ~43% at t=0.5) and every J>=t pair survives,
    # so the exact verify below yields the identical final pair set.
    c_pref = 2.0 * threshold / (1.0 + threshold)
    sizes = sh.select("doc_id", F.size("shingles").alias("n"))
    ranked = (
        inv_cold.join(dfreq, "shingle")
        .withColumn("_rk", F.row_number().over(
            Window.partitionBy("doc_id").orderBy("df", "shingle")))
        .join(sizes, "doc_id")
        .persist()
    )
    prefix = ranked.filter(
        F.col("_rk") <= F.col("n") - F.ceil(c_pref * F.col("n")) + 1
    ).select("doc_id", "shingle", "n")
    probe = ranked.select("doc_id", "shingle", "n")
    cand = (
        prefix.alias("a").join(
            probe.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") != F.col("b.doc_id"))
            & (F.col("a.n") <= F.col("b.n"))           # prefix side = smaller doc
            & (F.col("a.n") >= threshold * F.col("b.n") - 1e-9),
        )
        .select(F.least("a.doc_id", "b.doc_id").alias("doc_a"),
                F.greatest("a.doc_id", "b.doc_id").alias("doc_b"))
        .distinct()
    )
    pa = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    pb = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    n_inter = F.size(F.array_intersect("sh_a", "sh_b"))
    return (
        cand.join(pa, "doc_a").join(pb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(n_inter / (F.size("sh_a") + F.size("sh_b") - n_inter), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def containment_pairs(df: DataFrame, text_col: str = "text",
                      threshold: float = 0.8, k: int = SHINGLE_K,
                      max_df: int = 1000) -> DataFrame:
    """Ordered near-containment pairs: (doc_inner, doc_outer,
    containment) where C(inner→outer) = |S(inner) ∩ S(outer)| /
    |S(inner)| >= threshold — the asymmetric twin of ngram_jaccard_pairs
    that catches what Jaccard structurally misses: a short document
    wholly embedded in a much longer one (template + article, quoted
    post + thread page, boilerplate wrapper) has near-1 containment but
    Jaccard ≈ |inner|/|outer| → 0 as the outer grows.

    Same physical strategy as ngram_jaccard_pairs (df-capped inverted
    index + exact array_intersect verify), with the containment-specific
    prefix filter: index only each doc's n - ceil(t*n) + 1 rarest cold
    shingles as the INNER side (if the outer missed every indexed
    prefix shingle, overlap <= |inner| - p < t*|inner| — contradiction;
    same argument as the Jaccard prefix, c = t), and probe with ALL cold
    entries as the outer side — no size-ratio conjunct, because the
    outer may be arbitrarily larger. Pairs whose every shared shingle
    has df > max_df are dropped (principled: boilerplate-only overlap),
    identically to ngram_jaccard_pairs.
    """
    sh = (shingle_sets(_spread(df), text_col, k)
          .filter(F.size("shingles") > 0).persist())
    inv = sh.select("doc_id", F.explode("shingles").alias("shingle"))
    dfreq = inv.groupBy("shingle").agg(F.count("*").alias("df"))
    hot = dfreq.filter(F.col("df") > max_df).select("shingle")
    inv_cold = inv.join(hot, "shingle", "left_anti")
    sizes = sh.select("doc_id", F.size("shingles").alias("n"))
    ranked = (
        inv_cold.join(dfreq, "shingle")
        .withColumn("_rk", F.row_number().over(
            Window.partitionBy("doc_id").orderBy("df", "shingle")))
        .join(sizes, "doc_id")
        .persist()
    )
    prefix = ranked.filter(
        F.col("_rk") <= F.col("n") - F.ceil(threshold * F.col("n")) + 1
    ).select("doc_id", "shingle")
    probe = ranked.select("doc_id", "shingle")
    cand = (
        prefix.alias("a").join(
            probe.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_inner"),
                F.col("b.doc_id").alias("doc_outer"))
        .distinct()
    )
    pa = sh.select(F.col("doc_id").alias("doc_inner"),
                   F.col("shingles").alias("sh_a"))
    pb = sh.select(F.col("doc_id").alias("doc_outer"),
                   F.col("shingles").alias("sh_b"))
    out = (
        cand.join(pa, "doc_inner").join(pb, "doc_outer")
        .withColumn(
            "containment",
            F.round(F.size(F.array_intersect("sh_a", "sh_b"))
                    / F.size("sh_a"), 6),
        )
        .filter(F.col("containment") >= threshold)
        .select("doc_inner", "doc_outer", "containment")
    )
    return out


def connected_components(edges: DataFrame, src: str = "src", dst: str = "dst",
                         nodes: DataFrame | None = None, id_col: str = "id",
                         max_iter: int = 64) -> DataFrame:
    """Connected components by min-label propagation with pointer
    jumping: each round relaxes labels across edges (``groupBy(min)`` —
    partial aggregation, no window) then shortcuts ``comp <- comp[comp]``
    (one self-join), giving O(log diameter) rounds on paths instead of
    O(diameter). Returns ``(id, comp)`` with comp = min node id in the
    component — deterministic and engine-independent.

    Scale shape: per round one edge join hash-partitioned on the node
    key plus one label self-join; labels only ever decrease, so
    ``sum(comp)`` is strictly decreasing until the fixpoint — the
    convergence probe is a single scalar aggregate per round (exact, not
    a checksum). No driver-side graph state; ``nodes`` (optional) adds
    isolated vertices as singleton components."""
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    sym = e.unionByName(e.select(F.col("d").alias("s"), F.col("s").alias("d")))
    sym = sym.filter(F.col("s") != F.col("d")).distinct().persist()
    base = sym.select(F.col("s").alias(id_col))
    if nodes is not None:
        base = base.unionByName(nodes.select(F.col(id_col)))
    lbl = base.distinct().select(id_col, F.col(id_col).alias("comp")).persist()
    prev = None
    for _ in range(max_iter):
        relaxed = (
            sym.join(lbl, sym["s"] == lbl[id_col])
            .select(sym["d"].alias(id_col), lbl["comp"].alias("comp"))
            .unionByName(lbl)
            .groupBy(id_col)
            .agg(F.min("comp").alias("comp"))
        )
        jump = relaxed.select(F.col(id_col).alias("_j"), F.col("comp").alias("_jc"))
        # eager localCheckpoint, not persist: `relaxed` appears twice in
        # this plan (itself + jump), so lineage would DOUBLE per round —
        # the analyzed plan grows 2^rounds and planning OOMs long before
        # the data does. Truncating lineage each round keeps the plan
        # O(1)-deep; on a multi-executor cluster swap in a reliable
        # checkpoint dir at intervals for executor-loss tolerance.
        new = (
            relaxed.join(jump, relaxed["comp"] == jump["_j"], "left")
            .select(id_col, F.coalesce("_jc", "comp").alias("comp"))
            .localCheckpoint(eager=True)
        )
        # labels are monotone non-increasing, so an unchanged sum IS the
        # fixpoint (decimal: 10^9 nodes x 10^10-scale ids overflows long)
        cur = new.agg(
            F.sum(F.col("comp").cast("decimal(38,0)"))).collect()[0][0]
        lbl.unpersist()
        lbl = new
        if cur == prev:
            break
        prev = cur
    sym.unpersist()
    return lbl


def dup_clusters(docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id",
                 pair_cols: tuple[str, str] = ("doc_a", "doc_b")) -> DataFrame:
    """Duplicate clusters from near-dup PAIRS (any of the pair producers
    above: minhash_lsh_candidates, simhash_dup_groups,
    ngram_jaccard_pairs, similarity.embedding_near_dups): the transitive
    closure groups A~B~C into one cluster labeled by its min doc_id.
    Docs in no pair are singleton clusters. The canonical final step of
    a dedup pipeline — keep ``is_keeper`` rows, drop the rest."""
    edges = pairs.select(F.col(pair_cols[0]).alias("src"),
                         F.col(pair_cols[1]).alias("dst"))
    cc = connected_components(
        edges, nodes=docs.select(F.col(id_col).alias("id")))
    return cc.select(
        F.col("id").alias(id_col), F.col("comp").alias("cluster"),
        (F.col("id") == F.col("comp")).alias("is_keeper"))


def dup_chunk_stats(df: DataFrame, text_col: str = "text",
                    k: int = 8) -> DataFrame:
    """Cross-document duplicated-chunk statistics — the chunk-hash
    approximation of exact-substring dedup (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better" §4.1
    motivates removing repeated substrings; the scalable web-corpus
    variant hashes NON-OVERLAPPING k-token chunks, as in MassiveWeb's
    boilerplate pass) over the corpus-wide tokenization shared with
    token_count/repetition_metrics (lowercase ``\\w+``).

    A chunk occurrence is *duplicated* when its md5 appears more than
    once across the whole corpus (including twice within one document —
    exactly what "this substring exists elsewhere" means). Per doc:

    - ``n_chunks``        full k-token chunks (trailing partial dropped)
    - ``n_dup_chunks``    occurrences whose hash has corpus count > 1
    - ``dup_chunk_frac``  n_dup_chunks / n_chunks, round 6 (0.0 when
                          the doc is shorter than k tokens)

    Scale shape: per-(doc, hash) counts first (``groupBy`` — partial
    aggregation combines map-side, so a boilerplate chunk repeated 10^4
    times in one page ships as ONE row), then per-hash totals
    (hash-partitioned agg; its output partitioning feeds the join back
    so only the occurrence side re-exchanges), then one doc_id re-agg.
    Never a window over the hash key — a chunk shared by 10^8 docs is
    just a large but splittable aggregation group, not a single-task
    sort. md5 keys keep the DuckDB oracle bit-identical."""
    toks = F.expr(f"regexp_extract_all(lower({text_col}), '\\\\w+', 0)")
    d = df.select("doc_id", toks.alias("_tk"))
    n_full = F.floor(F.size("_tk") / k).cast("int")
    chunks = F.when(
        n_full > 0,
        F.transform(
            F.sequence(F.lit(0), n_full - 1),
            lambda i: F.md5(F.concat_ws(" ", F.slice("_tk", i * k + 1, k))),
        ),
    ).otherwise(F.expr("array()").cast("array<string>"))
    occ = (
        _spread(d).select("doc_id", F.explode(chunks).alias("chash"))
        .groupBy("doc_id", "chash").agg(F.count("*").alias("cnt"))
    )
    tot = occ.groupBy("chash").agg(F.sum("cnt").alias("total"))
    per_doc = (
        occ.join(tot, "chash")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("int").alias("n_chunks"),
            F.sum(F.when(F.col("total") > 1, F.col("cnt")).otherwise(F.lit(0)))
            .cast("int").alias("n_dup_chunks"),
        )
    )
    # docs with < k tokens produce no occurrence rows — restore them
    return (
        df.select("doc_id").join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_chunks", F.lit(0)).alias("n_chunks"),
            F.coalesce("n_dup_chunks", F.lit(0)).alias("n_dup_chunks"),
            F.round(
                F.when(F.coalesce("n_chunks", F.lit(0)) > 0,
                       F.coalesce("n_dup_chunks", F.lit(0)).cast("double")
                       / F.col("n_chunks")).otherwise(F.lit(0.0)),
                6,
            ).alias("dup_chunk_frac"),
        )
    )


def dup_chunk_filter(df: DataFrame, text_col: str = "text", k: int = 8,
                     max_dup_chunk_frac: float = 0.5) -> DataFrame:
    """Gate on cross-document chunk duplication: ``keep`` is false when
    more than ``max_dup_chunk_frac`` of a document's k-token chunks
    exist elsewhere in the corpus — the inter-document complement of
    the within-document Gopher repetition gate (text.repetition_filter).
    Returns metrics plus the flag so pipelines can audit before
    dropping."""
    m = dup_chunk_stats(df, text_col, k)
    return m.withColumn("keep", F.col("dup_chunk_frac") <= max_dup_chunk_frac)
