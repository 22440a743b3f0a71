"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes the engine's operator inventory over the driver's
parquet tables (TESTDATA.md); each has a DuckDB twin in ``oracle_sql()``
with identically-aliased columns. Names map to SURVEY.md §2 operator IDs
(J*/A*/W*/F*/C*/U*) plus the training-data-pipeline suite
(dedup_*/sim_*/text_*/events_*).

The crawl-core operators that need the span-document corpus (fetch join,
extraction, trap windows, politeness) are verified against the
reference-transcription oracle in tests/test_crawl_e2e.py; here
``entry()`` exercises the same scheduling primitives over sf0.001.

Cross-engine parity rules used throughout:
- every computed column aliased identically on both sides
- float aggregates rounded; exact hashing via md5 strings (portable,
  unlike xxhash64); timestamps stringified
- deterministic ORDER BY + tie-breaks wherever LIMIT appears
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

STOP = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")
LANGS = {
    "de": ("der", "die", "und", "das", "nicht"),
    "en": ("the", "and", "of", "to", "in"),
    "es": ("el", "la", "que", "de", "los"),
    "fr": ("le", "la", "les", "des", "est"),
    "zh": ("de5", "shi4", "le5", "zai4", "he2"),
}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# entry — flagship: one frontier-scheduling wave over sf0.001
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: build a synthetic frontier from sf0.001 documents (each
    doc -> a URL on a zipf-ish host), explode candidate links, and run the
    engine's canonicalize -> dedup -> trap -> per-host-quota scheduling
    pipeline — the same operators the crawl engine uses per wave."""
    from librecrawl_spark.functions import urls as U  # noqa: F401 (parity import)
    from librecrawl_spark.operators import frontier as FR

    docs = _t(spark, "/root/testdata/sf0.001", "documents")
    urls = docs.select(
        F.concat(
            F.lit("https://host"),
            F.pmod(F.col("doc_id"), F.lit(7)).cast("string"),
            F.lit(".example/doc/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        F.col("doc_id"),
    )
    # candidate links: 3 pseudo-random targets per doc
    cands = urls.select(
        F.col("url").alias("src_url"),
        F.col("doc_id").alias("src_seq"),
        F.explode(
            F.array(*[F.pmod(F.xxhash64("doc_id") + i, F.lit(500)) for i in range(3)])
        ).alias("tgt_id"),
    ).select(
        "src_url", "src_seq",
        F.concat(
            F.lit("https://host"), F.pmod(F.col("tgt_id"), F.lit(7)).cast("string"),
            F.lit(".example/doc/"), F.col("tgt_id").cast("string"),
        ).alias("clean_url"),
        F.lit(0).alias("link_idx"),
        F.lit("/doc/\\d+").alias("signature"),
        F.concat(F.lit("host"), F.pmod(F.col("tgt_id"), F.lit(7)).cast("string"),
                 F.lit(".example")).alias("host"),
        F.lit(1).alias("depth"),
    )
    seen = urls.limit(100).select("url")  # first 100 URLs already seen
    deduped = FR.anti_join_seen(
        cands.filter(F.col("clean_url") != F.col("src_url")), seen
    )
    first = deduped.withColumn(
        "rn", F.row_number().over(Window.partitionBy("clean_url").orderBy("src_seq", "link_idx"))
    ).filter("rn = 1")
    hosts = first.sparkSession.createDataFrame(
        [(f"host{i}.example", float(i % 3)) for i in range(7)],
        schema="host string, crawl_delay double",
    )
    selected, _deferred = FR.apply_politeness(
        first.select(F.col("clean_url").alias("url"), F.col("src_seq").alias("seq"), "depth"),
        hosts, wave_seconds=60.0,
    )
    return selected.orderBy("seq", "url")


# ---------------------------------------------------------------------------
# queries + oracles
# ---------------------------------------------------------------------------

def _issue_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic pages-shaped DF derived from documents — the input
    for the issue-engine driver queries (j4/j6/j7/issue predicates).
    Every column is a pure function of doc_id/n_chars so the DuckDB
    oracle can construct the identical table in SQL."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    i = F.col("doc_id")
    s = i.cast("string")
    # URL-structure pathologies live inside class-preserving cases:
    # case 2 stays 'important' (/about substring) but goes >115 chars,
    # case 3 stays 'other' with an underscore, case 5 stays 'archive'
    # (/page/ substring) with a repeated segment, case 6 stays 'other'
    # with query parameters (stripped by the classifier's _path_of)
    path = (
        F.when(i % 7 == 0, F.lit("/"))
        .when(i % 7 == 1, F.concat(F.lit("/tag/t"), s))
        .when(i % 7 == 2, F.concat(F.lit("/about/" + "a" * 110), s))
        .when(i % 7 == 3, F.concat(F.lit("/login/l_"), s))
        .when(i % 7 == 4, F.concat(F.lit("/2024/05/12/post-"), s))
        .when(i % 7 == 5, F.concat(F.lit("/page/page/"), s))
        .otherwise(F.concat(F.lit("/a/b"), s, F.lit("?ref=x")))
    )
    url = F.concat(F.lit("https://i.example"), path)
    title = (
        F.when(i % 11 == 3, F.lit(""))
        .when(i % 11 == 5, F.lit("Page not found"))
        .when(i % 11 == 7, F.lit("T" * 65))
        .when(i % 11 == 0, F.lit("Short"))
        .otherwise(F.concat(F.lit("Title for document number padded "), s))
    )
    desc = (
        F.when(i % 9 == 2, F.lit(""))
        .when(i % 9 == 4, F.lit("D" * 160))
        .otherwise(F.concat(F.lit("Description for "), s, F.lit(" of this corpus page.")))
    )
    h1_list = (
        F.when(i % 8 == 1, F.array().cast("array<string>"))
        .when(i % 8 == 2, F.array(F.lit("Dup"), F.lit("Dup")))
        .when(i % 8 == 3, F.array(F.lit("One"), F.lit("Two")))
        .when(i % 8 == 4, F.array(F.lit("H" * 75)))
        .otherwise(F.array(F.concat(F.lit("Heading "), s)))
    )
    h2 = (
        F.when(i % 6 == 3, F.array(F.lit("S"), F.lit("S")))
        # boilerplate-only duplicates -> H2: Duplicate (Boilerplate)
        .when(i % 6 == 5, F.array(F.lit("Comments"), F.lit("Comments")))
        .otherwise(F.array(F.lit("S1"), F.lit("S2")))
    )
    hs_t = "array<struct<level:int, text:string>>"
    headings = (
        # first heading is an H2 -> 'H2 appears before H1'
        F.when(i % 17 == 2, F.expr("array(struct(2 AS level, 'A' AS text))"))
        # H1 -> H3 skip -> 'H3: Non-Sequential'
        .when(i % 17 == 3, F.expr(
            "array(struct(1 AS level, 'A' AS text), struct(3 AS level, 'B' AS text),"
            " struct(2 AS level, 'C' AS text))"))
        # first heading is an H3
        .when(i % 17 == 5, F.expr("array(struct(3 AS level, 'A' AS text))"))
        .otherwise(F.expr(
            "array(struct(1 AS level, 'A' AS text), struct(2 AS level, 'B' AS text))"))
    ).cast(hs_t)
    status = (
        F.when(i % 19 == 4, F.lit(0))
        .when(i % 19 == 6, F.lit(404))
        .when(i % 19 == 8, F.lit(500))
        .when(i % 19 == 10, F.lit(301))
        .otherwise(F.lit(200))
    )
    chain_urls = (
        F.when(i % 23 == 7, F.array(url, F.concat(url, F.lit("/r")), url))
        .when(i % 23 == 9, F.array(*[F.concat(url, F.lit(f"/r{k}")) for k in range(5)]))
        .when(i % 23 == 11, F.array(url, F.concat(url, F.lit("/r1")), F.concat(url, F.lit("/r2"))))
        .otherwise(F.array().cast("array<string>"))
    )
    chain = F.expr(
        "transform(chain_urls, (u, k) -> "
        "struct(u AS url, 301 AS status_code, k + 1 AS hop, false AS final))"
    )
    canonical = (
        F.when(i % 10 == 6, F.lit(""))
        .when(i % 10 == 8, F.lit("https://i.example/"))
        .when(i % 10 == 4, F.concat(url, F.lit("/")))
        .otherwise(url)
    )
    images = F.when(
        i % 5 == 2,
        F.expr("array(struct('/s.png' AS src, '' AS alt, '' AS width, '10' AS height), "
               "struct('/t.png' AS src, 'ok' AS alt, '10' AS width, '10' AS height))"),
    ).when(
        i % 5 == 3,
        F.expr("array(struct('http://i.example/mc.png' AS src, 'a' AS alt,"
               " '10' AS width, '10' AS height))"),
    ).otherwise(F.expr(
        "array()"
    ).cast("array<struct<src:string,alt:string,width:string,height:string>>"))
    # structured-data variants: i%6==0 -> no data; 1 -> FAQPage with
    # faq_count=i%3; 2 -> Article (fields ok only when i%2==0);
    # 3 -> Organization; 4 -> Product; 5 -> WebSite
    sd = F.pmod(i, F.lit(6))
    schema_types = (
        F.when(sd == 1, F.array(F.lit("FAQPage")))
        .when(sd == 2, F.array(F.lit("Article")))
        .when(sd == 3, F.array(F.lit("Organization")))
        .when(sd == 4, F.array(F.lit("Product")))
        .when(sd == 5, F.array(F.lit("WebSite")))
        .otherwise(F.array().cast("array<string>"))
    )
    json_ld = F.when(sd > 0, F.array(F.lit("{}"))).otherwise(
        F.array().cast("array<string>")
    )
    return (
        d.withColumn("chain_urls", chain_urls)
        .select(
            url.alias("url"),
            title.alias("title"),
            desc.alias("meta_description"),
            F.coalesce(F.get(h1_list, 0), F.lit("")).alias("h1"),
            h1_list.alias("h1_list"),
            h2.alias("h2"),
            headings.alias("headings_structure"),
            F.when(i % 16 == 2, F.lit("")).otherwise(F.lit("en")).alias("lang"),
            F.pmod(F.col("n_chars"), F.lit(700)).cast("int").alias("word_count"),
            status.alias("status_code"),
            F.lit("text/html").alias("content_type"),
            F.when(status == 0, F.lit("fetch failed")).otherwise(F.lit(None).cast("string")).alias("error"),
            chain.alias("redirect_chain"),
            F.greatest(F.size(F.col("chain_urls")) - 1, F.lit(0)).alias("redirect_count"),
            canonical.alias("canonical_url"),
            F.when(i % 12 == 5, F.lit("")).otherwise(F.lit("width=device-width")).alias("viewport"),
            images.alias("images"),
            F.when(i % 14 == 9, F.lit("noindex, nofollow")).otherwise(F.lit("")).alias("robots"),
            F.when(i % 14 == 11, F.lit("noindex")).otherwise(F.lit("")).alias("x_robots_tag"),
            json_ld.alias("json_ld"),
            F.expr("array()").cast(
                "array<struct<type:string,properties:map<string,string>>>"
            ).alias("schema_org"),
            schema_types.alias("schema_types"),
            F.when(sd == 1, F.pmod(i, F.lit(3))).otherwise(F.lit(0)).cast("int").alias("faq_count"),
            (sd == 3).alias("has_organization"),
            (sd == 5).alias("has_website"),
            ((sd == 2) & (i % 2 == 0)).alias("article_fields_ok"),
            # social / performance / links columns (round-3 families)
            F.when(i % 4 == 1, F.expr("map('title', 'OG')"))
            .otherwise(F.expr("map()")).alias("og_tags"),
            F.when(i % 5 == 2, F.expr("map('card', 'summary')"))
            .otherwise(F.expr("map()")).alias("twitter_tags"),
            F.when(i % 29 == 21, F.lit(4_000_000).cast("long"))
            .otherwise((F.lit(1000) + F.pmod(i, F.lit(2000))).cast("long")).alias("size"),
            F.when(i % 13 == 6, F.lit(4200.0))
            .otherwise(F.pmod(i, F.lit(900)).cast("double")).alias("response_time"),
            F.when(i % 10 == 7, F.lit(60))
            .otherwise(F.pmod(i, F.lit(5))).cast("int").alias("external_links"),
            _links_data_variants(i).alias("links_data"),
        )
    )


def _links_data_variants(i):
    """links_data cases exercising each link-issue predicate: internal
    nofollow / empty anchor / generic anchor / _blank-without-noopener /
    protocol-relative href / none."""
    t = ("array<struct<href:string, absolute_url:string, text:string,"
         " rel:array<string>, target:string, is_internal:boolean>>")
    mk = lambda href, text, rel, target, is_int: F.expr(
        f"array(struct('{href}' AS href, '{href}' AS absolute_url,"
        f" '{text}' AS text, {rel} AS rel, '{target}' AS target,"
        f" {is_int} AS is_internal))"
    ).cast(t)
    return (
        F.when(i % 6 == 0, mk("/a", "More info", "array('nofollow')", "", "true"))
        .when(i % 6 == 1, mk("https://e1.example/x", "", "array()", "", "false"))
        .when(i % 6 == 2, mk("/b", "click here", "array()", "", "true"))
        .when(i % 6 == 3, mk("https://ext3.example/p", "out", "array()", "_blank", "false"))
        .when(i % 6 == 4, mk("//cdn.example/lib.js", "cdn", "array()", "", "false"))
        .otherwise(F.expr("array()").cast(t))
    )


def _sitewide_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pages-shaped DF over 5 synthetic domains for the SITE-WIDE issue
    checks (security headers + unsafe cross-origin): header policy is a
    pure function of domain (= doc_id % 5), unsafe _blank links of
    doc_id % 7, so the DuckDB twin reconstructs expected rows exactly."""
    d = _t(spark, sf_dir, "documents").select("doc_id")
    i = F.col("doc_id")
    dom = F.concat(F.lit("d"), F.pmod(i, F.lit(5)).cast("string"), F.lit(".example"))
    url = F.concat(F.lit("https://"), dom, F.lit("/p"), i.cast("string"))
    hm = (
        F.when(i % 5 == 0, F.expr(
            "map('content-security-policy', 'x', 'strict-transport-security', 'x',"
            " 'x-frame-options', 'x')"))
        .when(i % 5 == 1, F.expr(
            "map('strict-transport-security', 'x', 'x-frame-options', 'x')"))
        .when(i % 5 == 2, F.expr("map('content-security-policy', 'x')"))
        .otherwise(F.expr("map()"))
    )
    t = ("array<struct<href:string, absolute_url:string, text:string,"
         " rel:array<string>, target:string, is_internal:boolean>>")
    ext = F.concat(F.lit("https://x"), F.pmod(i, F.lit(4)).cast("string"),
                   F.lit(".example/out"))
    ld = (
        F.when(i % 7 == 3, F.array(F.struct(
            ext.alias("href"), ext.alias("absolute_url"), F.lit("out").alias("text"),
            F.expr("array()").cast("array<string>").alias("rel"),
            F.lit("_blank").alias("target"), F.lit(False).alias("is_internal"))))
        .when(i % 7 == 5, F.array(F.struct(
            ext.alias("href"), ext.alias("absolute_url"), F.lit("ok").alias("text"),
            F.expr("array('noopener')").alias("rel"),
            F.lit("_blank").alias("target"), F.lit(False).alias("is_internal"))))
        .otherwise(F.expr("array()").cast(t))
    ).cast(t)
    return d.select(
        url.alias("url"),
        F.lit(0).alias("wave"),
        i.alias("seq"),
        F.when(i % 19 == 4, F.lit(0)).otherwise(F.lit(200)).alias("status_code"),
        hm.alias("response_headers"),
        ld.alias("links_data"),
    )


# exactly 8 \w+ tokens — one full k=8 chunk when prepended (dedup_chunks)
_CHUNK_BOILER = "all rights reserved contact us for more info"


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from librecrawl_spark.operators import dedup as D, similarity as S, text as T

    def a1_stats_counts(spark, sf):
        li = _t(spark, sf, "lineitem")
        return li.agg(
            F.count("*").alias("n_rows"),
            F.countDistinct("l_orderkey").alias("n_orders"),
            F.max("l_linenumber").alias("max_line"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )

    def q1_pricing_summary(spark, sf):
        li = _t(spark, sf, "lineitem")
        return (
            li.groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
                F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
                F.count("*").alias("count_order"),
            )
            .orderBy("l_returnflag", "l_linestatus")
        )

    def j1_status_lookup_join(spark, sf):
        o = _t(spark, sf, "orders")
        c = _t(spark, sf, "customer")
        return (
            o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
            .groupBy("c_mktsegment")
            .agg(F.count("*").alias("n_orders"),
                 F.round(F.sum("o_totalprice"), 2).alias("sum_price"))
        )

    def j2_reverse_links(spark, sf):
        o = _t(spark, sf, "orders")
        return (
            o.filter(F.col("o_custkey") <= 50)
            .groupBy("o_custkey")
            .agg(
                F.concat_ws(",", F.sort_array(F.collect_list(F.col("o_orderkey").cast("string")))).alias("orderkeys"),
                F.count("*").alias("n"),
            )
        )

    def j3_classify_join(spark, sf):
        o = _t(spark, sf, "orders")
        li = _t(spark, sf, "lineitem")
        flags = li.groupBy("l_orderkey").agg(
            F.max(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias("has_r")
        )
        j = o.join(flags, o["o_orderkey"] == flags["l_orderkey"], "left")
        cls = (
            F.when(F.col("l_orderkey").isNull(), "no_lines")
            .when(F.col("has_r") == 1, "returned")
            .otherwise("clean")
        )
        return j.groupBy(cls.alias("order_class")).agg(F.count("*").alias("n"))

    def j5_broken_sources(spark, sf):
        li = _t(spark, sf, "lineitem")
        o = _t(spark, sf, "orders")
        return (
            li.filter(F.col("l_returnflag") == "R")
            .join(o, li["l_orderkey"] == o["o_orderkey"])
            .groupBy("o_orderpriority")
            .agg(F.countDistinct("l_orderkey").alias("n_broken"),
                 F.count("*").alias("n_lines"))
        )

    def j8_anti_join(spark, sf):
        c = _t(spark, sf, "customer")
        o = _t(spark, sf, "orders").filter(F.col("o_orderstatus") == "F")
        return (
            c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti")
            .groupBy("c_mktsegment")
            .agg(F.count("*").alias("n_customers_no_f_orders"))
        )

    def w3_topk_per_group(spark, sf):
        o = _t(spark, sf, "orders")
        w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        return (
            o.withColumn("rk", F.row_number().over(w))
            .filter((F.col("rk") <= 3) & (F.col("o_custkey") <= 100))
            .select("o_custkey", "rk", "o_orderkey",
                    F.round("o_totalprice", 2).alias("price"))
        )

    def a10_first_per_group(spark, sf):
        e = _t(spark, sf, "events")
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        return (
            e.withColumn("rk", F.row_number().over(w))
            .filter("rk = 1")
            .select("user_id", "event_id", F.col("event_type").alias("first_type"))
        )

    def u2_union_dedup(spark, sf):
        o = _t(spark, sf, "orders").select(F.col("o_custkey").alias("k"))
        c = _t(spark, sf, "customer").select(F.col("c_custkey").alias("k"))
        return o.unionByName(c).distinct().agg(F.count("*").alias("n_distinct_keys"))

    def f7_regex_filters(spark, sf):
        d = _t(spark, sf, "documents")
        return (
            d.filter(F.col("text").rlike("spark") & ~F.col("text").rlike("slow"))
            .groupBy("lang")
            .agg(F.count("*").alias("n"))
        )

    def c3_signature_counts(spark, sf):
        d = _t(spark, sf, "documents")
        return (
            d.select(F.regexp_replace("source", r"\d+", "N").alias("sig"))
            .groupBy("sig")
            .agg(F.count("*").alias("n"))
        )

    def a9_bigram_topk(spark, sf):
        d = _t(spark, sf, "documents")
        # Tokenize ONCE per row behind a projection barrier (CollapseProject
        # refuses to inline a non-cheap expr referenced more than once), then
        # pair adjacent tokens with zip_with over two slices — the former
        # transform(sequence(...), i -> element_at(toks, i)) form re-ran the
        # full regexp_extract_all for EVERY element inside the lambda,
        # i.e. O(n_tokens) regex passes per document.
        # zip_with guards short docs itself: size(tk) < 2 makes both slice
        # lengths <= 0 -> empty arrays -> no pairs.
        bigrams = F.expr(
            "zip_with(slice(tk, 1, greatest(size(tk) - 1, 0)), "
            "slice(tk, 2, greatest(size(tk) - 1, 0)), "
            "(a, b) -> concat_ws(' ', a, b))"
        )
        return (
            d.select(F.expr("regexp_extract_all(text, '\\\\w+', 0)").alias("tk"))
            .select(F.explode(bigrams).alias("bigram"))
            .groupBy("bigram")
            .agg(F.count("*").alias("n"))
            .orderBy(F.desc("n"), F.asc("bigram"))
            .limit(10)
        )

    def w6_top_docs_cap(spark, sf):
        d = _t(spark, sf, "documents")
        return (
            d.orderBy(F.desc("n_chars"), F.asc("doc_id"))
            .limit(100)
            .select("doc_id", "n_chars")
        )

    def dedup_fingerprint(spark, sf):
        from librecrawl_spark.operators.text import fingerprint

        return fingerprint(_t(spark, sf, "documents"))

    def dedup_minhash(spark, sf):
        return D.minhash_signatures(_t(spark, sf, "documents"), n_hashes=4)

    def dedup_simhash(spark, sf):
        return D.simhash(_t(spark, sf, "documents"))

    def dedup_simhash_pairs(spark, sf):
        return D.simhash_dup_groups(_t(spark, sf, "documents"), max_hamming=3)

    def dedup_jaccard_pairs(spark, sf):
        return D.ngram_jaccard_pairs(
            _t(spark, sf, "documents"), threshold=0.4, max_df=1000
        )

    def sim_cosine_topk(spark, sf):
        e = _t(spark, sf, "embeddings")
        q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
        dot = F.expr(
            "aggregate(zip_with(embedding, qe, (x, y) -> cast(x as double) * cast(y as double)), "
            "cast(0.0 as double), (acc, v) -> acc + v)"
        )
        nv = F.expr(
            "sqrt(aggregate(embedding, cast(0.0 as double), (acc, v) -> acc + cast(v as double) * cast(v as double)))"
        )
        nq = F.expr(
            "sqrt(aggregate(qe, cast(0.0 as double), (acc, v) -> acc + cast(v as double) * cast(v as double)))"
        )
        return (
            e.crossJoin(F.broadcast(q))
            .select("vec_id", F.round(dot / (nv * nq), 6).alias("cos_sim"))
            .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
            .limit(10)
        )

    def text_tokens(spark, sf):
        from librecrawl_spark.operators.text import token_count

        return token_count(_t(spark, sf, "documents"))

    def text_quality(spark, sf):
        from librecrawl_spark.operators.text import quality_score

        return quality_score(_t(spark, sf, "documents"))

    def text_langid(spark, sf):
        from librecrawl_spark.operators.text import language_id

        return (
            language_id(_t(spark, sf, "documents"))
            .groupBy("pred_lang")
            .agg(F.count("*").alias("n"))
        )

    def events_tumbling_window(spark, sf):
        e = _t(spark, sf, "events")
        return (
            e.groupBy(
                F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
                "event_type",
            )
            .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        )

    def events_sessionize(spark, sf):
        e = _t(spark, sf, "events")
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        # Fractional-second gap via timestampdiff(MICROSECOND, ...): exact and
        # timezone-free for TIMESTAMP_NTZ. unix_timestamp() truncates to whole
        # seconds and splits sessions differently when a gap's fractional part
        # straddles the 1800s threshold (matches DuckDB's epoch() semantics).
        e2 = e.withColumn("prev_ts", F.lag("ts").over(w))
        gap = F.expr("timestampdiff(MICROSECOND, prev_ts, ts) / 1000000.0")
        newsess = F.when(F.col("prev_ts").isNull() | (gap > 1800), 1).otherwise(0)
        sess = F.sum(newsess).over(
            Window.partitionBy("user_id").orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        return (
            e2.withColumn("sess", sess)
            .groupBy("user_id")
            .agg(F.max("sess").alias("n_sessions"), F.count("*").alias("n_events"))
        )

    def text_winnow(spark, sf):
        # winnowing (MOSS) fingerprints — operators/text.py
        from librecrawl_spark.operators.text import winnow_fingerprints

        return winnow_fingerprints(_t(spark, sf, "documents"))

    def events_session_window(spark, sf):
        # Spark's native gap-based session_window (streaming/windows.py);
        # merge rule: new session iff gap >= 30min (window end exclusive)
        from librecrawl_spark.streaming.windows import user_session_counts

        return user_session_counts(_t(spark, sf, "events"))

    def sim_neardup_exact(spark, sf):
        # exact O(n^2) near-dup baseline (operators/similarity.py) —
        # recall-1 reference for the LSH-blocked variant
        from librecrawl_spark.operators.similarity import exact_near_dups

        # synthetic embeddings top out at cos ~0.51 — 0.4 yields a
        # non-trivial pair set at both sf0.001 and sf0.01
        return exact_near_dups(_t(spark, sf, "embeddings"), threshold=0.4)

    def sim_ivf_topk(spark, sf):
        # IVF-Flat ANN: deterministic coarse quantizer (16 lowest-id
        # vectors), argmax-cosine assignment, 4-probe exact re-rank
        from librecrawl_spark.operators.similarity import ivf_topk

        e = _t(spark, sf, "embeddings")
        q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
        return ivf_topk(e, q, k=10, n_centroids=16, n_probe=4)

    def q3_shipping_priority(spark, sf):
        c = _t(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
        o = _t(spark, sf, "orders")
        li = _t(spark, sf, "lineitem")
        return (
            c.join(o, c["c_custkey"] == o["o_custkey"])
            .join(li, o["o_orderkey"] == li["l_orderkey"])
            .groupBy("o_orderkey", "o_orderpriority")
            .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
            .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
            .limit(10)
        )

    def q5_nation_revenue(spark, sf):
        n = _t(spark, sf, "nation")
        r = _t(spark, sf, "region")
        c = _t(spark, sf, "customer")
        o = _t(spark, sf, "orders")
        li = _t(spark, sf, "lineitem")
        return (
            r.join(n, r["r_regionkey"] == n["n_regionkey"])
            .join(c, n["n_nationkey"] == c["c_nationkey"])
            .join(o, c["c_custkey"] == o["o_custkey"])
            .join(li, o["o_orderkey"] == li["l_orderkey"])
            .groupBy("r_name", "n_name")
            .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
                 F.count("*").alias("n_lines"))
        )

    def u3_set_ops(spark, sf):
        d = _t(spark, sf, "documents")
        en = d.filter("lang = 'en'").select("source").distinct()
        de = d.filter("lang = 'de'").select("source").distinct()
        gap = de.exceptAll(en).distinct().withColumn("op", F.lit("gap"))
        shared = de.intersect(en).withColumn("op", F.lit("shared"))
        return gap.unionByName(shared).groupBy("op").agg(
            F.count("*").alias("n"),
            F.concat_ws(",", F.sort_array(F.collect_list("source"))).alias("members"),
        )

    def a12_rollup(spark, sf):
        """Grouping sets via ROLLUP(status, priority): subtotal rows per
        status and a grand total, exactly Spark's rollup() and ANSI
        ROLLUP. Money summed as exact integer cents (the subtotal rows
        re-sum the same doubles in different orders — integer sums make
        every grouping level engine-exact). grouping_id disambiguates
        NULL-as-subtotal from a genuinely NULL key."""
        o = _t(spark, sf, "orders")
        cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
        return (o.rollup("o_orderstatus", "o_orderpriority")
                .agg(F.count("*").alias("n_orders"),
                     F.sum(cents).alias("revenue_cents"),
                     F.grouping_id().alias("gid")))

    def a13_pivot(spark, sf):
        """Pivot: per-user event counts, one column per event type.
        Spark's groupBy().pivot(values=...) with explicit pivot values
        (never let the engine scan for distinct values at 100 TB — that
        is an extra job over the full table); DuckDB replays it as
        conditional aggregation, which is also exactly the physical
        plan Spark lowers pivot to (a single hash agg, no shuffle
        beyond the groupBy)."""
        kinds = ["click", "view", "purchase", "signup", "error"]
        e = _t(spark, sf, "events")
        return (e.groupBy("user_id")
                .pivot("event_type", kinds)
                .count()
                .na.fill(0, kinds))

    def w8_ntile(spark, sf):
        """ntile + percent_rank + cume_dist per event-type partition.
        The ORDER BY key includes event_id so ties on value get a
        deterministic total order — ntile bucket boundaries among tied
        values would otherwise be engine-dependent. Rounded to 6 for
        the hash gate."""
        e = _t(spark, sf, "events")
        w = Window.partitionBy("event_type").orderBy("value", "event_id")
        return e.select(
            "event_id", "event_type",
            F.ntile(4).over(w).alias("quartile"),
            F.round(F.percent_rank().over(w), 6).alias("pr"),
            F.round(F.cume_dist().over(w), 6).alias("cd"),
        )

    def w9_range_frame(spark, sf):
        """RANGE-frame window: per-user trailing 1-hour event count and
        value sum (event-time sliding aggregate without a self-join).
        The frame bound is exact integer microseconds over epoch_us, so
        frame membership is engine-exact; only the float sum needs the
        round-6. This is the frame type a rate-limiter audit query uses
        ('requests in the last hour per host')."""
        e = _t(spark, sf, "events")
        us = F.unix_micros(F.col("ts").cast("timestamp"))
        w = (Window.partitionBy("user_id").orderBy(us.alias("_us"))
             .rangeBetween(-3_600_000_000, 0))
        return e.select(
            "event_id", "user_id",
            F.count("*").over(w).alias("n_1h"),
            F.round(F.sum("value").over(w), 6).alias("sum_1h"),
        )

    def a15_moments(spark, sf):
        """Second-moment aggregates per group: sample stddev/variance
        and covariance of value with event time. Both engines use
        numerically-stable one-pass updates whose results agree to well
        beyond the round-6 gate at these magnitudes (time is centered
        to seconds-since-min to keep covar within double precision)."""
        e = _t(spark, sf, "events")
        sec = (F.unix_micros(F.col("ts").cast("timestamp")) / 1e6)
        return (e.select("event_type", "value", sec.alias("t"))
                .groupBy("event_type")
                .agg(F.round(F.stddev_samp("value"), 6).alias("sd"),
                     F.round(F.var_samp("value"), 6).alias("var"),
                     F.round(F.covar_samp("value", F.col("t") - 1.7e9), 4)
                     .alias("cov_t"),
                     F.count("*").alias("n")))

    def w1_lag_delta(spark, sf):
        e = _t(spark, sf, "events")
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        return (
            e.withColumn("prev_value", F.lag("value").over(w))
            .filter(F.col("prev_value").isNotNull() & (F.col("user_id") <= 50))
            .select("user_id", "event_id",
                    F.round(F.col("value") - F.col("prev_value"), 6).alias("delta"))
        )

    def c5_json_extract(spark, sf):
        e = _t(spark, sf, "events")
        return (
            e.select("event_type", F.get_json_object("props", "$.k").cast("long").alias("k"))
            .groupBy("event_type")
            .agg(F.sum("k").alias("sum_k"), F.count("*").alias("n"))
        )

    def j4_links_to_redirects(spark, sf):
        from librecrawl_spark.operators.issues import links_to_redirects

        li = _t(spark, sf, "lineitem")
        suffix = (
            F.when(F.col("l_linenumber") % 3 == 1, F.lit("/"))
            .when(F.col("l_linenumber") % 3 == 2, F.lit("#f"))
            .otherwise(F.lit(""))
        )
        links = li.select(
            F.concat(F.lit("https://g.example/o"), F.col("l_orderkey").cast("string")).alias("source_url"),
            F.concat(F.lit("https://g.example/p"), F.col("l_partkey").cast("string"), suffix).alias("target_url"),
            F.lit(True).alias("is_internal"),
        )
        part = _t(spark, sf, "part")
        pages = part.select(
            F.concat(F.lit("https://g.example/p"), F.col("p_partkey").cast("string")).alias("url"),
            F.when(F.col("p_partkey") % 10 == 3, F.lit(301))
            .when(F.col("p_partkey") % 10 == 7, F.lit(308))
            .otherwise(F.lit(200)).alias("status_code"),
        )
        out = links_to_redirects(pages, links)
        return out.select(
            "url", "type", "category", "issue", "details", "n_links_to_redirects",
            F.concat_ws(",", "redirect_targets").alias("redirect_targets"),
        )

    def j6_hreflang_reciprocity(spark, sf):
        from librecrawl_spark.operators.issues import hreflang_reciprocity

        d = _t(spark, sf, "documents").select("doc_id")
        i = F.col("doc_id")
        mk = lambda e: F.concat(F.lit("https://h.example/"), e.cast("string"))
        url = mk(i)
        tgt1 = mk(F.when(i % 2 == 0, i + 1).otherwise(i - 1))
        tgt2 = mk(i + 3)
        en = F.struct(F.lit("en").alias("lang"), tgt1.alias("url"))
        de = F.struct(F.lit("de").alias("lang"), tgt2.alias("url"))
        pages = d.select(
            url.alias("url"),
            F.when(i % 5 == 0, F.array(en, de)).otherwise(F.array(en)).alias("hreflang"),
        )
        return hreflang_reciprocity(pages).select(
            "url", "type", "category", "issue", "details", "hreflang_target", "lang"
        )

    def j7_dup_candidates(spark, sf):
        from librecrawl_spark.operators.issues import dup_candidate_pairs

        d = _t(spark, sf, "documents").filter(F.col("doc_id") % 97 == 0)
        i = F.col("doc_id")
        pages = d.select(
            F.concat(F.lit("https://c.example/"), i.cast("string")).alias("url"),
            F.expr("concat('Title ', substr(text, 1, 10 + cast(doc_id % 40 AS int)))").alias("title"),
            F.expr("concat('Desc ', substr(text, 20, 30))").alias("meta_description"),
            F.expr("substr(text, 5, 12)").alias("h1"),
            F.pmod(F.col("n_chars"), F.lit(500)).cast("int").alias("word_count"),
        )
        return dup_candidate_pairs(pages, threshold=0.85).select("url_a", "url_b")

    def i_issue_predicates(spark, sf):
        from librecrawl_spark.operators.issues import per_page_issues

        return per_page_issues(_issue_pages(spark, sf))

    def c15_requeue_math(spark, sf):
        """S1 requeue mode (operators/extract.py split_retries): per-row
        disposition of a deterministic fetch wave — recorded rows carry
        the closed-form backoff_total, requeued 429s carry retry_count+1
        and ready_wave = wave + ceil(backoff/wave_seconds)."""
        from librecrawl_spark.operators import extract as X

        ev = _t(spark, sf, "events").select("event_id")
        i = F.col("event_id")
        fetched = ev.select(
            F.concat(F.lit("https://r.example/p"), i.cast("string")).alias("url"),
            F.lit(1).alias("depth"),
            i.cast("long").alias("seq"),
            F.lit(5).alias("wave"),
            F.pmod(i, F.lit(3)).cast("int").alias("retry_count"),
            F.when(i % 4 == 0, F.lit(429)).otherwise(F.lit(200))
            .cast("int").alias("status_code"),
            F.lit(None).cast("string").alias("error"),
            F.when(i % 8 == 0, F.lit("7")).otherwise(F.lit("")).alias("retry_after"),
            F.when(i % 12 == 4, F.lit(2)).otherwise(F.lit(0))
            .cast("int").alias("recover_after"),
            F.lit(200).cast("int").alias("recover_status"),
        )
        rec, rq = X.split_retries(fetched, retries=3, base_delay=2.0,
                                  wave=5, wave_seconds=60.0)
        return (
            rec.select(
                "url", "seq", F.lit("record").alias("path"),
                F.col("status_code").cast("int").alias("status"),
                F.round("backoff_total", 2).alias("backoff"),
                F.lit(None).cast("int").alias("ready_wave"),
                F.col("retry_count").cast("int").alias("retry_count"),
            ).unionByName(rq.select(
                "url", "seq", F.lit("requeue").alias("path"),
                F.lit(None).cast("int").alias("status"),
                F.lit(None).cast("double").alias("backoff"),
                F.col("ready_wave").cast("int").alias("ready_wave"),
                F.col("retry_count").cast("int").alias("retry_count"),
            ))
        )

    def p1_politeness_quota(spark, sf):
        """Per-host politeness quota (operators/frontier.py
        apply_politeness): host h gets floor(wave_seconds/crawl_delay)
        slots (>=1, unlimited when delay<=0); FIFO by seq within host.
        Returns per-host selected/deferred counts + the max selected seq
        (order-sensitive: proves FIFO-within-host)."""
        from librecrawl_spark.operators import frontier as FR

        ev = _t(spark, sf, "events").select("event_id")
        i = F.col("event_id")
        frontier = ev.select(
            F.concat(F.lit("https://h"), F.pmod(i, F.lit(7)).cast("string"),
                     F.lit(".example/p"), i.cast("string")).alias("url"),
            F.lit(1).alias("depth"),
            i.cast("long").alias("seq"),
            F.lit(0).alias("wave"),
        )
        hosts = spark.range(7).select(
            F.concat(F.lit("h"), F.col("id").cast("string"), F.lit(".example")).alias("host"),
            F.lit("").alias("robots_txt"),
            F.pmod("id", F.lit(4)).cast("double").alias("crawl_delay"),
            F.lit("").alias("sitemap_xml"),
        )
        sel, def_ = FR.apply_politeness(frontier, hosts, wave_seconds=10.0)
        host = F.regexp_extract("url", r"^https://([^/]*)", 1)
        a = sel.groupBy(host.alias("host")).agg(
            F.count("*").alias("n_selected"), F.max("seq").alias("max_sel_seq"))
        b = def_.groupBy(host.alias("host")).agg(
            F.count("*").alias("n_deferred"), F.min("seq").alias("min_def_seq"))
        return a.join(b, "host", "full_outer").fillna(
            {"n_selected": 0, "n_deferred": 0}).orderBy("host")

    def i_sitewide_security(spark, sf):
        """Site-wide once-per-domain checks (issue_detector.py:1153-1247):
        missing CSP/HSTS/XFO + unsafe cross-origin links, attributed to
        the first crawled page per domain."""
        from librecrawl_spark.operators.issues import (
            security_header_issues, unsafe_cross_origin_issues)

        pg = _sitewide_pages(spark, sf)
        return security_header_issues(pg).unionByName(unsafe_cross_origin_issues(pg))

    def u4_links_dedup(spark, sf):
        """U4: links dedup on (source,target) keeping FIRST in document
        order — the same row_number plan plans/crawl.py:254-268 uses."""
        li = _t(spark, sf, "lineitem")
        links = li.select(
            F.concat(F.lit("s"), (F.col("l_orderkey") % 500).cast("string")).alias("source_url"),
            F.concat(F.lit("t"), (F.col("l_partkey") % 200).cast("string")).alias("target_url"),
            F.col("l_linenumber").alias("pos"),
            F.col("l_orderkey").alias("okey"),
        )
        w = Window.partitionBy("source_url", "target_url").orderBy("okey", "pos")
        return (
            links.withColumn("_rn", F.row_number().over(w))
            .filter("_rn = 1")
            .groupBy("source_url")
            .agg(F.count("*").alias("n_targets"),
                 F.sum("pos").alias("sum_keeper_pos"))
        )

    def c2_normalize_compare(spark, sf):
        """C2: normalize_for_compare equivalence classes — URL variants
        (trailing slash / fragment / case) built from orders collapse to
        one key via issues._norm_cmp."""
        from librecrawl_spark.operators.issues import _norm_cmp

        o = _t(spark, sf, "orders")
        base = F.concat(F.lit("https://N.Example/p"), (F.col("o_orderkey") % 300).cast("string"))
        suffix = (
            F.when(F.col("o_orderkey") % 4 == 1, F.lit("/"))
            .when(F.col("o_orderkey") % 4 == 2, F.lit("#frag"))
            .when(F.col("o_orderkey") % 4 == 3, F.lit("/#a"))
            .otherwise(F.lit(""))
        )
        return (
            o.select(_norm_cmp(F.concat(base, suffix)).alias("norm_url"))
            .groupBy("norm_url")
            .agg(F.count("*").alias("n_variants"))
        )

    def c12_hreflang_codes(spark, sf):
        from librecrawl_spark.operators.issues import hreflang_invalid_codes

        d = _t(spark, sf, "documents").select("doc_id")
        i = F.col("doc_id")
        code = (
            F.when(i % 8 == 0, F.lit("en"))
            .when(i % 8 == 1, F.lit("de-DE"))
            .when(i % 8 == 2, F.lit("x-default"))
            .when(i % 8 == 3, F.lit("zz"))          # pattern ok, unknown subtag
            .when(i % 8 == 4, F.lit("english"))     # pattern fail
            .when(i % 8 == 5, F.lit("EN"))
            .when(i % 8 == 6, F.lit("pt-BR"))
            .otherwise(F.lit("12"))                  # pattern fail
        )
        url = F.concat(F.lit("https://l.example/"), i.cast("string"))
        pages = d.select(
            url.alias("url"),
            F.array(F.struct(code.alias("lang"),
                             F.concat(url, F.lit("-alt")).alias("url"))).alias("hreflang"),
        )
        return hreflang_invalid_codes(pages).select(
            "url", "type", "category", "issue", "details", "lang", "target"
        )

    def i_sitemap_issues(spark, sf):
        """Per-URL Sitemap issue rows (issue_detector.py:1569-1611) over
        the same synthetic sitemap x pages construction as a7."""
        from librecrawl_spark.operators.issues import sitemap_issue_rows

        part = _t(spark, sf, "part")
        k = F.col("p_partkey")
        sm = part.filter(k % 4 == 0).select(
            F.concat(F.lit("https://s.example/p"), k.cast("string"),
                     F.when(k % 8 == 0, F.lit("/")).otherwise(F.lit(""))).alias("url")
        )
        url = F.concat(F.lit("https://s.example/p"), k.cast("string"))
        status = (
            F.when(k % 7 == 1, F.lit(404))
            .when(k % 7 == 2, F.lit(301))
            .when(k % 7 == 4, F.lit(0))
            .otherwise(F.lit(200))
        )
        pages = part.filter(k % 3 == 0).select(
            url.alias("url"),
            status.alias("status_code"),
            F.when(k % 11 == 3, F.lit("noindex")).otherwise(F.lit("")).alias("robots"),
            F.when(k % 13 == 2, F.lit("https://s.example/"))
            .otherwise(F.lit("")).alias("canonical_url"),
        )
        return sitemap_issue_rows(sm, pages)

    def s2_size_gate(spark, sf):
        """S2 HEAD max_file_size gate (operators/extract.py
        apply_size_gate; crawler.py:916-931): oversized fetches become
        status-0 'File too large' rows, everything else passes through."""
        from librecrawl_spark.operators import extract as X

        ev = _t(spark, sf, "events").select("event_id")
        i = F.col("event_id")
        fetched = ev.select(
            F.concat(F.lit("https://z.example/p"), i.cast("string")).alias("url"),
            i.cast("long").alias("seq"),
            F.when(i % 9 == 5, F.lit("dns failure")).otherwise(
                F.lit(None).cast("string")).alias("error"),
            F.when(i % 9 == 5, F.lit(0)).otherwise(F.lit(200))
            .cast("int").alias("status_code"),
            (F.lit(1000) + (i % 7) * 300_000).cast("long").alias("size"),
            F.lit("text/html").alias("content_type"),
        )
        out = X.apply_size_gate(fetched, max_file_size=1_000_000)
        return out.select("url", "seq", "status_code", "size", "error")

    def f9_budget_cut(spark, sf):
        """F9 max_urls budget cut (plans/crawl.py:332-340;
        crawler.py:778-780): the wave fetches the N lowest-seq eligible
        rows — cut_seq = max(seq) of the seq-ordered LIMIT, then a
        filter, exactly the plan the crawl loop runs."""
        ev = _t(spark, sf, "events").select("event_id")
        i = F.col("event_id")
        eligible = ev.select(
            F.concat(F.lit("https://b.example/p"), i.cast("string")).alias("url"),
            i.cast("long").alias("seq"),
        ).filter(i % 3 != 1)
        remaining = 500
        cut_seq = (
            eligible.orderBy("seq").limit(remaining)
            .agg(F.max("seq")).collect()[0][0]
        )
        return eligible.filter(F.col("seq") <= cut_seq)

    def a7_sitemap_health(spark, sf):
        from librecrawl_spark.operators.issues import sitemap_health

        part = _t(spark, sf, "part")
        k = F.col("p_partkey")
        sm = part.filter(k % 4 == 0).select(
            F.concat(F.lit("https://s.example/p"), k.cast("string"),
                     F.when(k % 8 == 0, F.lit("/")).otherwise(F.lit(""))).alias("url")
        )
        url = F.concat(F.lit("https://s.example/p"), k.cast("string"))
        status = (
            F.when(k % 7 == 1, F.lit(404))
            .when(k % 7 == 2, F.lit(301))
            .otherwise(F.lit(200))
        )
        pages = part.filter(k % 3 == 0).select(
            url.alias("url"),
            status.alias("status_code"),
            F.when(k % 11 == 3, F.lit("noindex")).otherwise(F.lit("")).alias("robots"),
            F.when(k % 13 == 2, F.lit("https://s.example/"))
            .otherwise(F.lit("")).alias("canonical_url"),
        )
        return sitemap_health(sm, pages)

    def c14_backoff_math(spark, sf):
        """C14 (crawler.py:955-966): total exponential-backoff sleep,
        min(Retry-After or base*2^attempt, 30) summed over attempts —
        the same column expression resolve_retries_inline uses, driven
        by the events table (event_id%5 as retry count, odd props.k as
        a Retry-After header)."""
        e = _t(spark, sf, "events")
        k = F.get_json_object("props", "$.k").cast("long")
        ra = F.when(k % 2 == 1, k.cast("double"))
        rc = F.pmod(F.col("event_id"), F.lit(5)).cast("int")
        per_row = F.when(rc <= 0, F.lit(0.0)).otherwise(
            F.aggregate(
                F.sequence(F.lit(0), rc - 1),
                F.lit(0.0),
                lambda acc, a: acc + F.least(
                    F.coalesce(ra, F.pow(F.lit(2.0), a.cast("double"))), F.lit(30.0)
                ),
            )
        )
        return (
            e.select("event_type", per_row.alias("bk"))
            .groupBy("event_type")
            .agg(F.round(F.sum("bk"), 4).alias("total_backoff"), F.count("*").alias("n"))
        )

    def a4_array_filter(spark, sf):
        e = _t(spark, sf, "embeddings")
        return e.select(
            "vec_id",
            F.size(F.expr("filter(embedding, v -> v < 0)")).alias("n_negative"),
            F.size("embedding").alias("dim"),
        )

    def q6_forecast_revenue(spark, sf):
        """TPC-H Q6 shape: pure filter + aggregate — the plan should be
        a single scan with every predicate pushed to the parquet reader
        (PushedFilters) and no shuffle beyond the final 1-row reduce."""
        li = _t(spark, sf, "lineitem")
        return (
            li.filter(
                (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
                & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
                & (F.col("l_discount") >= 0.05) & (F.col("l_discount") <= 0.07)
                & (F.col("l_quantity") < 24)
            )
            .agg(
                F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2)
                .alias("revenue"),
                F.count("*").alias("n_lines"),
            )
        )

    def w2_homepage(spark, sf):
        """W2 homepage selection (crawler.py:1699-1737, misc.homepage_of):
        no exact base_url match in the constructed pages, so the
        shortest-path 200 internal page wins (deterministic URL
        tie-break)."""
        from librecrawl_spark.operators.misc import homepage_of

        o = _t(spark, sf, "orders")
        k = F.col("o_orderkey")
        path = (
            F.when(k % 5 == 0, F.concat(F.lit("/c"), (k % 9).cast("string"),
                                        F.lit("/post-"), k.cast("string")))
            .when(k % 5 == 1, F.concat(F.lit("/p"), (k % 97).cast("string")))
            .otherwise(F.concat(F.lit("/deep/a/b/"), k.cast("string")))
        )
        pages = o.select(
            F.concat(F.lit("https://w.example"), path).alias("url"),
            F.when(k % 7 == 1, F.lit(404)).otherwise(F.lit(200)).alias("status_code"),
            (k % 11 != 3).alias("is_internal"),
        )
        return homepage_of(pages, "https://w.example/start").select(
            "url", "status_code")

    def dedup_clusters(spark, sf):
        """Duplicate-cluster assignment (dedup.dup_clusters): transitive
        closure over a deterministic sparse pair graph on the documents
        id space — min-label propagation + pointer jumping on the Spark
        side, a recursive CTE on the DuckDB side."""
        d = _t(spark, sf, "documents").select("doc_id")
        n = d.count()
        o = _t(spark, sf, "orders").filter(F.col("o_orderkey") % 149 == 0)
        pairs = o.select(
            (F.col("o_orderkey") % n).alias("doc_a"),
            ((F.col("o_orderkey") * 7 + 3) % n).alias("doc_b"),
        ).filter("doc_a <> doc_b")
        return D.dup_clusters(d, pairs)

    def pipe_stratified_sample(spark, sf):
        """Deterministic per-stratum rate sampling
        (pipeline.stratified_sample): keep a doc iff the first 16 bits
        of md5('strat:' || doc_id) fall under its language's rate — the
        corpus-rebalancing step, reproducible in the key across engines
        and across corpus growth. Pure filter: no shuffle, no rand()."""
        from librecrawl_spark.operators.pipeline import stratified_sample

        d = _t(spark, sf, "documents")
        rates = {"en": 0.5, "zh": 0.25, "de": 1.0, "fr": 0.1}
        return stratified_sample(d, rates, default_rate=0.05).select(
            "doc_id", "lang", "sample_key")

    def pipe_chunk_packing(spark, sf):
        """Concat-then-chunk sequence packing
        (pipeline.concat_chunk_packing): global token prefix-sum in
        doc_id order via the two-phase range-bucket plan (no
        single-partition window), cut into 512-token training chunks."""
        from librecrawl_spark.operators.pipeline import concat_chunk_packing

        d = _t(spark, sf, "documents").select(
            "doc_id",
            F.size(F.expr(r"regexp_extract_all(text, '\\w+', 0)"))
            .cast("long").alias("n_tokens"),
        )
        out, _h = concat_chunk_packing(d, "n_tokens", budget=512)
        return out.select("doc_id", "n_tokens", "start_off",
                          "chunk_first", "chunk_last", "n_chunks")

    def pipe_cluster_reps(spark, sf):
        """Duplicate-cluster representative selection
        (pipeline.cluster_representatives): over dedup_clusters' same
        deterministic pair graph, keep the longest-text member per
        cluster (ties -> min doc_id) via a map-side-combinable
        max(struct) argmax — no per-cluster ordered window."""
        from librecrawl_spark.operators.pipeline import cluster_representatives

        d = _t(spark, sf, "documents")
        n = d.count()
        o = _t(spark, sf, "orders").filter(F.col("o_orderkey") % 149 == 0)
        pairs = o.select(
            (F.col("o_orderkey") % n).alias("doc_a"),
            ((F.col("o_orderkey") * 7 + 3) % n).alias("doc_b"),
        ).filter("doc_a <> doc_b")
        cl = D.dup_clusters(d.select("doc_id"), pairs)
        docs_q = d.select("doc_id", F.length("text").cast("long").alias("q"))
        return cluster_representatives(docs_q, cl.select("doc_id", "cluster"), "q")

    def pipe_contamination(spark, sf):
        """Benchmark decontamination (pipeline.benchmark_contamination):
        corpus docs sharing 3-token shingles with a benchmark subset
        (doc_id % 83 == 0 simulates the eval set) via a broadcast
        inverted-index join — corpus never shuffles, never all-pairs."""
        from librecrawl_spark.operators.pipeline import benchmark_contamination

        d = _t(spark, sf, "documents")
        return benchmark_contamination(d, d.filter(F.col("doc_id") % 83 == 0))

    def text_repetition(spark, sf):
        """Gopher-style repetition quality gate (text.repetition_filter)
        over a deterministically line-structured view of documents
        (7-token lines), exercising the duplicate-line AND top-2-gram
        metrics on both engines."""
        from librecrawl_spark.operators.text import repetition_filter

        d = _t(spark, sf, "documents").select("doc_id", "text")
        toks = F.expr(r"regexp_extract_all(lower(text), '\\w+', 0)")
        n = F.size(toks)
        lines = F.transform(
            F.sequence(F.lit(0), F.ceil(n / F.lit(7)).cast("int") - 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i * 7 + 1, 7)),
        )
        lined = F.when(n > 0, F.concat_ws("\n", lines)).otherwise(F.lit(""))
        return repetition_filter(d.select("doc_id", lined.alias("text")))

    def dedup_chunks(spark, sf):
        """Cross-document duplicated-chunk gate (dedup.dup_chunk_filter,
        k=8): the chunk-hash approximation of exact-substring dedup.
        Every doc_id % 7 == 0 document gets an 8-token boilerplate
        PREPENDED (chunk-aligned at position 0, so the planted chunk is
        byte-identical across all planted docs) — both engines apply the
        same expression, exercising the corpus-wide hash counts, the
        within-doc double-occurrence path, and the short-doc zero-chunk
        restore."""
        from librecrawl_spark.operators.dedup import dup_chunk_filter

        d = _t(spark, sf, "documents").select("doc_id", "text")
        t = F.concat(
            F.when(F.col("doc_id") % 7 == 0,
                   F.lit(_CHUNK_BOILER + " ")).otherwise(F.lit("")),
            F.col("text"),
        )
        return dup_chunk_filter(d.select("doc_id", t.alias("text")), k=8)

    def text_pii(spark, sf):
        """PII scrubbing (text.scrub_pii) over documents with
        deterministically planted identifiers (the fixture corpus has no
        digits, so a doc_id-keyed subset gets an email / phone / IPv4
        suffix — same expression on both engines)."""
        from librecrawl_spark.operators.text import scrub_pii

        d = _t(spark, sf, "documents").select("doc_id", "text")
        did = F.col("doc_id")
        t = F.concat(
            F.col("text"),
            F.when(did % 7 == 0,
                   F.concat(F.lit(" contact user"), did.cast("string"),
                            F.lit("@example.com now"))).otherwise(F.lit("")),
            F.when(did % 11 == 0, F.lit(" call +1 555-0199")).otherwise(F.lit("")),
            F.when(did % 13 == 0,
                   F.concat(F.lit(" host 10.0."), (did % 250).cast("string"),
                            F.lit(".1"))).otherwise(F.lit("")),
        )
        return scrub_pii(d.select("doc_id", t.alias("text")))

    def events_hopping_window(spark, sf):
        """Hopping (sliding) event-time window: 600s length, 300s slide —
        every event lands in exactly two windows. Streaming twin of the
        tumbling/session rows (streaming/windows.py uses the same
        F.window operator under a watermark)."""
        e = _t(spark, sf, "events")
        return (
            e.groupBy(F.window("ts", "600 seconds", "300 seconds").alias("w"),
                      "event_type")
            .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
            .select(
                F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
                "event_type", "n", "sum_value",
            )
        )

    def w7_percentiles(spark, sf):
        """Exact per-group percentiles (linear interpolation): Spark's
        percentile aggregate and DuckDB's quantile_cont share the
        R-7 definition, bit-identical over doubles. Exact percentile is
        a sort-based agg — fine per group; at 100 TB swap in
        approx_percentile (t-digest, mergeable sketches) and loosen the
        oracle to tolerance. Rounded to 6 decimals for the hash gate."""
        e = _t(spark, sf, "events")
        p = F.percentile("value", F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)))
        return (e.groupBy("event_type")
                .agg(F.round(p[0], 6).alias("p50"),
                     F.round(p[1], 6).alias("p90"),
                     F.round(p[2], 6).alias("p99"),
                     F.count("*").alias("n")))

    def t_asof_join(spark, sf):
        """As-of join (operators/temporal.py:asof_join): each purchase
        event matched to the user's latest view at-or-before it. Spark
        has no ASOF built-in; the operator is union-tag + one key
        exchange + running last-non-null — sort-merge-join shape, O(1)
        per-key state, no per-row Python. DuckDB's native ASOF JOIN is
        the oracle. Right side pre-deduped to max event_id per
        (user, ts) so ties are deterministic in both engines; gap is an
        exact integer microsecond difference (no float hazard)."""
        from librecrawl_spark.operators.temporal import asof_join
        e = _t(spark, sf, "events")
        purchases = (e.filter(F.col("event_type") == "purchase")
                     .select(F.col("event_id").alias("purchase_id"),
                             "user_id", "ts"))
        views = (e.filter(F.col("event_type") == "view")
                 .groupBy("user_id", "ts")
                 .agg(F.max("event_id").alias("view_id")))
        out = asof_join(purchases, views, on="user_id", ts_col="ts",
                        payload_cols=["view_id"])
        return (out.filter(F.col("view_id").isNotNull())
                .select("purchase_id", "user_id", "view_id",
                        F.col("asof_gap_us").alias("gap_us")))

    def t_range_join(spark, sf):
        """Bucketed range join (operators/temporal.py:range_join_by_bucket):
        every event of the same user inside the 600s half-open window
        after each error event. Intervals explode into the <=2 time
        buckets they overlap; points live in exactly one bucket, so the
        equi-join on (user, bucket) + residual range filter yields each
        qualifying pair exactly once — no BroadcastNestedLoopJoin, no
        dedup. Oracle is the plain inequality join."""
        from librecrawl_spark.operators.temporal import range_join_by_bucket
        e = _t(spark, sf, "events")
        windows = (e.filter(F.col("event_type") == "error")
                   .select(F.col("event_id").alias("error_id"), "user_id",
                           F.col("ts").alias("start_ts"),
                           (F.col("ts") + F.expr("INTERVAL 600 SECONDS"))
                           .alias("end_ts")))
        points = e.select("event_id", "user_id", "ts", "event_type")
        out = range_join_by_bucket(points, windows, on="user_id",
                                   point_ts="ts", start_col="start_ts",
                                   end_col="end_ts", bucket_us=600_000_000)
        return (out.filter(F.col("event_id") != F.col("error_id"))
                .select("error_id", "event_id", "event_type"))

    def q4_late_orders(spark, sf):
        """TPC-H Q4 shape: EXISTS decorrelated to a LEFT SEMI join with a
        non-equi conjunct (a lineitem shipped >60 days after the order
        date). The semi-join keeps orders single-copy — no fanout from
        multi-line orders, no post-join distinct — and AQE picks
        broadcast vs shuffle from the runtime orders size."""
        o = _t(spark, sf, "orders")
        li = _t(spark, sf, "lineitem")
        late = o.join(
            li,
            (o["o_orderkey"] == li["l_orderkey"])
            & (li["l_shipdate"] > o["o_orderdate"] + F.expr("INTERVAL 60 DAYS")),
            "left_semi",
        )
        return (late.groupBy("o_orderpriority")
                .agg(F.count("*").alias("order_count")))

    def q13_custdist(spark, sf):
        """TPC-H Q13 shape: left OUTER join with a filtered right side
        (the ON-clause predicate pushed below the join), per-customer
        count, then a second aggregation over the counts — customers
        with zero matching orders must survive as c_count=0."""
        c = _t(spark, sf, "customer")
        o = _t(spark, sf, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
        per_cust = (
            c.join(o, c["c_custkey"] == o["o_custkey"], "left")
            .groupBy(c["c_custkey"])
            .agg(F.count(o["o_orderkey"]).alias("c_count"))
        )
        return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))

    def q22_idle_rich(spark, sf):
        """TPC-H Q22 shape: scalar-subquery threshold (avg positive
        balance, broadcast as a 1-row frame) + NOT EXISTS decorrelated
        to a LEFT ANTI join against urgent orders. Threshold rounded to
        2 decimals on both engines so float summation order cannot flip
        membership."""
        c = _t(spark, sf, "customer")
        urgent = (_t(spark, sf, "orders")
                  .filter(F.col("o_orderpriority") == "1-URGENT")
                  .select("o_custkey"))
        avg_bal = (c.filter(F.col("c_acctbal") > 0)
                   .agg(F.round(F.avg("c_acctbal"), 2).alias("_thr")))
        rich = (c.crossJoin(F.broadcast(avg_bal))
                .filter(F.col("c_acctbal") > F.col("_thr")))
        idle = rich.join(urgent, rich["c_custkey"] == urgent["o_custkey"],
                         "left_anti")
        return (idle.groupBy("c_mktsegment")
                .agg(F.count("*").alias("numcust"),
                     F.round(F.sum("c_acctbal"), 2).alias("totacctbal")))

    def q2_min_cost_supp(spark, sf):
        """TPC-H Q2 shape: correlated min — for each STANDARD size-5
        part, the supplier(s) whose best observed line price equals the
        part's global minimum. No partsupp table in this dataset, so
        supply cost is derived as min(l_extendedprice) per
        (part, supplier) from lineitem; the correlated subquery is
        decorrelated to a groupBy-min + equi-join-back (scale-safe: two
        hash aggs + one join, no window over the whole fact). Costs are
        rounded to 2 decimals before the equality so float min order
        cannot flip membership. Top-100 by acctbal with full-key
        tiebreak for a deterministic limit."""
        p = (_t(spark, sf, "part")
             .filter((F.col("p_type") == "STANDARD") & (F.col("p_size") == 5))
             .select("p_partkey"))
        li = _t(spark, sf, "lineitem").select("l_partkey", "l_suppkey",
                                              "l_extendedprice")
        cost = (li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
                .groupBy("p_partkey", "l_suppkey")
                .agg(F.round(F.min("l_extendedprice"), 2).alias("cost")))
        best = (cost.groupBy(F.col("p_partkey").alias("bp"))
                .agg(F.min("cost").alias("best_cost")))
        s = _t(spark, sf, "supplier")
        n = _t(spark, sf, "nation").select("n_nationkey", "n_name")
        return (cost.join(F.broadcast(best),
                          (cost["p_partkey"] == best["bp"])
                          & (cost["cost"] == best["best_cost"]))
                .join(F.broadcast(s), cost["l_suppkey"] == s["s_suppkey"])
                .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
                .select("s_acctbal", "s_name", "n_name", "p_partkey", "cost")
                .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
                .limit(100))

    def q9_product_profit(spark, sf):
        """TPC-H Q9 shape: product-type profit by (supplier nation,
        year). No ps_supplycost here, so profit is the discounted
        revenue over parts whose name contains 'gear'. Exercises the
        fact→dim star join with two broadcast dims and a two-key
        grouping; per-line amounts rounded to 2 before the sum so the
        cross-engine totals match bit-for-bit."""
        li = _t(spark, sf, "lineitem")
        p = (_t(spark, sf, "part").filter(F.col("p_name").contains("gear"))
             .select("p_partkey"))
        s = _t(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
        n = _t(spark, sf, "nation").select("n_nationkey", "n_name")
        # exact integer arithmetic: price cents x (100 - discount
        # percent-points) — per-line double rounding lands on half-cent
        # boundaries where Spark (BigDecimal half-up) and DuckDB (libm)
        # disagree; integers never do. Final value has <=4 decimals so
        # round(x, 4) of the shared double is unambiguous.
        amt = (F.round(F.col("l_extendedprice") * 100, 0).cast("long")
               * (100 - F.round(F.col("l_discount") * 100, 0).cast("long")))
        return (li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
                .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
                .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
                .groupBy(F.col("n_name").alias("supp_nation"),
                         F.year("l_shipdate").alias("o_year"))
                .agg(F.round(F.sum(amt) / 10000.0, 4).alias("sum_profit"),
                     F.count("*").alias("n_lines")))

    def q11_important_stock(spark, sf):
        """TPC-H Q11 shape: groups above a global-fraction threshold —
        per-part value of lineitem shipped by NATION_3 suppliers, HAVING
        value > 0.001 * the total over the same filtered set. The scalar
        total is a 1-row agg broadcast via crossJoin (decorrelated
        scalar subquery); both sides rounded to 2 decimals so summation
        order cannot flip membership at the threshold."""
        li = _t(spark, sf, "lineitem").select("l_partkey", "l_suppkey",
                                              "l_extendedprice")
        s = _t(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
        n = (_t(spark, sf, "nation").filter(F.col("n_name") == "NATION_3")
             .select("n_nationkey"))
        filt = (li.join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
                .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
                .select("l_partkey",
                        F.round(F.col("l_extendedprice"), 2).alias("_v")))
        per_part = (filt.groupBy("l_partkey")
                    .agg(F.round(F.sum("_v"), 2).alias("part_value")))
        total = filt.agg(F.round(F.sum("_v") * 0.001, 2).alias("_thr"))
        return (per_part.crossJoin(F.broadcast(total))
                .filter(F.col("part_value") > F.col("_thr"))
                .select("l_partkey", "part_value"))

    def q12_priority_shipping(spark, sf):
        """TPC-H Q12 shape: conditional counts per category — high-
        priority (1-URGENT / 2-HIGH) vs low-priority line counts per
        l_returnflag for 1997 shipments (no l_shipmode column in this
        dataset; returnflag is the categorical stand-in). One join, one
        hash agg with two conditional sums — map-side combinable."""
        li = (_t(spark, sf, "lineitem")
              .filter(F.year("l_shipdate") == 1997)
              .select("l_orderkey", "l_returnflag"))
        o = _t(spark, sf, "orders").select("o_orderkey", "o_orderpriority")
        hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        return (li.join(o, li["l_orderkey"] == o["o_orderkey"])
                .groupBy("l_returnflag")
                .agg(F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
                     F.sum(F.when(hi, 0).otherwise(1)).alias("low_line_count")))

    def q20_excess_suppliers(spark, sf):
        """TPC-H Q20 shape: nested agg subquery feeding a semi-join —
        suppliers in NATION_7 who shipped more than 100 total units of
        'small *' parts during 1997. The inner agg (qty per supplier
        over the part semi-join) decorrelates to groupBy + filter; the
        outer EXISTS becomes a LEFT SEMI join. Quantity sums are exact
        integers-in-doubles, no rounding hazard."""
        p = (_t(spark, sf, "part")
             .filter(F.col("p_name").startswith("small"))
             .select("p_partkey"))
        li = (_t(spark, sf, "lineitem")
              .filter(F.year("l_shipdate") == 1997)
              .select("l_partkey", "l_suppkey", "l_quantity"))
        heavy = (li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
                 .groupBy("l_suppkey")
                 .agg(F.sum("l_quantity").alias("_qty"))
                 .filter(F.col("_qty") > 100)
                 .select("l_suppkey"))
        s = _t(spark, sf, "supplier")
        n = (_t(spark, sf, "nation").filter(F.col("n_name") == "NATION_7")
             .select("n_nationkey"))
        return (s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
                .join(heavy, s["s_suppkey"] == heavy["l_suppkey"], "left_semi")
                .select("s_name", F.round("s_acctbal", 2).alias("s_acctbal")))

    def q14_promo_share(spark, sf):
        """TPC-H Q14 shape: conditional aggregation (sum of CASE) over a
        fact-dim join, emitting a ratio. Numerator and denominator are
        rounded to 2 decimals BEFORE the division on both engines so the
        ratio is bit-identical regardless of summation order."""
        li = _t(spark, sf, "lineitem").filter(
            (F.col("l_shipdate") >= F.lit("1996-09-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1996-12-01").cast("timestamp_ntz")))
        p = _t(spark, sf, "part").select("p_partkey", "p_type")
        rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
        j = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        return j.agg(
            F.round(
                100.0
                * F.round(F.sum(F.when(F.col("p_type") == "PROMO", rev)
                                .otherwise(F.lit(0.0))), 2)
                / F.round(F.sum(rev), 2),
                4,
            ).alias("promo_revenue_pct"),
            F.count("*").alias("n_lines"),
        )

    def q7_volume_shipping(spark, sf):
        """TPC-H Q7 shape: fact table joined through BOTH dimension
        paths (supplier→nation and orders→customer→nation), a symmetric
        two-nation disjunction, yearly rollup. All four dims broadcast;
        the only shuffles are lineitem⋈orders (AQE-planned) and the
        final small groupBy."""
        li = _t(spark, sf, "lineitem").filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz")))
        o = _t(spark, sf, "orders").select("o_orderkey", "o_custkey")
        s = _t(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
        c = _t(spark, sf, "customer").select("c_custkey", "c_nationkey")
        n1 = _t(spark, sf, "nation").select(
            F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
        n2 = _t(spark, sf, "nation").select(
            F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation"))
        j = (li.join(o, li["l_orderkey"] == o["o_orderkey"])
             .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
             .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
             .join(F.broadcast(n1), s["s_nationkey"] == n1["sn_key"])
             .join(F.broadcast(n2), c["c_nationkey"] == n2["cn_key"])
             .filter(
                 ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
                 | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))))
        rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
        return (j.groupBy("supp_nation", "cust_nation",
                          F.year("l_shipdate").alias("l_year"))
                .agg(F.round(F.sum(rev), 2).alias("revenue"),
                     F.count("*").alias("n_lines")))

    def q8_market_share(spark, sf):
        """TPC-H Q8 shape: market share — conditional-sum ratio of one
        supplier nation inside a region's customer revenue for one part
        type, by year. Exercises a 6-table join with region pruning on
        the customer path and a numerator/denominator conditional agg
        (both rounded before the division, like q14)."""
        li = _t(spark, sf, "lineitem")
        o = _t(spark, sf, "orders").select("o_orderkey", "o_custkey")
        p = (_t(spark, sf, "part").filter(F.col("p_type") == "PROMO")
             .select("p_partkey"))
        s = _t(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
        c = _t(spark, sf, "customer").select("c_custkey", "c_nationkey")
        n1 = _t(spark, sf, "nation").select(
            F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
        n2 = _t(spark, sf, "nation").select(
            F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cr_key"))
        r = (_t(spark, sf, "region").filter(F.col("r_name") == "EUROPE")
             .select("r_regionkey"))
        j = (li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
             .join(o, li["l_orderkey"] == o["o_orderkey"])
             .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
             .join(F.broadcast(n2), c["c_nationkey"] == n2["cn_key"])
             .join(F.broadcast(r), n2["cr_key"] == r["r_regionkey"])
             .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
             .join(F.broadcast(n1), s["s_nationkey"] == n1["sn_key"]))
        rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
        return (j.groupBy(F.year("l_shipdate").alias("o_year"))
                .agg(F.round(
                    F.round(F.sum(F.when(F.col("supp_nation") == "NATION_5", rev)
                                  .otherwise(F.lit(0.0))), 2)
                    / F.round(F.sum(rev), 2), 6).alias("mkt_share"),
                     F.count("*").alias("n_lines")))

    def q10_returned_items(spark, sf):
        """TPC-H Q10 shape: top-20 customers by revenue lost to returns
        in one quarter — fact filter, two joins, per-customer rollup,
        bounded TakeOrdered (no global sort materialization)."""
        li = (_t(spark, sf, "lineitem")
              .filter(F.col("l_returnflag") == "R")
              .select("l_orderkey", "l_extendedprice", "l_discount"))
        o = _t(spark, sf, "orders").filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp_ntz")))
        c = _t(spark, sf, "customer")
        n = _t(spark, sf, "nation")
        # price has 2 decimals, discount 2 -> rev has <=4: scale to an
        # exact integer per line so the sum is order-independent (summing
        # raw doubles landed one customer on a .xx5 half-cent boundary,
        # where engine summation order flipped the rounded cent)
        rev_i = F.round(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000)
        j = (li.join(o, li["l_orderkey"] == o["o_orderkey"])
             .join(c, o["o_custkey"] == c["c_custkey"])
             .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"]))
        return (j.groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
                .agg(F.round(F.sum(rev_i) / 10000.0, 4).alias("revenue"))
                .orderBy(F.desc("revenue"), F.asc("c_custkey"))
                .limit(20))

    def q15_top_supplier(spark, sf):
        """TPC-H Q15 shape: revenue view + scalar-subquery max — the
        per-supplier quarterly revenue aggregates once, then joins the
        broadcast 1-row max to keep the argmax suppliers (ties all
        survive, like the reference view formulation)."""
        li = _t(spark, sf, "lineitem").filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp_ntz")))
        rev = (li.groupBy("l_suppkey")
               .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
                    .alias("total_revenue")))
        mx = rev.agg(F.max("total_revenue").alias("_mx"))
        s = _t(spark, sf, "supplier").select("s_suppkey", "s_name")
        return (rev.join(F.broadcast(mx), rev["total_revenue"] == mx["_mx"])
                .join(F.broadcast(s), rev["l_suppkey"] == s["s_suppkey"])
                .select("s_suppkey", "s_name", "total_revenue"))

    def q16_supplier_cnt(spark, sf):
        """TPC-H Q16 shape (partsupp derived from lineitem's distinct
        (part, supplier) pairs): count distinct suppliers per part
        attribute group, excluding one brand and the negative-balance
        suppliers (the 'complaints' anti-join analog)."""
        ps = (_t(spark, sf, "lineitem")
              .select("l_partkey", "l_suppkey").distinct())
        p = _t(spark, sf, "part").filter(
            (F.col("p_brand") != "Brand#1")
            & F.col("p_size").isin(1, 5, 9, 13, 17, 21, 25))
        bad = (_t(spark, sf, "supplier")
               .filter(F.col("s_acctbal") < 0).select("s_suppkey"))
        j = (ps.join(F.broadcast(p), ps["l_partkey"] == p["p_partkey"])
             .join(F.broadcast(bad), ps["l_suppkey"] == bad["s_suppkey"],
                   "left_anti"))
        return (j.groupBy("p_brand", "p_type", "p_size")
                .agg(F.countDistinct("l_suppkey").alias("supplier_cnt")))

    def q17_small_qty(spark, sf):
        """TPC-H Q17 shape: correlated avg subquery decorrelated to an
        aggregate-then-broadcast-join — per-part avg quantity computed
        once, joined back, lines below 20% of their part's avg kept.
        Threshold rounded to 6 decimals on both engines (quantities are
        integral, so sums/averages are exact in double; the rounding
        guards the 0.2 multiple)."""
        li = _t(spark, sf, "lineitem")
        p = (_t(spark, sf, "part").filter(F.col("p_brand") == "Brand#2")
             .select("p_partkey"))
        lp = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        avg_q = (lp.groupBy("l_partkey")
                 .agg(F.round(F.lit(0.2) * F.avg("l_quantity"), 6).alias("_thr"))
                 .select(F.col("l_partkey").alias("_pk"), "_thr"))
        small = lp.join(F.broadcast(avg_q), lp["l_partkey"] == F.col("_pk")).filter(
            F.col("l_quantity") < F.col("_thr"))
        return small.agg(
            F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"),
            F.count("*").alias("n_lines"))

    def q18_large_orders(spark, sf):
        """TPC-H Q18 shape: group-by-HAVING membership (orders whose
        line quantities sum past 300) as a broadcast semi-join of the
        qualifying keys, then the customer join and bounded top-100."""
        li = _t(spark, sf, "lineitem")
        big = (li.groupBy("l_orderkey")
               .agg(F.sum("l_quantity").alias("sum_qty"))
               .filter(F.col("sum_qty") > 300))
        o = _t(spark, sf, "orders")
        c = _t(spark, sf, "customer").select("c_custkey", "c_name")
        j = (o.join(F.broadcast(big), o["o_orderkey"] == big["l_orderkey"])
             .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"]))
        return (j.select(
                    "c_name", "c_custkey", "o_orderkey",
                    F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_date"),
                    F.round("o_totalprice", 2).alias("o_totalprice"),
                    F.round("sum_qty", 2).alias("sum_qty"))
                .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
                .limit(100))

    def q19_disjunctive(spark, sf):
        """TPC-H Q19 shape: OR-of-ANDs over a fact-dim join. The shared
        `l_partkey = p_partkey` conjunct stays a single equi-join with
        the three-branch disjunction as a residual filter — Catalyst
        extracts the common join key instead of falling back to a
        nested-loop, and pushes the brand/size IN-bounds to the part
        scan."""
        li = _t(spark, sf, "lineitem")
        p = _t(spark, sf, "part").select("p_partkey", "p_brand", "p_size")
        j = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        q = F.col("l_quantity")
        branch = (
            ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(1, 5)
             & q.between(1, 11))
            | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 10)
               & q.between(10, 20))
            | ((F.col("p_brand") == "Brand#4") & F.col("p_size").between(1, 15)
               & q.between(20, 30)))
        rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
        return j.filter(branch).agg(
            F.round(F.sum(rev), 2).alias("revenue"),
            F.count("*").alias("n_lines"))

    def q21_waiting_supplier(spark, sf):
        """TPC-H Q21 shape: suppliers who were the ONLY late shipper on
        a finalized multi-supplier order — EXISTS(other supplier on the
        order) as a left-semi self-join and NOT EXISTS(other LATE
        supplier) as a left-anti self-join, both with a non-equi
        supplier-inequality conjunct. 'Late' adapts the reference's
        receipt-vs-commit lag to ship > order date + 60 days (this
        corpus has no receipt/commit columns)."""
        o = (_t(spark, sf, "orders")
             .filter(F.col("o_orderstatus") == "F")
             .select("o_orderkey", "o_orderdate"))
        li = _t(spark, sf, "lineitem").select(
            "l_orderkey", "l_suppkey", "l_shipdate")
        late = (li.join(o, li["l_orderkey"] == o["o_orderkey"])
                .filter(F.col("l_shipdate")
                        > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
                .select("l_orderkey", "l_suppkey").distinct())
        others = li.select(F.col("l_orderkey").alias("a_ok"),
                           F.col("l_suppkey").alias("a_sk")).distinct()
        l1 = late.join(
            others,
            (late["l_orderkey"] == F.col("a_ok"))
            & (late["l_suppkey"] != F.col("a_sk")), "left_semi")
        late2 = late.select(F.col("l_orderkey").alias("b_ok"),
                            F.col("l_suppkey").alias("b_sk"))
        l1 = l1.join(
            late2,
            (l1["l_orderkey"] == F.col("b_ok"))
            & (l1["l_suppkey"] != F.col("b_sk")), "left_anti")
        s = _t(spark, sf, "supplier").select("s_suppkey", "s_name")
        return (l1.join(F.broadcast(s), l1["l_suppkey"] == s["s_suppkey"])
                .groupBy("s_name")
                .agg(F.count("*").alias("numwait"))
                .orderBy(F.desc("numwait"), F.asc("s_name"))
                .limit(100))

    def inc_snapshot_diff(spark, sf):
        """Recrawl delta classification (streaming/incremental.py:
        snapshot_diff): two crawl snapshots synthesized from documents
        (old = doc_id % 10 != 0, new = doc_id % 7 != 0, content hash
        perturbed for doc_id % 5 == 0) -> added/removed/changed/
        unchanged per URL via a single full-outer key join."""
        from librecrawl_spark.streaming.incremental import snapshot_diff

        d = _t(spark, sf, "documents").select("doc_id", "text")
        url = F.concat(F.lit("https://inc.example/doc/"),
                       F.col("doc_id").cast("string"))
        old = (d.filter(F.col("doc_id") % 10 != 0)
               .select(url.alias("url"), F.md5("text").alias("content_hash")))
        new = (d.filter(F.col("doc_id") % 7 != 0)
               .select(url.alias("url"),
                       F.when(F.col("doc_id") % 5 == 0,
                              F.md5(F.concat(F.col("text"), F.lit("v2"))))
                       .otherwise(F.md5("text")).alias("content_hash")))
        return snapshot_diff(old, new)

    def pipe_domain_mix(spark, sf):
        """Corpus mix planning (pipeline.domain_mix_rates): per-language
        token totals, shares, and the keep-rate that downsampling needs
        to hit a target mix — the step that produces
        stratified_sample's rates."""
        from librecrawl_spark.operators.pipeline import domain_mix_rates

        d = _t(spark, sf, "documents").select("doc_id", "lang", "n_chars")
        toks = F.floor(F.col("n_chars") / 5).cast("long")
        return domain_mix_rates(
            d.select("lang", toks.alias("n_tokens")),
            targets={"en": 0.4, "de": 0.2, "fr": 0.2, "es": 0.2},
        )

    def graph_pagerank(spark, sf):
        """PageRank (operators/graph.py) over a deterministic synthetic
        link graph derived from doc_ids (2-3 out-links per doc via
        affine maps mod N; every 17th doc is a dangling sink). 3 power
        iterations, damping 0.85, round-8 per round — the oracle
        replays the identical unrolled iterations in SQL."""
        from librecrawl_spark.operators.graph import pagerank

        d = _t(spark, sf, "documents").select("doc_id")
        n = d.count()
        i = F.col("doc_id")
        e1 = d.select(i.alias("src"), ((i * 7 + 1) % n).alias("dst"))
        e2 = d.select(i.alias("src"), ((i * 13 + 3) % n).alias("dst"))
        e3 = (d.filter(i % 5 != 0)
              .select(i.alias("src"), ((i * 3 + 11) % n).alias("dst")))
        edges = (e1.unionByName(e2).unionByName(e3)
                 .filter(F.col("src") % 17 != 0))
        return pagerank(edges, iters=3)

    def pipe_kmeans(spark, sf):
        """Deterministic k-means codebook training (2 Lloyd iterations,
        k=4, seeded on the 4 smallest vec_ids) — the quantizer-training
        step sim_ivf_topk's docstring defers to; the oracle replays both
        iterations in SQL (round-6 centroids between iterations keep the
        engines bit-aligned)."""
        from librecrawl_spark.operators.similarity import kmeans_codebook

        e = _t(spark, sf, "embeddings")
        return kmeans_codebook(e, k=4, iters=2)

    def pipe_tfidf(spark, sf):
        """Per-document top-3 TF-IDF terms (text.tfidf_top_terms) over
        the documents corpus — explode + two hash aggregates + bounded
        per-doc window, the corpus-wide keyword-weighting step."""
        from librecrawl_spark.operators.text import tfidf_top_terms

        d = _t(spark, sf, "documents").select("doc_id", "text")
        return tfidf_top_terms(d, top_k=3)

    def pipe_quality_gate(spark, sf):
        """Composed FineWeb/Gopher-style corpus gate with first-failing-
        reason attribution (pipeline.quality_gate: non_english ->
        too_short -> low_alpha -> repetitive -> pass, one zero-shuffle
        projection) rolled up to a per-reason loss ledger."""
        from librecrawl_spark.operators.pipeline import quality_gate

        g = quality_gate(_t(spark, sf, "documents"))
        return (g.groupBy("reason")
                .agg(F.count("*").alias("n_docs"),
                     F.sum("n_words").cast("long").alias("tot_words"),
                     F.round(F.avg("word_rep_ratio"), 4).alias("avg_rep")))

    def inc_changelog_compact(spark, sf):
        """Changelog -> latest-state compaction (incremental.
        changelog_compact): last-writer-wins upsert merge via one
        max_by(struct) hash aggregation — no per-key window. Changelog
        synthesized from documents: key = doc_id % 97, version wave =
        doc_id // 97, every 13th record a delete."""
        from librecrawl_spark.streaming.incremental import changelog_compact

        d = _t(spark, sf, "documents").select("doc_id", "text")
        log = d.select(
            F.concat(F.lit("https://inc.example/u/"),
                     F.pmod("doc_id", F.lit(97)).cast("string")).alias("url"),
            F.floor(F.col("doc_id") / F.lit(97)).cast("long").alias("wave"),
            F.when(F.pmod("doc_id", F.lit(13)) == 0, F.lit("delete"))
            .otherwise(F.lit("upsert")).alias("op"),
            F.md5("text").alias("content_hash"),
            F.length("text").cast("long").alias("n_chars"),
        )
        return changelog_compact(log)

    def graph_degrees(spark, sf):
        """Log2-binned in/out-degree histogram (graph.degree_histogram)
        over the same deterministic affine-map link graph
        graph_pagerank uses — the power-law / hub diagnostic."""
        from librecrawl_spark.operators.graph import degree_histogram

        d = _t(spark, sf, "documents").select("doc_id")
        n = d.count()
        i = F.col("doc_id")
        e1 = d.select(i.alias("src"), ((i * 7 + 1) % n).alias("dst"))
        e2 = d.select(i.alias("src"), ((i * 13 + 3) % n).alias("dst"))
        e3 = (d.filter(i % 5 != 0)
              .select(i.alias("src"), ((i * 3 + 11) % n).alias("dst")))
        edges = (e1.unionByName(e2).unionByName(e3)
                 .filter(F.col("src") % 17 != 0))
        return degree_histogram(edges)

    def t_recrawl_priority(spark, sf):
        """Freshness-driven recrawl priority (recrawl.recrawl_priority):
        Cho & Garcia-Molina change-rate estimate per page from fetch
        observations, times hours since last fetch. Observations come
        from events: page = user, changed = click/purchase rows. One
        hash aggregate on the key; all time math in exact integer
        microseconds so the DuckDB twin feeds ln identical operands."""
        from librecrawl_spark.operators.recrawl import recrawl_priority

        e = _t(spark, sf, "events").select(
            F.col("user_id").alias("url"), "ts",
            F.col("event_type").isin("click", "purchase").alias("changed"))
        return (recrawl_priority(e, as_of="2024-03-01 00:00:00")
                .withColumnRenamed("key", "page"))

    def p2_budget_alloc(spark, sf):
        """Host crawl-budget split (recrawl.crawl_budget_allocation):
        1000 pages across sources proportional to corpus bytes, 90-page
        cap, largest-remainder rounding with host-name tie-break — the
        per-run politeness planner upstream of p1's quota window."""
        from librecrawl_spark.operators.recrawl import crawl_budget_allocation

        hs = (_t(spark, sf, "documents")
              .groupBy(F.col("source").alias("host"))
              .agg(F.sum("n_chars").alias("score")))
        return crawl_budget_allocation(hs, budget=1000, cap=90)

    def kw_cannibalization(spark, sf):
        """Keyword cannibalization report (keywords.
        keyword_cannibalization — cannibalization.py:604-860 rules) over
        deterministic (url, title, h1, keyword) rows synthesized from
        documents: page type from a doc_id%8 path family, keyword = the
        doc's first-2-token bigram (small vocab -> cross-doc collisions
        -> multi-page keyword groups). The keyword→pages index is ONE
        hash aggregate — the reference's driver-memory dict loop.
        risk_factors flattened to a '|' string for the hash compare."""
        from librecrawl_spark.operators.keywords import keyword_cannibalization

        d = _t(spark, sf, "documents").select("doc_id", "text")
        toks = F.expr(r"regexp_extract_all(lower(text), '\\w+', 0)")
        i8 = (F.col("doc_id") % 8).cast("int")
        sid = F.col("doc_id").cast("string")
        path = (F.when(i8 == 0, F.concat(F.lit("/?v="), sid))
                .when(i8 == 1, F.concat(F.lit("/service/p"), sid))
                .when(i8 == 2, F.concat(F.lit("/blog/p"), sid))
                .when(i8 == 3, F.concat(F.lit("/team/p"), sid))
                .when(i8 == 4, F.concat(F.lit("/reviews/p"), sid))
                .when(i8 == 5, F.concat(F.lit("/location/p"), sid))
                .when(i8 == 6, F.concat(F.lit("/contact/p"), sid))
                .otherwise(F.concat(F.lit("/treatment/p"), sid)))
        rows = d.select(
            F.concat(F.lit("https://kw.example"), path).alias("url"),
            F.concat_ws(" ", F.slice(toks, 1, 3)).alias("title"),
            F.concat_ws(" ", F.slice(toks, 2, 2)).alias("h1"),
            F.concat_ws(" ", F.slice(toks, 1, 2)).alias("keyword"),
            ((F.col("doc_id") * 7) % 101).cast("double").alias("prominence_score"),
            ((F.col("doc_id") % 40) / F.lit(10.0)).alias("density"),
        )
        return (keyword_cannibalization(rows)
                .withColumn("risk_factors", F.concat_ws("|", "risk_factors")))

    def kw_page_keywords(spark, sf):
        """Per-page keyword extraction + prominence scoring (keywords.
        page_keywords — keyword_analyzer.py:243-412: singles cut to
        2*top_n, 2/3-gram phrase counter cut then freq>=2, stable final
        rank word-before-phrase, placement windows, weighted prominence)
        over pages synthesized from documents: title = tokens 1-3,
        meta = 2-4, headings = 4-6 of the lowered text. The oracle
        replays every tie order with explicit row_number keys."""
        from librecrawl_spark.operators.keywords import page_keywords

        d = _t(spark, sf, "documents").select("doc_id", "text")
        toks = F.expr(r"regexp_extract_all(lower(text), '\\w+', 0)")
        pages = d.select(
            F.concat(F.lit("https://kwp.example/p"),
                     F.col("doc_id").cast("string")).alias("url"),
            "text",
            F.concat_ws(" ", F.slice(toks, 1, 3)).alias("title"),
            F.concat_ws(" ", F.slice(toks, 2, 3)).alias("meta_description"),
            F.concat_ws(" ", F.slice(toks, 4, 3)).alias("headings_text"),
        )
        return page_keywords(pages, headings_text_col="headings_text",
                             top_n=10)

    def sk_kmv_distinct(spark, sf):
        """K-minimum-values distinct-count sketch (operators/sketch.py)
        over lineitem.l_orderkey — the engine-portable cardinality
        estimator for the 10^10-URL seen set (Spark's HLL sketch is
        engine-private; KMV's k-th order statistic is bit-identical in
        any engine, so the DuckDB twin replays the estimate exactly)."""
        from librecrawl_spark.operators.sketch import kmv_distinct

        return kmv_distinct(_t(spark, sf, "lineitem"), "l_orderkey", k=512)

    def graph_bfs_dist(spark, sf):
        """Multi-source BFS link distance (operators/graph.py:
        bfs_distances, max 4 hops) over the same synthetic doc_id link
        graph the pagerank pair uses; seeds = every 97th doc. The
        oracle is a DuckDB recursive CTE with a min(dist) rollup."""
        from librecrawl_spark.operators.graph import bfs_distances

        d = _t(spark, sf, "documents").select("doc_id")
        n = d.count()
        i = F.col("doc_id")
        e1 = d.select(i.alias("src"), ((i * 7 + 1) % n).alias("dst"))
        e2 = d.select(i.alias("src"), ((i * 13 + 3) % n).alias("dst"))
        e3 = (d.filter(i % 5 != 0)
              .select(i.alias("src"), ((i * 3 + 11) % n).alias("dst")))
        edges = (e1.unionByName(e2).unionByName(e3)
                 .filter(F.col("src") % 17 != 0))
        seeds = d.filter(i % 97 == 0).select(i.alias("node"))
        return bfs_distances(edges, seeds, max_hops=4)

    def dedup_containment(spark, sf):
        """Ordered shingle-containment pairs (dedup.py:containment_pairs,
        t=0.8): the asymmetric near-dup detector for short-doc-inside-
        long-doc (template/quote embedding) that Jaccard misses. Every
        83rd document spawns a 'quote' doc (its first 30 tokens, id +
        10^7) so the fixture contains planted containments at C=1."""
        from librecrawl_spark.operators.dedup import containment_pairs

        d = _t(spark, sf, "documents").select("doc_id", "text")
        quotes = d.filter(F.col("doc_id") % 83 == 0).select(
            (F.col("doc_id") + 10_000_000).alias("doc_id"),
            F.concat_ws(
                " ",
                F.slice(F.expr(r"regexp_extract_all(text, '\\w+', 0)"),
                        1, 30),
            ).alias("text"),
        )
        return containment_pairs(d.unionByName(quotes), threshold=0.8)

    def dedup_minhash_inc(spark, sf):
        """Incremental LSH dedup (dedup.py:minhash_incremental_candidates):
        odd doc_ids are 'this wave', even doc_ids are the already-indexed
        corpus (minhash_band_index) — new-vs-index + new-vs-new candidate
        pairs without recomputing the historical side."""
        from librecrawl_spark.operators.dedup import (
            minhash_band_index, minhash_incremental_candidates)

        d = _t(spark, sf, "documents").select("doc_id", "text")
        old = d.filter(F.col("doc_id") % 2 == 0)
        new = d.filter(F.col("doc_id") % 2 == 1)
        idx = minhash_band_index(old, n_hashes=4, n_bands=2)
        pairs, _ = minhash_incremental_candidates(
            new, idx, n_hashes=4, n_bands=2)
        return pairs

    def sk_kmv_by_group(spark, sf):
        """Per-group KMV distinct estimate (sketch.py:kmv_distinct_by,
        k=256): distinct orderkeys per returnflag — the 'distinct URLs
        per host' probe shape. Bounded per-group bottom-k window, same
        estimator + small-group exact fallback as sk_kmv_distinct."""
        from librecrawl_spark.operators.sketch import kmv_distinct_by

        return kmv_distinct_by(_t(spark, sf, "lineitem"),
                               "l_returnflag", "l_orderkey", k=256)

    def pipe_priority_sample(spark, sf):
        """Deterministic priority (PPS) sampling (pipeline.py:
        priority_sample, Duffield–Lund–Thorup): top-50 documents by
        n_chars-weighted hash priority — exact-k weight-proportional
        corpus sampling, a pure function of (id, weight) so the DuckDB
        twin replays the identical sample."""
        from librecrawl_spark.operators.pipeline import priority_sample

        return priority_sample(_t(spark, sf, "documents"),
                               "doc_id", "n_chars", 50)

    def graph_hits(spark, sf):
        """HITS hubs & authorities (operators/graph.py:hits, 2
        L1-normalized iterations, round-8 per round) over the same
        synthetic doc_id link graph as pagerank; the oracle replays
        both unrolled iterations in SQL."""
        from librecrawl_spark.operators.graph import hits

        d = _t(spark, sf, "documents").select("doc_id")
        n = d.count()
        i = F.col("doc_id")
        e1 = d.select(i.alias("src"), ((i * 7 + 1) % n).alias("dst"))
        e2 = d.select(i.alias("src"), ((i * 13 + 3) % n).alias("dst"))
        e3 = (d.filter(i % 5 != 0)
              .select(i.alias("src"), ((i * 3 + 11) % n).alias("dst")))
        edges = (e1.unionByName(e2).unionByName(e3)
                 .filter(F.col("src") % 17 != 0))
        return hits(edges, iters=2)

    def text_unigram_lm(spark, sf):
        """Self-trained unigram LM fluency score per document
        (operators/text.py:unigram_logprob) — the cheap KenLM-style
        perplexity gate of a corpus build; shares the \\w+ token
        definition with token_count/tfidf."""
        from librecrawl_spark.operators.text import unigram_logprob

        return unigram_logprob(_t(spark, sf, "documents"))

    return {
        "a12_rollup": a12_rollup,
        "a13_pivot": a13_pivot,
        "events_sessionize": events_sessionize,
        "events_session_window": events_session_window,
        "sim_neardup_exact": sim_neardup_exact,
        "sim_ivf_topk": sim_ivf_topk,
        "text_winnow": text_winnow,
        "q6_forecast_revenue": q6_forecast_revenue,
        "w2_homepage": w2_homepage,
        "events_hopping_window": events_hopping_window,
        "w7_percentiles": w7_percentiles,
        "t_asof_join": t_asof_join,
        "t_range_join": t_range_join,
        "dedup_clusters": dedup_clusters,
        "q4_late_orders": q4_late_orders,
        "q13_custdist": q13_custdist,
        "q22_idle_rich": q22_idle_rich,
        "q2_min_cost_supp": q2_min_cost_supp,
        "q9_product_profit": q9_product_profit,
        "q11_important_stock": q11_important_stock,
        "q12_priority_shipping": q12_priority_shipping,
        "q20_excess_suppliers": q20_excess_suppliers,
        "q14_promo_share": q14_promo_share,
        "pipe_stratified_sample": pipe_stratified_sample,
        "pipe_chunk_packing": pipe_chunk_packing,
        "pipe_cluster_reps": pipe_cluster_reps,
        "pipe_contamination": pipe_contamination,
        "text_repetition": text_repetition,
        "text_pii": text_pii,
        "dedup_chunks": dedup_chunks,
        "q7_volume_shipping": q7_volume_shipping,
        "q8_market_share": q8_market_share,
        "q10_returned_items": q10_returned_items,
        "q15_top_supplier": q15_top_supplier,
        "q16_supplier_cnt": q16_supplier_cnt,
        "q17_small_qty": q17_small_qty,
        "q18_large_orders": q18_large_orders,
        "q19_disjunctive": q19_disjunctive,
        "q21_waiting_supplier": q21_waiting_supplier,
        "pipe_kmeans": pipe_kmeans,
        "pipe_tfidf": pipe_tfidf,
        "pipe_quality_gate": pipe_quality_gate,
        "inc_changelog_compact": inc_changelog_compact,
        "graph_degrees": graph_degrees,
        "graph_pagerank": graph_pagerank,
        "inc_snapshot_diff": inc_snapshot_diff,
        "pipe_domain_mix": pipe_domain_mix,
        "t_recrawl_priority": t_recrawl_priority,
        "p2_budget_alloc": p2_budget_alloc,
        "kw_cannibalization": kw_cannibalization,
        "kw_page_keywords": kw_page_keywords,
        "sk_kmv_distinct": sk_kmv_distinct,
        "graph_bfs_dist": graph_bfs_dist,
        "text_unigram_lm": text_unigram_lm,
        "dedup_containment": dedup_containment,
        "graph_hits": graph_hits,
        "sk_kmv_by_group": sk_kmv_by_group,
        "pipe_priority_sample": pipe_priority_sample,
        "dedup_minhash_inc": dedup_minhash_inc,
        "a1_stats_counts": a1_stats_counts,
        "q3_shipping_priority": q3_shipping_priority,
        "q5_nation_revenue": q5_nation_revenue,
        "u3_set_ops": u3_set_ops,
        "w8_ntile": w8_ntile,
        "w9_range_frame": w9_range_frame,
        "a15_moments": a15_moments,
        "w1_lag_delta": w1_lag_delta,
        "c5_json_extract": c5_json_extract,
        "c14_backoff_math": c14_backoff_math,
        "a4_array_filter": a4_array_filter,
        "j4_links_to_redirects": j4_links_to_redirects,
        "j6_hreflang_reciprocity": j6_hreflang_reciprocity,
        "j7_dup_candidates": j7_dup_candidates,
        "i_issue_predicates": i_issue_predicates,
        "i_sitewide_security": i_sitewide_security,
        "c15_requeue_math": c15_requeue_math,
        "p1_politeness_quota": p1_politeness_quota,
        "u4_links_dedup": u4_links_dedup,
        "c2_normalize_compare": c2_normalize_compare,
        "c12_hreflang_codes": c12_hreflang_codes,
        "a7_sitemap_health": a7_sitemap_health,
        "i_sitemap_issues": i_sitemap_issues,
        "s2_size_gate": s2_size_gate,
        "f9_budget_cut": f9_budget_cut,
        "q1_pricing_summary": q1_pricing_summary,
        "j1_status_lookup_join": j1_status_lookup_join,
        "j2_reverse_links": j2_reverse_links,
        "j3_classify_join": j3_classify_join,
        "j5_broken_sources": j5_broken_sources,
        "j8_anti_join": j8_anti_join,
        "w3_topk_per_group": w3_topk_per_group,
        "a10_first_per_group": a10_first_per_group,
        "u2_union_dedup": u2_union_dedup,
        "f7_regex_filters": f7_regex_filters,
        "c3_signature_counts": c3_signature_counts,
        "a9_bigram_topk": a9_bigram_topk,
        "w6_top_docs_cap": w6_top_docs_cap,
        "dedup_fingerprint": dedup_fingerprint,
        "dedup_minhash": dedup_minhash,
        "dedup_simhash": dedup_simhash,
        "dedup_simhash_pairs": dedup_simhash_pairs,
        "dedup_jaccard_pairs": dedup_jaccard_pairs,
        "sim_cosine_topk": sim_cosine_topk,
        "text_tokens": text_tokens,
        "text_quality": text_quality,
        "text_langid": text_langid,
        "events_tumbling_window": events_tumbling_window,
    }


def _issue_predicates_sql() -> str:
    """DuckDB twin of i_issue_predicates: the same deterministic pages
    construction (pure functions of doc_id/n_chars) plus an independent
    transcription of every per_page_issues predicate as one UNION ALL.
    The page-type/archive classification is expressed as the EXPECTED
    class per construction case (an independent check of the Spark
    classifier's regex/substring logic). Labels/details are the
    reference's literals (issue_detector.py); the status-0 early return
    is the `status <> 0` conjunct on every non-connection check."""
    i7 = "CAST(doc_id % 7 AS INT)"
    pg = f"""
      SELECT
        'https://i.example' || CASE {i7}
          WHEN 0 THEN '/'
          WHEN 1 THEN '/tag/t' || CAST(doc_id AS VARCHAR)
          WHEN 2 THEN '/about/' || repeat('a', 110) || CAST(doc_id AS VARCHAR)
          WHEN 3 THEN '/login/l_' || CAST(doc_id AS VARCHAR)
          WHEN 4 THEN '/2024/05/12/post-' || CAST(doc_id AS VARCHAR)
          WHEN 5 THEN '/page/page/' || CAST(doc_id AS VARCHAR)
          ELSE '/a/b' || CAST(doc_id AS VARCHAR) || '?ref=x' END AS url,
        CASE {i7} WHEN 0 THEN 'important' WHEN 1 THEN 'archive'
             WHEN 2 THEN 'important' WHEN 3 THEN 'other' WHEN 4 THEN 'important'
             WHEN 5 THEN 'archive' ELSE 'other' END AS ptype,
        {i7} IN (1, 3, 5) AS arch,
        CASE CAST(doc_id % 11 AS INT) WHEN 3 THEN '' WHEN 5 THEN 'Page not found'
             WHEN 7 THEN repeat('T', 65) WHEN 0 THEN 'Short'
             ELSE 'Title for document number padded ' || CAST(doc_id AS VARCHAR) END AS title,
        CASE CAST(doc_id % 9 AS INT) WHEN 2 THEN 0 WHEN 4 THEN 160
             ELSE 37 + len(CAST(doc_id AS VARCHAR)) END AS dlen,
        CASE CAST(doc_id % 8 AS INT) WHEN 1 THEN 0 WHEN 2 THEN 2 WHEN 3 THEN 2 ELSE 1 END AS n_h1,
        CAST(doc_id % 8 AS INT) = 2 AS h1_dup,
        CASE CAST(doc_id % 8 AS INT) WHEN 1 THEN '' WHEN 2 THEN 'Dup' WHEN 3 THEN 'One'
             WHEN 4 THEN repeat('H', 75)
             ELSE 'Heading ' || CAST(doc_id AS VARCHAR) END AS h1,
        CAST(doc_id % 6 AS INT) = 3 AS h2_dup,
        CAST(doc_id % 6 AS INT) = 5 AS h2_boiler,
        CAST(doc_id % 17 AS INT) AS hs17,
        CAST(doc_id % 16 AS INT) = 2 AS lang_missing,
        CAST(doc_id % 11 AS INT) = 5 AS soft404,
        CAST(n_chars % 700 AS INT) AS wc,
        CASE CAST(doc_id % 19 AS INT) WHEN 4 THEN 0 WHEN 6 THEN 404 WHEN 8 THEN 500
             WHEN 10 THEN 301 ELSE 200 END AS status,
        CAST(doc_id % 23 AS INT) = 7 AS chain_loop,
        CASE CAST(doc_id % 23 AS INT) WHEN 7 THEN 2 WHEN 9 THEN 4 WHEN 11 THEN 2 ELSE 0 END AS rc,
        CAST(doc_id % 10 AS INT) = 6 AS canon_missing,
        (CAST(doc_id % 10 AS INT) = 8 AND {i7} <> 0) AS canon_home,
        (CAST(doc_id % 10 AS INT) = 4 AND {i7} = 6) AS canon_qf,
        CAST(doc_id % 12 AS INT) = 5 AS vp_missing,
        CASE WHEN CAST(doc_id % 5 AS INT) = 2 THEN 1 ELSE 0 END AS img_missing,
        CAST(doc_id % 14 AS INT) IN (9, 11) AS noindex,
        CAST(doc_id % 14 AS INT) = 9 AS meta_src,
        CAST(doc_id % 14 AS INT) = 9 AS nofollow,
        CAST(doc_id % 6 AS INT) AS sd,
        CASE WHEN CAST(doc_id % 6 AS INT) = 1 THEN CAST(doc_id % 3 AS INT) ELSE 0 END AS faq_count,
        (CAST(doc_id % 6 AS INT) = 2 AND doc_id % 2 = 0) AS article_ok,
        -- social / url / performance / links / security families
        NOT (CAST(doc_id % 4 AS INT) = 1) AS og_missing,
        NOT (CAST(doc_id % 5 AS INT) = 2) AS tw_missing,
        CASE WHEN CAST(doc_id % 29 AS INT) = 21 THEN 4000000
             ELSE 1000 + CAST(doc_id % 2000 AS INT) END AS psize,
        CASE WHEN CAST(doc_id % 13 AS INT) = 6 THEN 4200.0
             ELSE CAST(CAST(doc_id % 900 AS INT) AS DOUBLE) END AS rt,
        CASE WHEN CAST(doc_id % 10 AS INT) = 7 THEN 60
             ELSE CAST(doc_id % 5 AS INT) END AS ext_links,
        CAST(doc_id % 6 AS INT) AS l6,
        CAST(doc_id % 5 AS INT) = 3 AS img_mixed,
        {i7} AS i7mod
      FROM documents
    """
    sel = "SELECT url, {t} AS type, {c} AS category, {i} AS issue, {d} AS details FROM pg WHERE {w}"
    live = "status <> 0"
    checks = [
        # connection failure (issue_detector.py:30-39)
        sel.format(t="'error'", c="'Technical'", i="'Connection Failed'",
                   d="'fetch failed'", w="status = 0"),
        # titles (issue_detector.py:88-151)
        sel.format(t="CASE WHEN arch THEN 'warning' ELSE 'error' END", c="'SEO'",
                   i="CASE WHEN arch THEN 'Missing Title Tag (Archive/Utility)' ELSE 'Missing Title Tag' END",
                   d="'Page has no title tag' || CASE WHEN arch THEN ' (archive/utility page - lower priority)' ELSE '' END",
                   w=f"{live} AND len(title) = 0"),
        sel.format(t="'warning'", c="'SEO'", i="'Page Titles: Over 60 Characters'",
                   d="'Title is ' || CAST(len(title) AS VARCHAR) || ' characters'",
                   w=f"{live} AND len(title) > 60"),
        sel.format(t="'warning'", c="'SEO'", i="'Page Titles: Over 561 Pixels'",
                   d="'Title is approx ' || CAST(len(title) * 9 AS VARCHAR) || ' pixels'",
                   w=f"{live} AND len(title) * 9 > 561"),
        sel.format(t="'warning'", c="'SEO'", i="'Title Too Short'",
                   d="'Title is ' || CAST(len(title) AS VARCHAR) || ' characters (recommended: 30-60)'",
                   w=f"{live} AND len(title) > 0 AND len(title) < 30"),
        # meta description (issue_detector.py:153-207): archive OR
        # utility downgrade to info
        sel.format(t="CASE WHEN arch THEN 'info' ELSE 'warning' END", c="'SEO'",
                   i="CASE WHEN arch THEN 'Meta Description: Missing (Archive/Utility)' ELSE 'Meta Description: Missing' END",
                   d="'Page has no meta description' || CASE WHEN arch THEN ' (archive/utility page - low priority)' ELSE '' END",
                   w=f"{live} AND dlen = 0"),
        sel.format(t="'warning'", c="'SEO'", i="'Meta Description: Over 155 Characters'",
                   d="'Description is ' || CAST(dlen AS VARCHAR) || ' characters'",
                   w=f"{live} AND dlen > 155"),
        sel.format(t="'warning'", c="'SEO'", i="'Meta Description: Over 985 Pixels'",
                   d="'Description is approx ' || CAST(dlen * 9 AS VARCHAR) || ' pixels'",
                   w=f"{live} AND dlen * 9 > 985"),
        # headings (issue_detector.py:209-351)
        sel.format(t="CASE WHEN arch THEN 'warning' ELSE 'error' END", c="'SEO'",
                   i="CASE WHEN arch THEN 'Missing H1 Tag (Archive/Utility)' ELSE 'Missing H1 Tag' END",
                   d="'Page has no H1 heading' || CASE WHEN arch THEN ' (archive/utility - lower priority)' ELSE '' END",
                   w=f"{live} AND n_h1 = 0"),
        sel.format(t="'warning'", c="'SEO'", i="'H1: Multiple'",
                   d="'Page has ' || CAST(n_h1 AS VARCHAR) || ' H1 tags'",
                   w=f"{live} AND n_h1 > 1"),
        sel.format(t="'warning'", c="'SEO'", i="'H1: Duplicate'",
                   d="'Page has duplicate H1 tags'", w=f"{live} AND h1_dup"),
        sel.format(t="'warning'", c="'SEO'", i="'H1: Over 70 Characters'",
                   d="'H1 is ' || CAST(len(h1) AS VARCHAR) || ' characters'",
                   w=f"{live} AND len(h1) > 70"),
        # heading structure (issue_detector.py:273-308): case hs17=2 first
        # heading H2, hs17=5 first heading H3, hs17=3 H1->H3 skip
        sel.format(t="CASE WHEN arch THEN 'info' ELSE 'warning' END", c="'SEO'",
                   i="'H' || CAST(CASE hs17 WHEN 2 THEN 2 ELSE 3 END AS VARCHAR) || "
                     "' appears before H1' || CASE WHEN arch THEN ' (Archive/Utility)' ELSE '' END",
                   d="'The first heading is an H' || CAST(CASE hs17 WHEN 2 THEN 2 ELSE 3 END AS VARCHAR) || ', should be H1.'",
                   w=f"{live} AND hs17 IN (2, 5)"),
        sel.format(t="'warning'", c="'SEO'", i="'H3: Non-Sequential'",
                   d="'Heading structure skips from H1 to H3'",
                   w=f"{live} AND hs17 = 3"),
        # duplicate H2 + boilerplate allow-list (issue_detector.py:310-351)
        sel.format(t="CASE WHEN arch THEN 'info' ELSE 'warning' END", c="'SEO'",
                   i="CASE WHEN arch THEN 'H2: Duplicate (Archive/Utility)' ELSE 'H2: Duplicate' END",
                   d="'Page has duplicate H2 tags: S' || CASE WHEN arch THEN ' (archive/utility - low priority)' ELSE '' END",
                   w=f"{live} AND h2_dup"),
        sel.format(t="'info'", c="'SEO'", i="'H2: Duplicate (Boilerplate)'",
                   d="'Duplicate template headings found: Comments'",
                   w=f"{live} AND h2_boiler"),
        # content (issue_detector.py:353-366) — no status-200 gate
        sel.format(t="'warning'", c="'Content'", i="'Thin Content'",
                   d="'Page has only ' || CAST(wc AS VARCHAR) || ' words (recommended: ≥300)'",
                   w=f"{live} AND wc < 300"),
        # status codes: details are the descriptive messages
        sel.format(t="'error'", c="'Technical'", i="'Response Codes: External Client Error (4xx)'",
                   d="'Not Found'", w="status = 404"),
        sel.format(t="'error'", c="'Technical'", i="'Response Codes: External Server Error (5xx)'",
                   d="'Internal Server Error'", w="status = 500"),
        sel.format(t="'info'", c="'Technical'", i="'Response Codes: Internal Redirection (3xx)'",
                   d="'URL redirects to another location'", w="status >= 300 AND status < 400"),
        # soft 404 (issue_detector.py:405-451): of the 15 phrases only
        # 'not found' (title case i%11=5) and '404' (doc_id digits leaking
        # into the default title/h1) can hit this fixture
        sel.format(t="CASE WHEN (soft404 OR contains(title, '404')) AND contains(h1, '404') THEN 'error' ELSE 'warning' END",
                   c="'Technical'", i="'Soft 404: Returns 200 but appears broken'",
                   d="CASE WHEN (soft404 OR contains(title, '404')) AND contains(h1, '404') "
                     "THEN 'Title: \"' || substr(title, 1, 50) || '\" and H1: \"' || substr(h1, 1, 50) || '\" suggest error page' "
                     "WHEN soft404 OR contains(title, '404') "
                     "THEN 'Title \"' || substr(title, 1, 60) || '\" suggests this is an error page' "
                     "ELSE 'H1 \"' || substr(h1, 1, 60) || '\" suggests this is an error page' END",
                   w="status = 200 AND (soft404 OR contains(title, '404') OR contains(h1, '404'))"),
        # redirect chains (issue_detector.py:453-505): if/elif ladder
        sel.format(t="'error'", c="'Technical'", i="'Redirect Loop Detected'",
                   d="'URL redirects back to itself: ' || url",
                   w=f"{live} AND chain_loop"),
        sel.format(t="'warning'", c="'Technical'", i="'Long Redirect Chain'",
                   d="CAST(rc AS VARCHAR) || ' redirects before final destination. Chain: 301 → 301 → 301 → 301 → 301'",
                   w=f"{live} AND rc > 3 AND NOT chain_loop"),
        sel.format(t="'info'", c="'Technical'", i="'Redirect Chain'",
                   d="CAST(rc AS VARCHAR) || ' redirects: 301 → 301 → 301'",
                   w=f"{live} AND rc > 1 AND rc <= 3 AND NOT chain_loop"),
        # canonical (issue_detector.py:507-591) — no status/parsed gate
        sel.format(t="CASE WHEN ptype = 'archive' THEN 'warning' ELSE 'error' END",
                   c="'Technical'", i="'Missing Canonical URL'",
                   d="CASE WHEN ptype = 'important' THEN 'Indexable content page has no canonical URL' "
                     "WHEN ptype = 'archive' THEN 'Archive page missing canonical (Review if this should be indexed)' "
                     "ELSE 'Page has no canonical URL specified' END",
                   w=f"{live} AND canon_missing AND NOT noindex"),
        sel.format(t="'error'", c="'Technical'", i="'Canonicals: Canonicalised'",
                   d="'Critical: Content page canonicalises to Homepage (Soft 404 risk)'",
                   w=f"{live} AND canon_home"),
        sel.format(t="'info'", c="'Technical'", i="'Canonicals: Canonicalised'",
                   d="'Safe: Canonical removes query parameters or fragments'",
                   w=f"{live} AND canon_qf"),
        # mobile (issue_detector.py:597-608)
        sel.format(t="'error'", c="'Mobile'", i="'Missing Viewport Meta Tag'",
                   d="'Page is not mobile-optimized'",
                   w=f"{live} AND vp_missing"),
        # accessibility + images (issue_detector.py:610-651)
        sel.format(t="'info'", c="'Accessibility'", i="'Missing Language Attribute'",
                   d="'Template issue: HTML tag missing lang attribute (accessibility best practice)'",
                   w=f"{live} AND lang_missing"),
        sel.format(t="'warning'", c="'Images'", i="'Images: Missing Alt Text'",
                   d="CAST(img_missing AS VARCHAR) || ' images lack alt text'",
                   w=f"{live} AND img_missing > 0"),
        sel.format(t="'info'", c="'Images'", i="'Images: Missing Size Attributes'",
                   d="CAST(img_missing AS VARCHAR) || ' images lack width/height attributes'",
                   w=f"{live} AND img_missing > 0"),
        # indexability (issue_detector.py:873-931): source string names
        # the directive carrier (meta tag for i%14=9, header for i%14=11)
        sel.format(t="CASE WHEN ptype = 'archive' THEN 'info' WHEN ptype = 'important' THEN 'error' ELSE 'warning' END",
                   c="'Indexability'", i="'Directives: Noindex'",
                   d="'Source: ' || CASE WHEN meta_src THEN 'HTML Meta Tag' ELSE 'HTTP Header (X-Robots-Tag)' END || "
                     "CASE WHEN ptype = 'archive' THEN ' (Expected for archive page)' "
                     "WHEN ptype = 'important' THEN ' (Critical: Important page is blocked!)' ELSE '' END",
                   w=f"{live} AND noindex"),
        sel.format(t="'warning'", c="'Indexability'", i="'Directives: Nofollow'",
                   d="'Source: HTML Meta Tag'", w=f"{live} AND nofollow"),
        # structured data (sd: 0 none, 1 FAQPage, 2 Article, 3 Org, 4 Product, 5 WebSite)
        sel.format(t="'warning'", c="'Structured Data'", i="'No Structured Data'",
                   d="'Page has no JSON-LD or Schema.org markup'", w=f"{live} AND sd = 0"),
        sel.format(t="'info'", c="'Structured Data'", i="'Schema: Missing Organization/WebSite'",
                   d="'Consider adding Organization or WebSite schema for brand visibility'",
                   w=f"{live} AND sd = 1 AND ptype = 'important'"),
        sel.format(t="'warning'", c="'Structured Data'", i="'Schema: FAQPage has no questions'",
                   d="'FAQPage schema found but no Question items detected'",
                   w=f"{live} AND sd = 1 AND faq_count = 0"),
        sel.format(t="'info'", c="'Structured Data'", i="'Schema: FAQPage has few questions'",
                   d="'Only ' || CAST(faq_count AS VARCHAR) || ' FAQ items found (3+ recommended)'",
                   w=f"{live} AND sd = 1 AND faq_count > 0 AND faq_count < 3"),
        sel.format(t="'warning'", c="'Structured Data'", i="'Schema: Article missing required fields'",
                   d="'Article schema should have headline and datePublished'",
                   w=f"{live} AND sd = 2 AND NOT article_ok"),
        # social (issue_detector.py:653-673)
        sel.format(t="'info'", c="'Social'", i="'Missing OpenGraph Tags'",
                   d="'Page has no OpenGraph tags for social sharing'",
                   w=f"{live} AND og_missing"),
        sel.format(t="'info'", c="'Social'", i="'Missing Twitter Card Tags'",
                   d="'Page has no Twitter Card tags'",
                   w=f"{live} AND tw_missing"),
        # URL structure (issue_detector.py:1037-1079) — expected-case
        # predicates per construction (case 2 long, 3 underscore,
        # 5 repetitive, 6 parameters)
        sel.format(t="'info'", c="'URL'", i="'URL: Over 115 Characters'",
                   d="'URL is ' || CAST(len(url) AS VARCHAR) || ' characters long'",
                   w=f"{live} AND i7mod = 2"),
        sel.format(t="'info'", c="'URL'", i="'URL: Underscores'",
                   d="'URL contains underscores (use hyphens instead)'",
                   w=f"{live} AND i7mod = 3"),
        sel.format(t="'info'", c="'URL'", i="'URL: Parameters'",
                   d="'URL contains query parameters'",
                   w=f"{live} AND i7mod = 6"),
        sel.format(t="'info'", c="'URL'", i="'URL: Repetitive Path'",
                   d="'URL path contains duplicate segments'",
                   w=f"{live} AND i7mod = 5"),
        # performance (issue_detector.py:849-871)
        sel.format(t="'error'", c="'Performance'", i="'Slow Response Time'",
                   d="'Page took ' || CAST(rt AS VARCHAR) || 'ms to respond (recommended: <3000ms)'",
                   w=f"{live} AND rt > 3000"),
        sel.format(t="'error'", c="'Performance'", i="'Large Page Size'",
                   d="'Page size is ' || printf('%.1f', psize / 1024.0 / 1024.0) || 'MB (recommended: <3MB)'",
                   w=f"{live} AND psize > 3145728"),
        # links (issue_detector.py:1081-1151); one links_data row per case
        sel.format(t="'info'", c="'Links'", i="'Links: Pages With High External Outlinks'",
                   d="'Page has ' || CAST(ext_links AS VARCHAR) || ' external links'",
                   w=f"{live} AND ext_links > 50"),
        sel.format(t="'info'", c="'Links'", i="'Links: Internal Nofollow Outlinks'",
                   d="'1 internal links are marked nofollow'",
                   w=f"{live} AND l6 = 0"),
        sel.format(t="'warning'", c="'Links'", i="'Links: Internal Outlinks With No Anchor Text'",
                   d="'1 links have no anchor text'",
                   w=f"{live} AND l6 = 1"),
        sel.format(t="'warning'", c="'Links'", i="'Links: Non-Descriptive Anchor Text'",
                   d="'1 links use generic text like \"click here\"'",
                   w=f"{live} AND l6 = 2"),
        # security, per-page (issue_detector.py:1250-1297)
        sel.format(t="'error'", c="'Security'", i="'Security: Mixed Content'",
                   d="'Secure page loads insecure (HTTP) assets: Image: http://i.example/mc.png'",
                   w=f"{live} AND img_mixed"),
        sel.format(t="'warning'", c="'Security'", i="'Security: Protocol-Relative Resource Links'",
                   d="'1 resources use protocol-relative URLs (//). Use explicit HTTPS instead.'",
                   w=f"{live} AND l6 = 4"),
    ]
    return f"WITH pg AS ({pg})\n" + "\nUNION ALL\n".join(checks)


def _c12_sql() -> str:
    """DuckDB twin of c12_hreflang_codes, sharing the ISO-639 subtag list
    with the Spark operator."""
    from librecrawl_spark.operators.issues import _HREFLANG_RE, _VALID_LANG_CODES

    iso = ", ".join(f"'{c}'" for c in _VALID_LANG_CODES)
    return f"""
        WITH p AS (
          SELECT doc_id AS i,
                 CASE CAST(doc_id % 8 AS INT)
                   WHEN 0 THEN 'en' WHEN 1 THEN 'de-DE' WHEN 2 THEN 'x-default'
                   WHEN 3 THEN 'zz' WHEN 4 THEN 'english' WHEN 5 THEN 'EN'
                   WHEN 6 THEN 'pt-BR' ELSE '12' END AS lang
          FROM documents
        ),
        e AS (
          SELECT 'https://l.example/' || CAST(i AS VARCHAR) AS url, lang,
                 'https://l.example/' || CAST(i AS VARCHAR) || '-alt' AS target
          FROM p
        )
        SELECT url, 'warning' AS type, 'International' AS category,
               CASE WHEN NOT regexp_matches(lang, '{_HREFLANG_RE}')
                    THEN 'Hreflang: Invalid Language Code'
                    ELSE 'Hreflang: Unknown Language Code' END AS issue,
               CASE WHEN NOT regexp_matches(lang, '{_HREFLANG_RE}')
                    THEN 'Invalid hreflang code "' || lang ||
                         '" - should be ISO 639-1 format (e.g., en, en-US)'
                    ELSE 'Unrecognized language code "' || lang ||
                         '" - verify it is a valid ISO 639-1 code' END AS details,
               lang, target
        FROM e
        WHERE NOT regexp_matches(lang, '{_HREFLANG_RE}')
           OR (NOT lower(split_part(lang, '-', 1)) IN ({iso})
               AND lower(lang) <> 'x-default')
    """


def _pii_oracle_sql() -> str:
    """DuckDB twin of text_pii: identical planted suffixes, identical
    RE2/Java-portable patterns (shared PII_PATTERNS constants), counts
    on the raw text, redaction applied in pattern order."""
    from librecrawl_spark.operators.text import PII_PATTERNS

    planted = (
        "text"
        " || CASE WHEN doc_id % 7 = 0 THEN ' contact user' ||"
        " CAST(doc_id AS VARCHAR) || '@example.com now' ELSE '' END"
        " || CASE WHEN doc_id % 11 = 0 THEN ' call +1 555-0199' ELSE '' END"
        " || CASE WHEN doc_id % 13 = 0 THEN ' host 10.0.' ||"
        " CAST(doc_id % 250 AS VARCHAR) || '.1' ELSE '' END"
    )
    counts = ", ".join(
        f"len(regexp_extract_all(t, '{pat}')) AS n_{name}"
        for name, pat in PII_PATTERNS
    )
    red = "t"
    for name, pat in PII_PATTERNS:
        red = f"regexp_replace({red}, '{pat}', '<{name.upper()}>', 'g')"
    names = [f"n_{name}" for name, _ in PII_PATTERNS]
    return f"""
        WITH p AS (SELECT doc_id, {planted} AS t FROM documents),
        c AS (SELECT doc_id, {counts}, {red} AS redacted_text FROM p)
        SELECT doc_id, {', '.join(names)},
               ({' + '.join(names)}) > 0 AS has_pii, redacted_text
        FROM c
    """


def oracle_sql() -> dict[str, str]:
    from librecrawl_spark.operators.keywords import ANALYZER_STOP_WORDS
    from librecrawl_spark.operators.pipeline import _rate_threshold as _thr

    kw_stop = ", ".join("'" + w + "'" for w in ANALYZER_STOP_WORDS)

    def _kwpass(c: str) -> str:
        # page_keywords' stop/length gate (keyword_analyzer.py:258-264)
        return f"{c} NOT IN ({kw_stop}) AND length({c}) >= 3"

    toks = r"regexp_extract_all(text, '\w+')"
    toks_l = r"regexp_extract_all(lower(text), '\w+')"
    shingles = (
        f"list_transform(range(1, greatest(len({toks}) - 2, 0) + 1), "
        f"i -> {toks}[i] || ' ' || {toks}[i+1] || ' ' || {toks}[i+2])"
    )
    lang_score = {
        lang: (
            f"len(list_intersect(list_distinct({toks_l}), "
            f"[{', '.join(repr(m) for m in marks)}]))"
        )
        for lang, marks in LANGS.items()
    }
    langs = sorted(LANGS)
    best = "greatest(" + ", ".join(f"s_{l}" for l in langs) + ")"
    pred_chain = "'unknown'"
    for l in reversed(langs):
        pred_chain = f"CASE WHEN s_{l} = {best} THEN '{l}' ELSE {pred_chain} END"
    # 64-bit simhash: bit j <- nibble j of md5(tok) for j<32, nibble j-32 of
    # md5('x:' || tok) for j>=32; band g = bits [16g, 16g+16) as an int.
    hi = "('8','9','a','b','c','d','e','f')"
    _h1, _h2 = "md5(tok)", "md5('x:' || tok)"
    simhash_sums = ", ".join(
        f"sum(CASE WHEN substr({_h1 if j < 32 else _h2}, "
        f"{(j % 32) + 1}, 1) IN {hi} THEN 1 ELSE -1 END) AS s{j}"
        for j in range(64)
    )
    simhash_bands = ", ".join(
        "CAST(" + " + ".join(
            f"(CASE WHEN s{g * 16 + r} > 0 THEN {1 << r} ELSE 0 END)" for r in range(16)
        ) + f" AS BIGINT) AS band{g}"
        for g in range(4)
    )

    return {
        "q3_shipping_priority": """
            SELECT o_orderkey, o_orderpriority,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM customer
            JOIN orders ON c_custkey = o_custkey
            JOIN lineitem ON o_orderkey = l_orderkey
            WHERE c_mktsegment = 'BUILDING'
            GROUP BY o_orderkey, o_orderpriority
            ORDER BY revenue DESC, o_orderkey ASC LIMIT 10
        """,
        "q5_nation_revenue": """
            SELECT r_name, n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   count(*) AS n_lines
            FROM region
            JOIN nation ON r_regionkey = n_regionkey
            JOIN customer ON n_nationkey = c_nationkey
            JOIN orders ON c_custkey = o_custkey
            JOIN lineitem ON o_orderkey = l_orderkey
            GROUP BY r_name, n_name
        """,
        "a12_rollup": """
            SELECT o_orderstatus, o_orderpriority,
                   count(*) AS n_orders,
                   CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                     AS BIGINT) AS revenue_cents,
                   grouping(o_orderstatus) * 2 + grouping(o_orderpriority)
                     AS gid
            FROM orders
            GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
        """,
        "a13_pivot": """
            SELECT user_id,
                   CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
                   CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view,
                   CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
                   CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
                   CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error
            FROM events GROUP BY user_id
        """,
        "w8_ntile": """
            SELECT event_id, event_type,
                   ntile(4) OVER w AS quartile,
                   round(percent_rank() OVER w, 6) AS pr,
                   round(cume_dist() OVER w, 6) AS cd
            FROM events
            WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
        """,
        "w9_range_frame": """
            SELECT event_id, user_id,
                   count(*) OVER w AS n_1h,
                   round(sum(value) OVER w, 6) AS sum_1h
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                         RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        """,
        "a15_moments": """
            SELECT event_type,
                   round(stddev_samp(value), 6) AS sd,
                   round(var_samp(value), 6) AS var,
                   round(covar_samp(value, epoch_us(ts) / 1e6 - 1.7e9), 4)
                     AS cov_t,
                   count(*) AS n
            FROM events GROUP BY event_type
        """,
        "u3_set_ops": """
            WITH en AS (SELECT DISTINCT source FROM documents WHERE lang = 'en'),
                 de AS (SELECT DISTINCT source FROM documents WHERE lang = 'de'),
                 gap AS (SELECT source, 'gap' AS op FROM (SELECT source FROM de EXCEPT SELECT source FROM en)),
                 shared AS (SELECT source, 'shared' AS op FROM (SELECT source FROM de INTERSECT SELECT source FROM en))
            SELECT op, count(*) AS n,
                   string_agg(source, ',' ORDER BY source) AS members
            FROM (SELECT * FROM gap UNION ALL SELECT * FROM shared)
            GROUP BY op
        """,
        "w1_lag_delta": """
            SELECT user_id, event_id, round(value - prev_value, 6) AS delta
            FROM (
              SELECT user_id, event_id, value,
                     lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value
              FROM events
            ) WHERE prev_value IS NOT NULL AND user_id <= 50
        """,
        "c5_json_extract": """
            SELECT event_type,
                   CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
                   count(*) AS n
            FROM events GROUP BY event_type
        """,
        "i_issue_predicates": _issue_predicates_sql(),
        # split_retries math (operators/extract.py): eff status via the
        # attempt-indexed recover rule; backoff closed forms per
        # retry_count in {0,1,2} with base_delay=2.0, Retry-After='7'
        "c15_requeue_math": """
            WITH f AS (
              SELECT 'https://r.example/p' || CAST(event_id AS VARCHAR) AS url,
                     event_id AS seq,
                     CAST(event_id % 3 AS INT) AS retry_count,
                     CASE WHEN event_id % 4 = 0 THEN 429 ELSE 200 END AS status_code,
                     CASE WHEN event_id % 8 = 0 THEN '7' ELSE '' END AS retry_after,
                     CASE WHEN event_id % 12 = 4 THEN 2 ELSE 0 END AS recover_after
              FROM events
            ), e AS (
              SELECT *, CASE WHEN recover_after > 0 AND retry_count >= recover_after
                             THEN 200 ELSE status_code END AS eff
              FROM f
            )
            SELECT url, seq, 'record' AS path, CAST(eff AS INT) AS status,
                   round(CASE WHEN retry_after = '7' THEN retry_count * 7.0
                              ELSE CASE retry_count WHEN 0 THEN 0.0
                                   WHEN 1 THEN 2.0 ELSE 6.0 END END, 2) AS backoff,
                   CAST(NULL AS INT) AS ready_wave, retry_count
            FROM e WHERE NOT (eff = 429 AND retry_count < 3)
            UNION ALL
            SELECT url, seq, 'requeue' AS path, CAST(NULL AS INT) AS status,
                   CAST(NULL AS DOUBLE) AS backoff,
                   CAST(6 AS INT) AS ready_wave,
                   CAST(retry_count + 1 AS INT) AS retry_count
            FROM e WHERE eff = 429 AND retry_count < 3
        """,
        # apply_politeness (operators/frontier.py): host h = event_id%7,
        # crawl_delay = h%4, quota = greatest(floor(10/delay), 1),
        # unlimited when delay<=0; FIFO by seq within host
        "p1_politeness_quota": """
            WITH f AS (
              SELECT 'h' || CAST(event_id % 7 AS VARCHAR) || '.example' AS host,
                     event_id AS seq,
                     CAST(event_id % 7 AS INT) % 4 AS delay,
                     row_number() OVER (PARTITION BY event_id % 7
                                        ORDER BY event_id) AS rn
              FROM events
            ), cls AS (
              SELECT host, seq, rn,
                     CASE WHEN delay <= 0 THEN NULL
                          ELSE greatest(CAST(floor(10.0 / delay) AS BIGINT), 1)
                     END AS quota
              FROM f
            )
            SELECT host,
                   count(*) FILTER (WHERE quota IS NULL OR rn <= quota) AS n_selected,
                   max(seq) FILTER (WHERE quota IS NULL OR rn <= quota) AS max_sel_seq,
                   count(*) FILTER (WHERE quota IS NOT NULL AND rn > quota) AS n_deferred,
                   min(seq) FILTER (WHERE quota IS NOT NULL AND rn > quota) AS min_def_seq
            FROM cls GROUP BY host ORDER BY host
        """,
        # site-wide rows reconstruct from the pure-function construction:
        # header policy == domain (doc_id%5): d0 all, d1 no CSP,
        # d2 CSP only, d3/d4 none; unsafe _blank links on doc_id%7=3
        # toward external domain x(doc_id%4); live = doc_id%19<>4;
        # first page per group = min(doc_id) (wave=0, seq=doc_id)
        "i_sitewide_security": """
            WITH doms AS (
              SELECT DISTINCT CAST(doc_id % 5 AS INT) AS k FROM documents
              WHERE doc_id % 19 <> 4
            )
            SELECT 'https://d' || CAST(k AS VARCHAR) || '.example' AS url,
                   'info' AS type, 'Security' AS category,
                   'Security: Missing Content-Security-Policy' AS issue,
                   'Server does not send Content-Security-Policy header. This is a site-wide configuration issue.' AS details
            FROM doms WHERE k IN (1, 3, 4)
            UNION ALL
            SELECT 'https://d' || CAST(k AS VARCHAR) || '.example',
                   'warning', 'Security', 'Security: Missing HSTS Header',
                   'HTTP Strict Transport Security (HSTS) is not enabled. Users effectively can be downgraded to HTTP.'
            FROM doms WHERE k IN (2, 3, 4)
            UNION ALL
            SELECT 'https://d' || CAST(k AS VARCHAR) || '.example',
                   'info', 'Security', 'Security: Missing X-Frame-Options',
                   'Missing X-Frame-Options header can leave the site vulnerable to Clickjacking.'
            FROM doms WHERE k IN (2, 3, 4)
            UNION ALL
            SELECT 'https://d' || CAST(CAST(m AS INT) % 5 AS VARCHAR) || '.example/p' || CAST(m AS VARCHAR),
                   'info', 'Security', 'Security: Unsafe Cross-Origin Links',
                   'External domain x' || CAST(CAST(m AS INT) % 4 AS VARCHAR)
                     || '.example opens in new tab without rel="noopener" (Best practice recommendation)'
            FROM (
              SELECT CAST(doc_id % 4 AS INT) AS xk, min(doc_id) AS m
              FROM documents
              WHERE doc_id % 7 = 3 AND doc_id % 19 <> 4
              GROUP BY 1
            )
        """,
        "u4_links_dedup": """
            WITH links AS (
              SELECT 's' || CAST(l_orderkey % 500 AS VARCHAR) AS source_url,
                     't' || CAST(l_partkey % 200 AS VARCHAR) AS target_url,
                     l_linenumber AS pos, l_orderkey AS okey
              FROM lineitem
            ),
            k AS (
              SELECT source_url, pos,
                     row_number() OVER (PARTITION BY source_url, target_url
                                        ORDER BY okey, pos) AS rn
              FROM links
            )
            SELECT source_url, count(*) AS n_targets,
                   CAST(sum(pos) AS BIGINT) AS sum_keeper_pos
            FROM k WHERE rn = 1 GROUP BY source_url
        """,
        "c2_normalize_compare": """
            WITH u AS (
              SELECT 'https://N.Example/p' || CAST(o_orderkey % 300 AS VARCHAR) ||
                     CASE CAST(o_orderkey % 4 AS INT)
                       WHEN 1 THEN '/' WHEN 2 THEN '#frag' WHEN 3 THEN '/#a'
                       ELSE '' END AS url
              FROM orders
            ),
            n AS (
              SELECT regexp_replace(lower(url), '#.*$', '') AS lu FROM u
            )
            -- _normalize_url_for_comparison (issue_detector.py:61-86):
            -- rstrip ALL path slashes (root included), keep the query
            SELECT CASE WHEN contains(lu, '?')
                        THEN regexp_replace(regexp_replace(lu, '\\?.*$', ''), '/+$', '')
                             || '?' || regexp_extract(lu, '\\?(.*)$', 1)
                        ELSE regexp_replace(lu, '/+$', '') END AS norm_url,
                   count(*) AS n_variants
            FROM n GROUP BY 1
        """,
        "c12_hreflang_codes": _c12_sql(),
        "i_sitemap_issues": """
            WITH sm0 AS (
              SELECT 'https://s.example/p' || CAST(p_partkey AS VARCHAR) ||
                     CASE WHEN p_partkey % 8 = 0 THEN '/' ELSE '' END AS sitemap_url
              FROM part WHERE p_partkey % 4 = 0
            ),
            sm AS (
              SELECT sitemap_url,
                     regexp_replace(regexp_replace(lower(sitemap_url), '#.*$', ''), '/+$', '') AS _k
              FROM sm0
            ),
            pg AS (
              SELECT lower('https://s.example/p' || CAST(p_partkey AS VARCHAR)) AS _k,
                     'x' AS crawled,
                     CASE CAST(p_partkey % 7 AS INT) WHEN 1 THEN 404 WHEN 2 THEN 301
                          WHEN 4 THEN 0 ELSE 200 END AS status,
                     CASE WHEN p_partkey % 11 = 3 THEN 'noindex' ELSE '' END AS robots,
                     CASE WHEN p_partkey % 13 = 2 THEN 'https://s.example/' ELSE '' END AS canonical
              FROM part WHERE p_partkey % 3 = 0
            ),
            c AS (
              SELECT sm.sitemap_url AS url, pg.status, pg.canonical,
                     CASE WHEN pg.crawled IS NULL THEN 'not_crawled'
                          WHEN pg.status >= 400 OR pg.status = 0 THEN 'error'
                          WHEN pg.status >= 300 AND pg.status < 400 THEN 'redirect'
                          WHEN contains(pg.robots, 'noindex') THEN 'noindex'
                          WHEN len(pg.canonical) > 0 AND
                               regexp_replace(regexp_replace(lower(pg.canonical), '#.*$', ''), '/+$', '') <> sm._k
                               THEN 'non_canonical'
                          ELSE 'valid' END AS cls
              FROM sm LEFT JOIN pg ON sm._k = pg._k
            )
            SELECT url,
                   CASE WHEN cls = 'error' THEN 'error' ELSE 'warning' END AS type,
                   'Sitemap' AS category,
                   CASE cls WHEN 'error' THEN 'Sitemap: Broken URL'
                        WHEN 'redirect' THEN 'Sitemap: Redirecting URL'
                        WHEN 'noindex' THEN 'Sitemap: Noindexed URL'
                        ELSE 'Sitemap: Non-Canonical URL' END AS issue,
                   CASE cls
                        WHEN 'error' THEN 'URL returns ' ||
                          CASE status WHEN 404 THEN 'Not Found'
                               ELSE 'HTTP ' || CAST(status AS VARCHAR) || ' Error' END ||
                          ' (Status ' || CAST(status AS VARCHAR) || ')'
                        WHEN 'redirect' THEN 'URL redirects (' || CAST(status AS VARCHAR) ||
                          ') - update sitemap with final destination'
                        WHEN 'noindex' THEN 'URL has noindex directive - remove from sitemap or remove noindex'
                        ELSE 'URL canonicalises to ' || canonical || ' - update sitemap with canonical URL'
                   END AS details
            FROM c WHERE cls IN ('error', 'redirect', 'noindex', 'non_canonical')
        """,
        "s2_size_gate": """
            WITH f AS (
              SELECT 'https://z.example/p' || CAST(event_id AS VARCHAR) AS url,
                     CAST(event_id AS BIGINT) AS seq,
                     event_id % 9 = 5 AS failed,
                     CAST(1000 + (event_id % 7) * 300000 AS BIGINT) AS size0
              FROM events
            )
            SELECT url, seq,
                   CAST(CASE WHEN failed THEN 0
                             WHEN size0 > 1000000 THEN 0 ELSE 200 END AS INT) AS status_code,
                   CASE WHEN NOT failed AND size0 > 1000000 THEN 0 ELSE size0 END AS size,
                   CASE WHEN failed THEN 'dns failure'
                        WHEN size0 > 1000000
                        THEN 'File too large: ' || CAST(size0 AS VARCHAR) || ' bytes'
                        ELSE NULL END AS error
            FROM f
        """,
        "f9_budget_cut": """
            SELECT 'https://b.example/p' || CAST(event_id AS VARCHAR) AS url,
                   CAST(event_id AS BIGINT) AS seq
            FROM events WHERE event_id % 3 <> 1
            ORDER BY seq LIMIT 500
        """,
        "a7_sitemap_health": """
            WITH sm0 AS (
              SELECT 'https://s.example/p' || CAST(p_partkey AS VARCHAR) ||
                     CASE WHEN p_partkey % 8 = 0 THEN '/' ELSE '' END AS sitemap_url
              FROM part WHERE p_partkey % 4 = 0
            ),
            sm AS (
              SELECT sitemap_url,
                     regexp_replace(regexp_replace(lower(sitemap_url), '#.*$', ''), '/+$', '') AS _k
              FROM sm0
            ),
            pg AS (
              SELECT lower('https://s.example/p' || CAST(p_partkey AS VARCHAR)) AS _k,
                     'https://s.example/p' || CAST(p_partkey AS VARCHAR) AS crawled_url,
                     CASE CAST(p_partkey % 7 AS INT) WHEN 1 THEN 404 WHEN 2 THEN 301 ELSE 200 END AS status,
                     CASE WHEN p_partkey % 11 = 3 THEN 'noindex' ELSE '' END AS robots,
                     CASE WHEN p_partkey % 13 = 2 THEN 'https://s.example/' ELSE '' END AS canonical
              FROM part WHERE p_partkey % 3 = 0
            ),
            j AS (SELECT sm._k, pg.crawled_url, pg.status, pg.robots, pg.canonical
                  FROM sm LEFT JOIN pg ON sm._k = pg._k),
            c AS (
              SELECT CASE WHEN crawled_url IS NULL THEN 'not_crawled'
                          WHEN status >= 400 OR status = 0 THEN 'error'
                          WHEN status >= 300 AND status < 400 THEN 'redirect'
                          WHEN contains(robots, 'noindex') THEN 'noindex'
                          WHEN len(canonical) > 0 AND
                               regexp_replace(regexp_replace(lower(canonical), '#.*$', ''), '/+$', '') <> _k
                               THEN 'non_canonical'
                          ELSE 'valid' END AS cls
              FROM j
            )
            SELECT count(*) AS total,
                   CAST(sum(CASE WHEN cls = 'valid' THEN 1 ELSE 0 END) AS BIGINT) AS valid,
                   CAST(sum(CASE WHEN cls = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS errors,
                   CAST(sum(CASE WHEN cls = 'redirect' THEN 1 ELSE 0 END) AS BIGINT) AS redirects,
                   CAST(sum(CASE WHEN cls = 'noindex' THEN 1 ELSE 0 END) AS BIGINT) AS noindex,
                   CAST(sum(CASE WHEN cls = 'non_canonical' THEN 1 ELSE 0 END) AS BIGINT) AS non_canonical,
                   CAST(sum(CASE WHEN cls = 'not_crawled' THEN 1 ELSE 0 END) AS BIGINT) AS not_crawled
            FROM c
        """,
        "j4_links_to_redirects": """
            WITH links AS (
              SELECT 'https://g.example/o' || CAST(l_orderkey AS VARCHAR) AS source_url,
                     'https://g.example/p' || CAST(l_partkey AS VARCHAR) ||
                     CASE CAST(l_linenumber % 3 AS INT) WHEN 1 THEN '/' WHEN 2 THEN '#f' ELSE '' END AS target_url
              FROM lineitem
            ),
            pages AS (
              SELECT 'https://g.example/p' || CAST(p_partkey AS VARCHAR) AS url,
                     CASE CAST(p_partkey % 10 AS INT) WHEN 3 THEN 301 WHEN 7 THEN 308 ELSE 200 END AS status
              FROM part
            ),
            redirecting AS (
              SELECT regexp_replace(regexp_replace(lower(url), '#.*$', ''), '/+$', '') AS _t,
                     url AS redirect_url, status
              FROM pages WHERE status >= 300 AND status < 400
            ),
            l2 AS (
              SELECT source_url, target_url,
                     regexp_replace(regexp_replace(lower(target_url), '#.*$', ''), '/+$', '') AS _t
              FROM links
            ),
            j AS (SELECT l2.source_url, l2.target_url, r.status AS tstat
                  FROM l2 JOIN redirecting r USING (_t))
            SELECT source_url AS url, 'warning' AS type, 'Links' AS category,
                   'Links: Internal Links to Redirects' AS issue,
                   CAST(count(*) AS VARCHAR) || ' internal links point to redirecting URLs: ' ||
                   array_to_string(list_slice(
                     list(target_url || ' (' || CAST(tstat AS VARCHAR) || ')'
                          ORDER BY target_url, tstat), 1, 3), ', ') ||
                   CASE WHEN count(*) > 3
                        THEN ', and ' || CAST(count(*) - 3 AS VARCHAR) || ' more'
                        ELSE '' END AS details,
                   count(*) AS n_links_to_redirects,
                   string_agg(DISTINCT target_url, ',' ORDER BY target_url) AS redirect_targets
            FROM j GROUP BY source_url
        """,
        "j6_hreflang_reciprocity": """
            WITH e AS (
              SELECT 'https://h.example/' || CAST(doc_id AS VARCHAR) AS source, 'en' AS lang,
                     'https://h.example/' || CAST(CASE WHEN doc_id % 2 = 0 THEN doc_id + 1
                                                       ELSE doc_id - 1 END AS VARCHAR) AS target
              FROM documents
              UNION ALL
              SELECT 'https://h.example/' || CAST(doc_id AS VARCHAR), 'de',
                     'https://h.example/' || CAST(doc_id + 3 AS VARCHAR)
              FROM documents WHERE doc_id % 5 = 0
            ),
            pg AS (SELECT DISTINCT 'https://h.example/' || CAST(doc_id AS VARCHAR) AS url
                   FROM documents),
            -- reference gate (issue_detector.py:1910): only edges whose
            -- target itself carries hreflangs (= is a crawled page here)
            e2 AS (SELECT e.* FROM e JOIN pg ON e.target = pg.url),
            back AS (SELECT DISTINCT source AS b_source, target AS b_target FROM e)
            SELECT e2.source AS url, 'warning' AS type, 'International' AS category,
                   'Hreflang: Missing Reciprocal Link' AS issue,
                   'Page points to ' || e2.target || ' (' || e2.lang ||
                   ') but target does not point back' AS details,
                   e2.target AS hreflang_target, e2.lang AS lang
            FROM e2 LEFT JOIN back ON e2.target = back.b_source AND e2.source = back.b_target
            WHERE back.b_source IS NULL
        """,
        "j7_dup_candidates": """
            WITH p AS (
              SELECT 'https://c.example/' || CAST(doc_id AS VARCHAR) AS url,
                     lower(trim('Title ' || substr(text, 1, 10 + CAST(doc_id % 40 AS INT)))) AS t,
                     lower(trim('Desc ' || substr(text, 20, 30))) AS d,
                     lower(trim(substr(text, 5, 12))) AS h
              FROM documents WHERE doc_id % 97 = 0
            ),
            f AS (SELECT url, len(t) AS lt, len(d) AS ld, len(h) AS lh
                  FROM p WHERE len(t) > 0 AND len(d) > 0 AND len(h) > 0),
            b AS (
              SELECT url, lt, ld, lh,
                     CAST(floor(ln(CAST(greatest(lt, 1) AS DOUBLE))
                          / ln(1.0 / (((0.85 - 0.65) / 0.35) / (2.0 - (0.85 - 0.65) / 0.35)))) AS INT) AS band,
                     CAST(floor(ln(CAST(greatest(ld, 1) AS DOUBLE))
                          / ln(1.0 / (((0.85 - 0.65) / 0.35) / (2.0 - (0.85 - 0.65) / 0.35)))) AS INT) AS dband
              FROM f
            ),
            l AS (SELECT url, lt, ld, lh, band + x.o AS probe, dband + y.o AS dprobe
                  FROM b, (VALUES (-1), (0), (1)) x(o), (VALUES (-1), (0), (1)) y(o))
            SELECT DISTINCT a.url AS url_a, r.url AS url_b
            FROM l a JOIN b r ON a.probe = r.band AND a.dprobe = r.dband AND a.url < r.url
              AND 2.0 * least(a.lt, r.lt) >= ((0.85 - 0.65) / 0.35) * (a.lt + r.lt) - 1e-9
              AND 2.0 * least(a.ld, r.ld) >= ((0.85 - 0.65) / 0.35) * (a.ld + r.ld) - 1e-9
              AND 2.0 * least(a.lh, r.lh) >= ((0.85 - 0.80) / 0.20) * (a.lh + r.lh) - 1e-9
        """,
        "c14_backoff_math": """
            WITH r AS (
              SELECT event_type,
                     CAST(event_id % 5 AS INT) AS rc,
                     CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) % 2 = 1
                          THEN CAST(json_extract_string(props, '$.k') AS DOUBLE) END AS ra
              FROM events
            )
            SELECT event_type,
                   round(sum(CASE WHEN rc <= 0 THEN 0.0 ELSE
                     list_sum(list_transform(range(0, rc),
                              a -> least(coalesce(ra, 1.0 * pow(2, a)), 30.0)))
                   END), 4) AS total_backoff,
                   count(*) AS n
            FROM r GROUP BY event_type
        """,
        "a4_array_filter": """
            SELECT vec_id,
                   len(list_filter(embedding, v -> v < 0)) AS n_negative,
                   len(embedding) AS dim
            FROM embeddings
        """,
        "a1_stats_counts": """
            SELECT count(*) AS n_rows,
                   count(DISTINCT l_orderkey) AS n_orders,
                   max(l_linenumber) AS max_line,
                   round(sum(l_quantity), 2) AS sum_qty
            FROM lineitem
        """,
        "q1_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   count(*) AS count_order
            FROM lineitem
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "j1_status_lookup_join": """
            SELECT c_mktsegment, count(*) AS n_orders,
                   round(sum(o_totalprice), 2) AS sum_price
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment
        """,
        "j2_reverse_links": """
            SELECT o_custkey,
                   string_agg(CAST(o_orderkey AS VARCHAR), ',' ORDER BY CAST(o_orderkey AS VARCHAR)) AS orderkeys,
                   count(*) AS n
            FROM orders WHERE o_custkey <= 50
            GROUP BY o_custkey
        """,
        "j3_classify_join": """
            WITH flags AS (
              SELECT l_orderkey, max(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS has_r
              FROM lineitem GROUP BY l_orderkey
            )
            SELECT CASE WHEN f.l_orderkey IS NULL THEN 'no_lines'
                        WHEN f.has_r = 1 THEN 'returned'
                        ELSE 'clean' END AS order_class,
                   count(*) AS n
            FROM orders o LEFT JOIN flags f ON o.o_orderkey = f.l_orderkey
            GROUP BY 1
        """,
        "j5_broken_sources": """
            SELECT o_orderpriority,
                   count(DISTINCT l_orderkey) AS n_broken,
                   count(*) AS n_lines
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE l_returnflag = 'R'
            GROUP BY o_orderpriority
        """,
        "j8_anti_join": """
            SELECT c_mktsegment, count(*) AS n_customers_no_f_orders
            FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
            GROUP BY c_mktsegment
        """,
        "w3_topk_per_group": """
            SELECT o_custkey, rk, o_orderkey, round(o_totalprice, 2) AS price
            FROM (
              SELECT o_custkey, o_orderkey, o_totalprice,
                     row_number() OVER (PARTITION BY o_custkey
                                        ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
              FROM orders
            ) WHERE rk <= 3 AND o_custkey <= 100
        """,
        "a10_first_per_group": """
            SELECT user_id, event_id, event_type AS first_type
            FROM (
              SELECT user_id, event_id, event_type,
                     row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rk
              FROM events
            ) WHERE rk = 1
        """,
        "u2_union_dedup": """
            SELECT count(*) AS n_distinct_keys FROM (
              SELECT DISTINCT k FROM (
                SELECT o_custkey AS k FROM orders
                UNION ALL SELECT c_custkey AS k FROM customer
              )
            )
        """,
        "f7_regex_filters": """
            SELECT lang, count(*) AS n
            FROM documents
            WHERE regexp_matches(text, 'spark') AND NOT regexp_matches(text, 'slow')
            GROUP BY lang
        """,
        "c3_signature_counts": r"""
            SELECT regexp_replace(source, '\d+', 'N', 'g') AS sig, count(*) AS n
            FROM documents GROUP BY 1
        """,
        "a9_bigram_topk": rf"""
            WITH b AS (
              SELECT unnest(list_transform(range(1, greatest(len({toks}) - 1, 0) + 1),
                            i -> {toks}[i] || ' ' || {toks}[i+1])) AS bigram
              FROM documents
            )
            SELECT bigram, count(*) AS n FROM b
            GROUP BY bigram ORDER BY n DESC, bigram ASC LIMIT 10
        """,
        "w6_top_docs_cap": """
            SELECT doc_id, n_chars FROM documents
            ORDER BY n_chars DESC, doc_id ASC LIMIT 100
        """,
        "dedup_fingerprint": r"""
            SELECT doc_id,
                   md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fingerprint
            FROM documents
        """,
        "dedup_minhash": rf"""
            WITH s AS (SELECT doc_id, {shingles} AS sh FROM documents)
            SELECT doc_id,
                   list_min(list_transform(sh, x -> md5('0:' || x))) AS mh0,
                   list_min(list_transform(sh, x -> md5('1:' || x))) AS mh1,
                   list_min(list_transform(sh, x -> md5('2:' || x))) AS mh2,
                   list_min(list_transform(sh, x -> md5('3:' || x))) AS mh3
            FROM s WHERE len(sh) > 0
        """,
        "dedup_simhash": rf"""
            WITH t AS (SELECT doc_id, unnest({toks}) AS tok FROM documents),
            agg AS (SELECT doc_id, {simhash_sums} FROM t GROUP BY doc_id),
            bands AS (SELECT doc_id, {simhash_bands} FROM agg)
            SELECT doc_id, band0, band1, band2, band3,
                   printf('%04x%04x%04x%04x', band3, band2, band1, band0) AS simhash
            FROM bands
        """,
        "dedup_simhash_pairs": rf"""
            WITH t AS (SELECT doc_id, unnest({toks}) AS tok FROM documents),
            agg AS (SELECT doc_id, {simhash_sums} FROM t GROUP BY doc_id),
            bands AS (SELECT doc_id, {simhash_bands} FROM agg),
            cand AS (
              SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM bands a JOIN bands b
                ON a.doc_id < b.doc_id
               AND (a.band0 = b.band0 OR a.band1 = b.band1
                    OR a.band2 = b.band2 OR a.band3 = b.band3)
            )
            SELECT doc_a, doc_b,
                   CAST(bit_count(xor(a.band0, b.band0)) + bit_count(xor(a.band1, b.band1))
                      + bit_count(xor(a.band2, b.band2)) + bit_count(xor(a.band3, b.band3))
                    AS INTEGER) AS hamming
            FROM cand
            JOIN bands a ON a.doc_id = cand.doc_a
            JOIN bands b ON b.doc_id = cand.doc_b
            WHERE bit_count(xor(a.band0, b.band0)) + bit_count(xor(a.band1, b.band1))
                + bit_count(xor(a.band2, b.band2)) + bit_count(xor(a.band3, b.band3)) <= 3
        """,
        "dedup_jaccard_pairs": rf"""
            WITH s AS (
              SELECT doc_id, list_distinct({shingles}) AS sh FROM documents
            ),
            nz AS (SELECT doc_id, sh FROM s WHERE len(sh) > 0),
            inv AS (SELECT doc_id, unnest(sh) AS shingle FROM nz),
            cold AS (SELECT shingle FROM inv GROUP BY shingle HAVING count(*) <= 1000),
            invc AS (SELECT inv.doc_id, inv.shingle FROM inv JOIN cold USING (shingle)),
            cand AS (
              SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM invc a JOIN invc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            )
            SELECT doc_a, doc_b,
                   round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
                         / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))), 6) AS jaccard
            FROM cand
            JOIN nz sa ON sa.doc_id = cand.doc_a
            JOIN nz sb ON sb.doc_id = cand.doc_b
            WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
                  / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) >= 0.4
        """,
        "sim_cosine_topk": """
            WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
            SELECT vec_id,
                   round(
                     list_sum(list_transform(range(1, len(embedding) + 1),
                              i -> CAST(embedding[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)))
                     / (sqrt(list_sum(list_transform(embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
                        * sqrt(list_sum(list_transform(qe, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))),
                   6) AS cos_sim
            FROM embeddings, q
            ORDER BY cos_sim DESC, vec_id ASC LIMIT 10
        """,
        "text_tokens": rf"""
            SELECT doc_id,
                   len({toks}) AS n_words,
                   CAST(ceil(len(regexp_replace(text, '\s+', '', 'g')) / 4.0) AS BIGINT) AS n_subword_est
            FROM documents
        """,
        "text_quality": rf"""
            SELECT doc_id,
                   len(text) AS n_chars_obs,
                   len({toks}) AS n_words,
                   round(len(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                         / greatest(len(text), 1), 4) AS alpha_ratio,
                   round(len(list_intersect(list_distinct({toks}),
                         [{', '.join(repr(s) for s in STOP)}]))
                         / greatest(len(list_distinct({toks})), 1), 4) AS stopword_ratio,
                   round(len(regexp_replace(text, '\s+', '', 'g'))
                         / greatest(len({toks}), 1), 4) AS mean_word_len
            FROM documents
        """,
        "text_langid": f"""
            WITH scored AS (
              SELECT doc_id,
                     {', '.join(f"{lang_score[l]} AS s_{l}" for l in langs)}
              FROM documents
            )
            SELECT CASE WHEN {best} = 0 THEN 'unknown' ELSE {pred_chain} END AS pred_lang,
                   count(*) AS n
            FROM scored GROUP BY 1
        """,
        "events_tumbling_window": """
            SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
                   event_type, count(*) AS n, round(sum(value), 4) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "events_sessionize": """
            WITH g AS (
              SELECT user_id, event_id, ts,
                     CASE WHEN lag(ts) OVER w IS NULL
                          OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                          THEN 1 ELSE 0 END AS newsess
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ),
            s AS (
              SELECT user_id,
                     sum(newsess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                        ROWS UNBOUNDED PRECEDING) AS sess
              FROM g
            )
            SELECT user_id, CAST(max(sess) AS BIGINT) AS n_sessions,
                   count(*) AS n_events
            FROM s GROUP BY user_id
        """,
        # session_window merge rule: an event joins the session iff it
        # starts strictly before prev_ts + gap, so a NEW session starts
        # at gap >= 1800 (contrast events_sessionize's strict >)
        "events_session_window": """
            WITH g AS (
              SELECT user_id, ts,
                     CASE WHEN lag(ts) OVER w IS NULL
                          OR epoch(ts) - epoch(lag(ts) OVER w) >= 1800
                          THEN 1 ELSE 0 END AS newsess
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            )
            SELECT user_id, CAST(sum(newsess) AS BIGINT) AS n_sessions,
                   count(*) AS n_events
            FROM g GROUP BY user_id
        """,
        "text_winnow": """
            WITH t AS (
              SELECT doc_id, regexp_extract_all(lower(text), '\\w+') AS toks
              FROM documents
            ), g AS (
              SELECT doc_id,
                     CASE WHEN len(toks) >= 5 THEN
                       list_transform(range(1, len(toks) - 3),
                                      i -> md5(array_to_string(toks[i:i+4], ' ')))
                     ELSE [] END AS grams
              FROM t
            ), w AS (
              SELECT doc_id,
                     CASE WHEN len(grams) >= 4 THEN
                       list_distinct(list_transform(range(1, len(grams) - 2),
                                                    j -> list_min(grams[j:j+3])))
                     WHEN len(grams) > 0 THEN [list_min(grams)]
                     ELSE [] END AS fps
              FROM g
            )
            SELECT doc_id,
                   array_to_string(list_sort(fps), ',') AS fingerprints_csv,
                   CAST(len(fps) AS INT) AS n_fp
            FROM w
        """,
        # round-4 on both sides (see operators/similarity.py): immune to
        # summation-order epsilon between engines at the threshold
        "sim_neardup_exact": """
            WITH raw AS (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                     list_sum(list_transform(range(1, len(a.embedding) + 1),
                              i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
                     / (sqrt(list_sum(list_transform(a.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
                        * sqrt(list_sum(list_transform(b.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))))
                     AS cs
              FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            )
            SELECT id_a, id_b, round(cs, 6) AS cos_sim FROM raw WHERE cs >= 0.4
        """,
        # IVF-Flat replay: same deterministic quantizer (16 lowest-id
        # vectors), round-6 argmax-cosine assignment (ties -> lowest
        # cid), 4 probed lists, exact re-rank — mirrors
        # operators/similarity.py:ivf_topk step for step
        "sim_ivf_topk": """
            WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
            cent AS (
              SELECT vec_id AS cid, embedding AS ce
              FROM embeddings ORDER BY vec_id LIMIT 16
            ),
            asg AS (
              SELECT vec_id, cid FROM (
                SELECT e.vec_id, c.cid,
                       row_number() OVER (
                         PARTITION BY e.vec_id
                         ORDER BY round(
                           list_sum(list_transform(range(1, len(e.embedding) + 1),
                                    i -> CAST(e.embedding[i] AS DOUBLE) * CAST(c.ce[i] AS DOUBLE)))
                           / (sqrt(list_sum(list_transform(e.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
                              * sqrt(list_sum(list_transform(c.ce, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))),
                         6) DESC, c.cid ASC) AS rn
                FROM embeddings e, cent c) WHERE rn = 1
            ),
            probe AS (
              SELECT cid FROM cent, q
              ORDER BY round(
                list_sum(list_transform(range(1, len(ce) + 1),
                         i -> CAST(ce[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)))
                / (sqrt(list_sum(list_transform(ce, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
                   * sqrt(list_sum(list_transform(qe, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))),
              6) DESC, cid ASC LIMIT 4
            )
            SELECT e.vec_id,
                   round(
                     list_sum(list_transform(range(1, len(e.embedding) + 1),
                              i -> CAST(e.embedding[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)))
                     / (sqrt(list_sum(list_transform(e.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
                        * sqrt(list_sum(list_transform(qe, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))),
                   6) AS cos_sim
            FROM embeddings e
            JOIN asg USING (vec_id) JOIN probe USING (cid), q
            ORDER BY cos_sim DESC, vec_id ASC LIMIT 10
        """,
        "q6_forecast_revenue": """
            SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
                   count(*) AS n_lines
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1998-01-01'
              AND l_discount BETWEEN 0.05 AND 0.07
              AND l_quantity < 24
        """,
        "w2_homepage": """
            WITH pages AS (
              SELECT 'https://w.example' || CASE
                       WHEN o_orderkey % 5 = 0 THEN
                         '/c' || CAST(o_orderkey % 9 AS VARCHAR)
                         || '/post-' || CAST(o_orderkey AS VARCHAR)
                       WHEN o_orderkey % 5 = 1 THEN
                         '/p' || CAST(o_orderkey % 97 AS VARCHAR)
                       ELSE '/deep/a/b/' || CAST(o_orderkey AS VARCHAR) END AS url,
                     CASE WHEN o_orderkey % 7 = 1 THEN 404 ELSE 200 END AS status_code,
                     o_orderkey % 11 <> 3 AS is_internal
              FROM orders
            )
            SELECT url, status_code FROM pages
            WHERE status_code = 200 AND is_internal
            ORDER BY length(regexp_replace(url, '^https?://[^/]*', '')) ASC,
                     url ASC
            LIMIT 1
        """,
        "dedup_clusters": """
            WITH RECURSIVE nd AS (SELECT count(*) AS n FROM documents),
            e0 AS (
              SELECT CAST(o_orderkey % (SELECT n FROM nd) AS BIGINT) AS a,
                     CAST((o_orderkey * 7 + 3) % (SELECT n FROM nd) AS BIGINT) AS b
              FROM orders WHERE o_orderkey % 149 = 0
            ),
            e1 AS (SELECT a, b FROM e0 WHERE a <> b),
            e AS (SELECT a AS s, b AS d FROM e1 UNION SELECT b, a FROM e1),
            nodes AS (SELECT doc_id AS id FROM documents UNION SELECT s FROM e),
            reach(id, r) AS (
              SELECT id, id FROM nodes
              UNION
              SELECT reach.id, e.d FROM reach JOIN e ON e.s = reach.r
            )
            SELECT id AS doc_id, min(r) AS cluster,
                   min(r) = id AS is_keeper
            FROM reach GROUP BY id
        """,
        "pipe_stratified_sample": f"""
            WITH s AS (
              SELECT doc_id, lang,
                     substr(md5('strat:' || CAST(doc_id AS VARCHAR)), 1, 4)
                       AS sample_key
              FROM documents)
            SELECT doc_id, lang, sample_key FROM s
            WHERE sample_key < CASE lang
              WHEN 'en' THEN '{_thr(0.5)}' WHEN 'zh' THEN '{_thr(0.25)}'
              WHEN 'de' THEN '{_thr(1.0)}' WHEN 'fr' THEN '{_thr(0.1)}'
              ELSE '{_thr(0.05)}' END
        """,
        "pipe_chunk_packing": rf"""
            WITH t AS (
              SELECT doc_id, CAST(len({toks}) AS BIGINT) AS n_tokens
              FROM documents),
            c AS (
              SELECT doc_id, n_tokens,
                     CAST(COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                          0) AS BIGINT) AS start_off
              FROM t)
            SELECT doc_id, n_tokens, start_off,
                   start_off // 512 AS chunk_first,
                   (start_off + greatest(n_tokens, 1) - 1) // 512 AS chunk_last,
                   ((start_off + greatest(n_tokens, 1) - 1) // 512)
                     - (start_off // 512) + 1 AS n_chunks
            FROM c
        """,
        "pipe_contamination": rf"""
            WITH s AS (
              SELECT doc_id, list_distinct({shingles}) AS sh FROM documents
            ),
            nz AS (SELECT doc_id, sh FROM s WHERE len(sh) > 0),
            cinv AS (SELECT doc_id, unnest(sh) AS shingle FROM nz),
            binv AS (
              SELECT doc_id AS bench_id, unnest(sh) AS shingle
              FROM nz WHERE doc_id % 83 = 0),
            g AS (
              SELECT doc_id,
                     count(DISTINCT shingle) AS n_hit_shingles,
                     count(DISTINCT bench_id) AS n_bench_docs
              FROM cinv JOIN binv USING (shingle)
              GROUP BY doc_id)
            SELECT g.doc_id, n_hit_shingles, n_bench_docs,
                   CAST(len(nz.sh) AS BIGINT) AS n_shingles,
                   round(CAST(n_hit_shingles AS DOUBLE) / len(nz.sh), 6)
                     AS contamination_ratio
            FROM g JOIN nz ON nz.doc_id = g.doc_id
            WHERE n_hit_shingles >= 1
        """,
        "text_repetition": rf"""
            WITH t AS (
              SELECT doc_id, {toks_l} AS tk FROM documents
            ),
            lined AS (
              SELECT doc_id, tk,
                     CASE WHEN len(tk) > 0 THEN
                       list_aggr(list_transform(
                         range(0, CAST(ceil(len(tk) / 7.0) AS INT)),
                         i -> array_to_string(tk[i*7+1 : i*7+7], ' ')),
                         'string_agg', chr(10))
                     ELSE '' END AS text2
              FROM t
            ),
            m AS (
              SELECT doc_id, tk,
                     list_filter(list_transform(string_split(text2, chr(10)),
                                                x -> trim(x)), x -> x <> '') AS ln,
                     CASE WHEN len(tk) >= 2 THEN
                       list_transform(range(1, len(tk)),
                                      i -> tk[i] || ' ' || tk[i+1])
                     ELSE [] END AS grams
              FROM lined
            ),
            topg AS (
              SELECT doc_id, gram AS top_2gram, cnt AS top_2gram_count
              FROM (
                SELECT doc_id, gram, count(*) AS cnt,
                       row_number() OVER (PARTITION BY doc_id
                                          ORDER BY count(*) DESC, gram ASC) AS rn
                FROM (SELECT doc_id, unnest(grams) AS gram FROM m)
                GROUP BY doc_id, gram
              ) WHERE rn = 1
            ),
            f AS (
              SELECT m.doc_id,
                     len(ln) AS n_lines,
                     CASE WHEN len(ln) > 0 THEN round(
                       (len(ln) - len(list_distinct(ln))) * 1.0 / len(ln), 6)
                     ELSE 0.0 END AS dup_line_frac,
                     CASE WHEN coalesce(list_sum(list_transform(ln, x -> len(x))), 0) > 0
                       THEN round(
                         (list_sum(list_transform(ln, x -> len(x)))
                          - list_sum(list_transform(list_distinct(ln), x -> len(x))))
                         * 1.0 / list_sum(list_transform(ln, x -> len(x))), 6)
                     ELSE 0.0 END AS dup_line_char_frac,
                     CASE WHEN len(tk) > 0 THEN round(
                       (len(tk) - len(list_distinct(tk))) * 1.0 / len(tk), 6)
                     ELSE 0.0 END AS word_rep_ratio,
                     topg.top_2gram,
                     coalesce(topg.top_2gram_count, 0) AS top_2gram_count,
                     CASE WHEN coalesce(list_sum(list_transform(tk, x -> len(x))), 0) > 0
                          AND topg.top_2gram IS NOT NULL
                       THEN round(topg.top_2gram_count * (len(topg.top_2gram) - 1)
                         * 1.0 / list_sum(list_transform(tk, x -> len(x))), 6)
                     ELSE 0.0 END AS top_2gram_char_frac
              FROM m LEFT JOIN topg ON m.doc_id = topg.doc_id
            )
            SELECT *,
                   (dup_line_frac <= 0.30 AND dup_line_char_frac <= 0.20
                    AND top_2gram_char_frac <= 0.20) AS keep
            FROM f
        """,
        "text_pii": _pii_oracle_sql(),
        "dedup_chunks": f"""
            WITH d AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 7 = 0
                          THEN '{_CHUNK_BOILER} ' || text ELSE text END AS text
              FROM documents
            ),
            tk AS (
              SELECT doc_id, regexp_extract_all(lower(text), '\\w+') AS t
              FROM d
            ),
            ch AS (
              SELECT doc_id, unnest(list_transform(
                       range(0, CAST(len(t) // 8 AS INT)),
                       i -> array_to_string(t[i*8+1 : i*8+8], ' '))) AS chunk
              FROM tk
            ),
            occ AS (
              SELECT doc_id, chunk, count(*) AS cnt FROM ch GROUP BY 1, 2
            ),
            tot AS (SELECT chunk, sum(cnt) AS total FROM occ GROUP BY 1),
            per AS (
              SELECT occ.doc_id,
                     CAST(sum(occ.cnt) AS INT) AS n_chunks,
                     CAST(sum(CASE WHEN tot.total > 1 THEN occ.cnt ELSE 0 END)
                          AS INT) AS n_dup_chunks
              FROM occ JOIN tot USING (chunk) GROUP BY 1
            )
            SELECT d.doc_id,
                   coalesce(per.n_chunks, 0) AS n_chunks,
                   coalesce(per.n_dup_chunks, 0) AS n_dup_chunks,
                   CASE WHEN coalesce(per.n_chunks, 0) > 0
                        THEN round(per.n_dup_chunks * 1.0 / per.n_chunks, 6)
                        ELSE 0.0 END AS dup_chunk_frac,
                   (CASE WHEN coalesce(per.n_chunks, 0) > 0
                         THEN round(per.n_dup_chunks * 1.0 / per.n_chunks, 6)
                         ELSE 0.0 END) <= 0.5 AS keep
            FROM d LEFT JOIN per USING (doc_id)
        """,
        "pipe_cluster_reps": """
            WITH RECURSIVE nd AS (SELECT count(*) AS n FROM documents),
            e0 AS (
              SELECT CAST(o_orderkey % (SELECT n FROM nd) AS BIGINT) AS a,
                     CAST((o_orderkey * 7 + 3) % (SELECT n FROM nd) AS BIGINT) AS b
              FROM orders WHERE o_orderkey % 149 = 0
            ),
            e1 AS (SELECT a, b FROM e0 WHERE a <> b),
            e AS (SELECT a AS s, b AS d FROM e1 UNION SELECT b, a FROM e1),
            nodes AS (SELECT doc_id AS id FROM documents UNION SELECT s FROM e),
            reach(id, r) AS (
              SELECT id, id FROM nodes
              UNION
              SELECT reach.id, e.d FROM reach JOIN e ON e.s = reach.r
            ),
            cl AS (SELECT id AS doc_id, min(r) AS cluster FROM reach GROUP BY id),
            q AS (
              SELECT cl.cluster, cl.doc_id, CAST(len(d.text) AS BIGINT) AS q
              FROM cl JOIN documents d USING (doc_id)),
            r AS (
              SELECT cluster, doc_id, q,
                     row_number() OVER (PARTITION BY cluster
                                        ORDER BY q DESC, doc_id ASC) AS rn,
                     count(*) OVER (PARTITION BY cluster) AS cluster_size
              FROM q)
            SELECT cluster, doc_id AS rep_doc_id, q AS rep_quality, cluster_size
            FROM r WHERE rn = 1
        """,
        "events_hopping_window": """
            WITH hop AS (
              SELECT to_timestamp(CAST(floor(epoch(ts) / 300) AS BIGINT) * 300
                                  - j * 300) AS ws,
                     event_type, value
              FROM events CROSS JOIN (VALUES (0), (1)) t(j)
            )
            SELECT strftime(ws AT TIME ZONE 'UTC', '%Y-%m-%d %H:%M:%S') AS win_start,
                   event_type, count(*) AS n, round(sum(value), 4) AS sum_value
            FROM hop GROUP BY win_start, event_type
        """,
        "w7_percentiles": """
            SELECT event_type,
                   round(quantile_cont(value, 0.5), 6) AS p50,
                   round(quantile_cont(value, 0.9), 6) AS p90,
                   round(quantile_cont(value, 0.99), 6) AS p99,
                   count(*) AS n
            FROM events GROUP BY event_type
        """,
        "t_asof_join": """
            WITH l AS (SELECT event_id AS purchase_id, user_id, ts
                       FROM events WHERE event_type = 'purchase'),
                 r AS (SELECT user_id, ts, max(event_id) AS view_id
                       FROM events WHERE event_type = 'view'
                       GROUP BY user_id, ts)
            SELECT l.purchase_id, l.user_id, r.view_id,
                   epoch_us(l.ts) - epoch_us(r.ts) AS gap_us
            FROM l ASOF JOIN r
              ON l.user_id = r.user_id AND l.ts >= r.ts
        """,
        "t_range_join": """
            WITH w AS (SELECT event_id AS error_id, user_id,
                              ts AS start_ts,
                              ts + INTERVAL 600 SECOND AS end_ts
                       FROM events WHERE event_type = 'error')
            SELECT w.error_id, e.event_id, e.event_type
            FROM w JOIN events e
              ON e.user_id = w.user_id
             AND e.ts >= w.start_ts AND e.ts < w.end_ts
             AND e.event_id <> w.error_id
        """,
        "q4_late_orders": """
            SELECT o_orderpriority, count(*) AS order_count
            FROM orders
            WHERE EXISTS (
              SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
            GROUP BY o_orderpriority
        """,
        "q13_custdist": """
            SELECT c_count, count(*) AS custdist FROM (
              SELECT c_custkey, count(o_orderkey) AS c_count
              FROM customer LEFT JOIN orders
                ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
              GROUP BY c_custkey) t
            GROUP BY c_count
        """,
        "q22_idle_rich": """
            SELECT c_mktsegment, count(*) AS numcust,
                   round(sum(c_acctbal), 2) AS totacctbal
            FROM customer
            WHERE c_acctbal > (SELECT round(avg(c_acctbal), 2)
                               FROM customer WHERE c_acctbal > 0)
              AND NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_custkey = c_custkey
                                AND o_orderpriority = '1-URGENT')
            GROUP BY c_mktsegment
        """,
        "q2_min_cost_supp": """
            WITH cost AS (
              SELECT p_partkey, l_suppkey,
                     round(min(l_extendedprice), 2) AS cost
              FROM lineitem
              JOIN part ON l_partkey = p_partkey
              WHERE p_type = 'STANDARD' AND p_size = 5
              GROUP BY p_partkey, l_suppkey
            ), best AS (
              SELECT p_partkey AS bp, min(cost) AS best_cost
              FROM cost GROUP BY p_partkey
            )
            SELECT s_acctbal, s_name, n_name, p_partkey, cost
            FROM cost
            JOIN best ON p_partkey = bp AND cost = best_cost
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
            LIMIT 100
        """,
        "q9_product_profit": """
            SELECT n_name AS supp_nation,
                   CAST(year(l_shipdate) AS INTEGER) AS o_year,
                   round(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
                     * (100 - CAST(round(l_discount * 100, 0) AS BIGINT)))
                     / 10000.0, 4) AS sum_profit,
                   count(*) AS n_lines
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            WHERE p_name LIKE '%gear%'
            GROUP BY supp_nation, o_year
        """,
        "q11_important_stock": """
            WITH filt AS (
              SELECT l_partkey, round(l_extendedprice, 2) AS _v
              FROM lineitem
              JOIN supplier ON l_suppkey = s_suppkey
              JOIN nation ON s_nationkey = n_nationkey
              WHERE n_name = 'NATION_3'
            )
            SELECT l_partkey, round(sum(_v), 2) AS part_value
            FROM filt
            GROUP BY l_partkey
            HAVING round(sum(_v), 2) >
                   (SELECT round(sum(_v) * 0.001, 2) FROM filt)
        """,
        "q12_priority_shipping": """
            SELECT l_returnflag,
                   CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                       THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
                   CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                       THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            WHERE year(l_shipdate) = 1997
            GROUP BY l_returnflag
        """,
        "q20_excess_suppliers": """
            SELECT s_name, round(s_acctbal, 2) AS s_acctbal
            FROM supplier
            JOIN nation ON s_nationkey = n_nationkey
            WHERE n_name = 'NATION_7'
              AND s_suppkey IN (
                SELECT l_suppkey
                FROM lineitem
                JOIN part ON l_partkey = p_partkey
                WHERE p_name LIKE 'small%'
                  AND year(l_shipdate) = 1997
                GROUP BY l_suppkey
                HAVING sum(l_quantity) > 100)
        """,
        "q14_promo_share": """
            SELECT round(
                     100.0 * round(sum(CASE WHEN p_type = 'PROMO'
                                        THEN l_extendedprice * (1 - l_discount)
                                        ELSE 0.0 END), 2)
                     / round(sum(l_extendedprice * (1 - l_discount)), 2),
                     4) AS promo_revenue_pct,
                   count(*) AS n_lines
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE l_shipdate >= TIMESTAMP '1996-09-01'
              AND l_shipdate < TIMESTAMP '1996-12-01'
        """,
        "q7_volume_shipping": """
            SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                   CAST(year(l_shipdate) AS INTEGER) AS l_year,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   count(*) AS n_lines
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation n1 ON s_nationkey = n1.n_nationkey
            JOIN nation n2 ON c_nationkey = n2.n_nationkey
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1998-01-01'
              AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
                OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
            GROUP BY supp_nation, cust_nation, l_year
        """,
        "q8_market_share": """
            SELECT CAST(year(l_shipdate) AS INTEGER) AS o_year,
                   round(
                     round(sum(CASE WHEN n1.n_name = 'NATION_5'
                               THEN l_extendedprice * (1 - l_discount)
                               ELSE 0.0 END), 2)
                     / round(sum(l_extendedprice * (1 - l_discount)), 2),
                   6) AS mkt_share,
                   count(*) AS n_lines
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation n2 ON c_nationkey = n2.n_nationkey
            JOIN region ON n2.n_regionkey = r_regionkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation n1 ON s_nationkey = n1.n_nationkey
            WHERE p_type = 'PROMO' AND r_name = 'EUROPE'
            GROUP BY o_year
        """,
        "q10_returned_items": """
            SELECT c_custkey, c_name, c_acctbal, n_name,
                   round(sum(round(l_extendedprice * (1 - l_discount) * 10000))
                         / 10000.0, 4) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            WHERE l_returnflag = 'R'
              AND o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1996-04-01'
            GROUP BY c_custkey, c_name, c_acctbal, n_name
            ORDER BY revenue DESC, c_custkey ASC LIMIT 20
        """,
        "q15_top_supplier": """
            WITH rev AS (
              SELECT l_suppkey,
                     round(sum(l_extendedprice * (1 - l_discount)), 2)
                       AS total_revenue
              FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                AND l_shipdate < TIMESTAMP '1996-04-01'
              GROUP BY l_suppkey)
            SELECT s_suppkey, s_name, total_revenue
            FROM rev JOIN supplier ON l_suppkey = s_suppkey
            WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
        """,
        "q16_supplier_cnt": """
            SELECT p_brand, p_type, p_size,
                   count(DISTINCT l_suppkey) AS supplier_cnt
            FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
            JOIN part ON l_partkey = p_partkey
            WHERE p_brand <> 'Brand#1'
              AND p_size IN (1, 5, 9, 13, 17, 21, 25)
              AND l_suppkey NOT IN
                  (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
            GROUP BY p_brand, p_type, p_size
        """,
        "q17_small_qty": """
            WITH lp AS (
              SELECT l_partkey, l_quantity, l_extendedprice
              FROM lineitem JOIN part ON l_partkey = p_partkey
              WHERE p_brand = 'Brand#2'),
            thr AS (
              SELECT l_partkey AS pk, round(0.2 * avg(l_quantity), 6) AS t
              FROM lp GROUP BY l_partkey)
            SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly,
                   count(*) AS n_lines
            FROM lp JOIN thr ON l_partkey = pk
            WHERE l_quantity < t
        """,
        "q18_large_orders": """
            SELECT c_name, c_custkey, o_orderkey,
                   strftime(o_orderdate, '%Y-%m-%d') AS o_date,
                   round(o_totalprice, 2) AS o_totalprice,
                   round(big.sum_qty, 2) AS sum_qty
            FROM orders
            JOIN (SELECT l_orderkey, sum(l_quantity) AS sum_qty
                  FROM lineitem GROUP BY l_orderkey
                  HAVING sum(l_quantity) > 300) big
              ON o_orderkey = big.l_orderkey
            JOIN customer ON o_custkey = c_custkey
            ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100
        """,
        "q19_disjunctive": """
            SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   count(*) AS n_lines
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 5
                   AND l_quantity BETWEEN 1 AND 11)
               OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 10
                   AND l_quantity BETWEEN 10 AND 20)
               OR (p_brand = 'Brand#4' AND p_size BETWEEN 1 AND 15
                   AND l_quantity BETWEEN 20 AND 30)
        """,
        "q21_waiting_supplier": """
            WITH late AS (
              SELECT DISTINCT l_orderkey, l_suppkey
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              WHERE o_orderstatus = 'F'
                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
            SELECT s_name, count(*) AS numwait
            FROM late l1 JOIN supplier ON l1.l_suppkey = s_suppkey
            WHERE EXISTS (SELECT 1 FROM lineitem l2
                          WHERE l2.l_orderkey = l1.l_orderkey
                            AND l2.l_suppkey <> l1.l_suppkey)
              AND NOT EXISTS (SELECT 1 FROM late l3
                              WHERE l3.l_orderkey = l1.l_orderkey
                                AND l3.l_suppkey <> l1.l_suppkey)
            GROUP BY s_name
            ORDER BY numwait DESC, s_name ASC LIMIT 100
        """,
        "inc_snapshot_diff": """
            WITH old AS (
              SELECT 'https://inc.example/doc/' || CAST(doc_id AS VARCHAR)
                       AS url,
                     md5(text) AS h
              FROM documents WHERE doc_id % 10 <> 0),
            new AS (
              SELECT 'https://inc.example/doc/' || CAST(doc_id AS VARCHAR)
                       AS url,
                     CASE WHEN doc_id % 5 = 0 THEN md5(text || 'v2')
                          ELSE md5(text) END AS h
              FROM documents WHERE doc_id % 7 <> 0)
            SELECT coalesce(old.url, new.url) AS url,
                   CASE WHEN old.url IS NULL THEN 'added'
                        WHEN new.url IS NULL THEN 'removed'
                        WHEN old.h IS NOT DISTINCT FROM new.h
                          THEN 'unchanged'
                        ELSE 'changed' END AS change
            FROM old FULL OUTER JOIN new ON old.url = new.url
        """,
        "pipe_domain_mix": """
            WITH per AS (
              SELECT lang AS stratum, count(*) AS n_docs,
                     CAST(sum(CAST(floor(n_chars / 5) AS BIGINT)) AS BIGINT)
                       AS weight
              FROM documents GROUP BY lang),
            tot AS (SELECT CAST(sum(weight) AS DOUBLE) AS tw FROM per)
            SELECT stratum, n_docs, weight,
                   round(weight / tw, 6) AS share,
                   round(least(1.0,
                     (CASE stratum WHEN 'en' THEN 0.4 WHEN 'de' THEN 0.2
                                   WHEN 'fr' THEN 0.2 WHEN 'es' THEN 0.2
                                   ELSE 0.0 END) / (weight / tw)),
                   6) AS keep_rate
            FROM per, tot
        """,
        "graph_pagerank": """
            WITH n AS (SELECT CAST(count(*) AS DOUBLE) AS nn,
                              count(*) AS ni FROM documents),
            e AS (
              SELECT doc_id AS s, (doc_id * 7 + 1) % ni AS d
              FROM documents, n WHERE doc_id % 17 <> 0
              UNION ALL
              SELECT doc_id, (doc_id * 13 + 3) % ni
              FROM documents, n WHERE doc_id % 17 <> 0
              UNION ALL
              SELECT doc_id, (doc_id * 3 + 11) % ni
              FROM documents, n WHERE doc_id % 17 <> 0 AND doc_id % 5 <> 0),
            nodes AS (SELECT DISTINCT node FROM (
              SELECT s AS node FROM e UNION ALL SELECT d FROM e)),
            deg AS (SELECT s, count(*) AS deg FROM e GROUP BY s),
            r0 AS (SELECT node, round(1.0 / nn, 8) AS pr FROM nodes, n),
            d0 AS (SELECT coalesce(sum(pr), 0) AS dm
                   FROM r0 LEFT JOIN deg ON node = s WHERE deg IS NULL),
            c0 AS (SELECT e.d AS node, sum(r0.pr / deg.deg) AS cin
                   FROM e JOIN r0 ON e.s = r0.node JOIN deg ON e.s = deg.s
                   GROUP BY e.d),
            r1 AS (SELECT nodes.node,
                          round((1 - 0.85) / nn
                                + 0.85 * (coalesce(cin, 0) + dm / nn), 8) AS pr
                   FROM nodes LEFT JOIN c0 USING (node), d0, n),
            d1 AS (SELECT coalesce(sum(pr), 0) AS dm
                   FROM r1 LEFT JOIN deg ON node = s WHERE deg IS NULL),
            c1 AS (SELECT e.d AS node, sum(r1.pr / deg.deg) AS cin
                   FROM e JOIN r1 ON e.s = r1.node JOIN deg ON e.s = deg.s
                   GROUP BY e.d),
            r2 AS (SELECT nodes.node,
                          round((1 - 0.85) / nn
                                + 0.85 * (coalesce(cin, 0) + dm / nn), 8) AS pr
                   FROM nodes LEFT JOIN c1 USING (node), d1, n),
            d2 AS (SELECT coalesce(sum(pr), 0) AS dm
                   FROM r2 LEFT JOIN deg ON node = s WHERE deg IS NULL),
            c2 AS (SELECT e.d AS node, sum(r2.pr / deg.deg) AS cin
                   FROM e JOIN r2 ON e.s = r2.node JOIN deg ON e.s = deg.s
                   GROUP BY e.d),
            r3 AS (SELECT nodes.node,
                          round((1 - 0.85) / nn
                                + 0.85 * (coalesce(cin, 0) + dm / nn), 8) AS pr
                   FROM nodes LEFT JOIN c2 USING (node), d2, n)
            SELECT node, pr FROM r3
        """,
        "pipe_kmeans": """
            WITH data AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            cent0 AS (
              SELECT vec_id AS cid, v AS ce FROM data ORDER BY vec_id LIMIT 4),
            asg1 AS (
              SELECT vec_id, cid FROM (
                SELECT d.vec_id, c.cid,
                       row_number() OVER (
                         PARTITION BY d.vec_id
                         ORDER BY round(
                           list_sum(list_transform(range(1, len(d.v) + 1),
                                    i -> d.v[i] * c.ce[i]))
                           / (sqrt(list_sum(list_transform(d.v, x -> x * x)))
                              * sqrt(list_sum(list_transform(c.ce, x -> x * x)))),
                         6) DESC, c.cid ASC) AS rn
                FROM data d, cent0 c) WHERE rn = 1),
            cent1 AS (
              SELECT cid, list(m ORDER BY pos) AS ce FROM (
                SELECT a.cid, pos, round(avg(d.v[pos]), 6) AS m
                FROM asg1 a JOIN data d USING (vec_id),
                     range(1, 65) t(pos)
                GROUP BY a.cid, pos) GROUP BY cid),
            asg2 AS (
              SELECT vec_id, cid FROM (
                SELECT d.vec_id, c.cid,
                       row_number() OVER (
                         PARTITION BY d.vec_id
                         ORDER BY round(
                           list_sum(list_transform(range(1, len(d.v) + 1),
                                    i -> d.v[i] * c.ce[i]))
                           / (sqrt(list_sum(list_transform(d.v, x -> x * x)))
                              * sqrt(list_sum(list_transform(c.ce, x -> x * x)))),
                         6) DESC, c.cid ASC) AS rn
                FROM data d, cent1 c) WHERE rn = 1)
            SELECT vec_id, cid AS cluster FROM asg2
        """,
        "pipe_tfidf": """
            WITH terms AS (
              SELECT doc_id, unnest(regexp_extract_all(lower(text), '\\w+'))
                       AS term
              FROM documents),
            tf AS (
              SELECT doc_id, term, count(*) AS tf
              FROM terms GROUP BY doc_id, term),
            dfreq AS (
              SELECT term, count(*) AS df FROM tf GROUP BY term),
            n AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM documents),
            scored AS (
              SELECT doc_id, tf.term,
                     round(tf * ln(nd / df), 6) AS tfidf
              FROM tf JOIN dfreq ON tf.term = dfreq.term, n)
            SELECT doc_id, term, tfidf, rn FROM (
              SELECT doc_id, term, tfidf,
                     row_number() OVER (
                       PARTITION BY doc_id
                       ORDER BY tfidf DESC, term ASC) AS rn
              FROM scored) WHERE rn <= 3
        """,
        "pipe_quality_gate": f"""
            WITH q AS (
              SELECT doc_id,
                     len({toks}) AS n_words,
                     round(len(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                           * 1.0 / greatest(len(text), 1), 4) AS alpha_ratio,
                     round((len({toks}) - len(list_distinct({toks})))
                           * 1.0 / greatest(len({toks}), 1), 6) AS word_rep,
                     {', '.join(f"{lang_score[l]} AS s_{l}" for l in langs)}
              FROM documents),
            p AS (
              SELECT *, CASE WHEN {best} = 0 THEN 'unknown'
                             ELSE {pred_chain} END AS pred_lang
              FROM q),
            r AS (
              SELECT CASE WHEN pred_lang <> 'en' THEN 'non_english'
                          WHEN n_words < 30 THEN 'too_short'
                          WHEN alpha_ratio < 0.82 THEN 'low_alpha'
                          WHEN word_rep > 0.62 THEN 'repetitive'
                          ELSE 'pass' END AS reason,
                     n_words, word_rep
              FROM p)
            SELECT reason, count(*) AS n_docs,
                   CAST(sum(n_words) AS BIGINT) AS tot_words,
                   round(avg(word_rep), 4) AS avg_rep
            FROM r GROUP BY reason
        """,
        "inc_changelog_compact": """
            WITH log AS (
              SELECT 'https://inc.example/u/' || CAST(doc_id % 97 AS VARCHAR)
                       AS url,
                     doc_id // 97 AS wave,
                     CASE WHEN doc_id % 13 = 0 THEN 'delete'
                          ELSE 'upsert' END AS op,
                     md5(text) AS content_hash,
                     CAST(len(text) AS BIGINT) AS n_chars
              FROM documents),
            r AS (
              SELECT *, row_number() OVER (
                       PARTITION BY url ORDER BY wave DESC, op DESC) AS rn
              FROM log)
            SELECT url, wave, content_hash, n_chars
            FROM r WHERE rn = 1 AND op = 'upsert'
        """,
        "graph_degrees": """
            WITH d AS (SELECT doc_id FROM documents),
            n AS (SELECT count(*) AS c FROM d),
            edges AS (
              SELECT doc_id AS src, (doc_id * 7 + 1) % (SELECT c FROM n) AS dst
              FROM d
              UNION ALL
              SELECT doc_id, (doc_id * 13 + 3) % (SELECT c FROM n) FROM d
              UNION ALL
              SELECT doc_id, (doc_id * 3 + 11) % (SELECT c FROM n)
              FROM d WHERE doc_id % 5 <> 0),
            e AS (SELECT * FROM edges WHERE src % 17 <> 0),
            outd AS (SELECT src AS node, count(*) AS degree FROM e GROUP BY 1),
            ind AS (SELECT dst AS node, count(*) AS degree FROM e GROUP BY 1)
            SELECT 'out' AS direction, CAST(floor(log2(degree)) AS INT) AS bucket,
                   count(*) AS n_nodes, min(degree) AS min_degree,
                   max(degree) AS max_degree
            FROM outd GROUP BY 2
            UNION ALL
            SELECT 'in', CAST(floor(log2(degree)) AS INT), count(*),
                   min(degree), max(degree)
            FROM ind GROUP BY 2
        """,
        "t_recrawl_priority": """
            WITH g AS (
              SELECT user_id AS page, count(*) AS n_obs,
                     CAST(sum(CASE WHEN event_type IN ('click', 'purchase')
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
                     min(epoch_us(ts)) AS t0, max(epoch_us(ts)) AS t1
              FROM events GROUP BY user_id
              HAVING count(*) >= 2),
            m AS (
              SELECT page, n_obs, n_changed,
                     CAST(t1 - t0 AS DOUBLE)
                       / CAST(n_obs - 1 AS DOUBLE) / 3.6e9 AS ibar_h,
                     CAST(epoch_us(TIMESTAMP '2024-03-01 00:00:00') - t1
                          AS DOUBLE) / 3.6e9 AS age_h
              FROM g)
            SELECT page, n_obs, n_changed,
                   round(abs(-ln((n_obs - n_changed + 0.5) / (n_obs + 0.5))
                         / ibar_h), 6) AS lambda_per_hour,
                   round(age_h, 6) AS age_hours,
                   round(abs(-ln((n_obs - n_changed + 0.5) / (n_obs + 0.5))
                         / ibar_h) * age_h, 6) AS priority
            FROM m
        """,
        "p2_budget_alloc": """
            WITH hs AS (
              SELECT source AS host, CAST(sum(n_chars) AS BIGINT) AS score
              FROM documents GROUP BY source),
            tot AS (SELECT CAST(sum(score) AS DOUBLE) AS t FROM hs),
            d AS (
              SELECT host, score,
                     least(CAST(90 AS BIGINT),
                           CAST(floor(1000.0 * score / t) AS BIGINT)) AS base,
                     1000.0 * score / t
                       - floor(1000.0 * score / t) AS frac,
                     CAST(90 AS BIGINT)
                       - least(CAST(90 AS BIGINT),
                                CAST(floor(1000.0 * score / t) AS BIGINT))
                       AS headroom
              FROM hs, tot),
            r AS (
              SELECT *, 1000 - sum(base) OVER () AS leftover,
                     row_number() OVER (
                       ORDER BY CASE WHEN headroom > 0 THEN frac
                                     ELSE -1.0 END DESC, host ASC) AS rk
              FROM d)
            SELECT host, score,
                   base + CASE WHEN headroom > 0 AND rk <= leftover
                               THEN 1 ELSE 0 END AS allocated
            FROM r
        """,
        "kw_cannibalization": """
            WITH tk AS (
              SELECT doc_id, regexp_extract_all(lower(text), '\\w+') AS t
              FROM documents),
            rows_ AS (
              SELECT
                'https://kw.example' || CASE CAST(doc_id % 8 AS INT)
                  WHEN 0 THEN '/?v=' || CAST(doc_id AS VARCHAR)
                  WHEN 1 THEN '/service/p' || CAST(doc_id AS VARCHAR)
                  WHEN 2 THEN '/blog/p' || CAST(doc_id AS VARCHAR)
                  WHEN 3 THEN '/team/p' || CAST(doc_id AS VARCHAR)
                  WHEN 4 THEN '/reviews/p' || CAST(doc_id AS VARCHAR)
                  WHEN 5 THEN '/location/p' || CAST(doc_id AS VARCHAR)
                  WHEN 6 THEN '/contact/p' || CAST(doc_id AS VARCHAR)
                  ELSE '/treatment/p' || CAST(doc_id AS VARCHAR) END AS url,
                array_to_string(t[1:3], ' ') AS title,
                array_to_string(t[2:3], ' ') AS h1,
                array_to_string(t[1:2], ' ') AS kw,
                CAST((doc_id * 7) % 101 AS DOUBLE) AS prom,
                (doc_id % 40) / 10.0 AS dens
              FROM tk),
            pt AS (
              SELECT *, CASE
                WHEN lp IN ('/', '', '/index.html', '/home') THEN 'Homepage'
                WHEN contains(lp,'/privacy') OR contains(lp,'/terms')
                  OR contains(lp,'/policy') OR contains(lp,'/thank-you')
                  OR contains(lp,'/contact') OR contains(lp,'/appointment')
                  OR contains(lp,'/book') THEN 'System'
                WHEN contains(lp,'/doctor/') OR contains(lp,'/dr-')
                  OR contains(lp,'/dentist/') OR contains(lp,'/team/')
                  OR contains(lp,'/our-team/') OR contains(lp,'/meet-')
                  OR contains(lp,'/about-dr') OR contains(lp,'/specialist/')
                  OR contains(lp,'/our-doctors/') OR contains(lp,'/staff/')
                  OR contains(lp,'/hygienist/') OR contains(lp,'/orthodontist/')
                  THEN 'Profile'
                WHEN contains(lt,'meet dr') OR contains(lt,'about dr')
                  OR contains(lt,'dr. ') OR contains(lt,'biography')
                  OR contains(lt,'education') OR contains(lt,'credentials')
                  OR contains(lt,'experience')
                  OR contains(lh,'meet dr') OR contains(lh,'about dr')
                  OR contains(lh,'dr. ') OR contains(lh,'biography')
                  OR contains(lh,'education') OR contains(lh,'credentials')
                  OR contains(lh,'experience') THEN 'Profile'
                WHEN contains(lp,'/blog/') OR contains(lp,'/news/')
                  OR contains(lp,'/articles/') OR contains(lp,'/post/')
                  OR contains(lp,'/insights/') OR contains(lp,'/tips/')
                  OR contains(lp,'/guide/') OR contains(lp,'/how-to/')
                  OR contains(lp,'/learn/') OR contains(lp,'/education/')
                  OR contains(lp,'/faq/') OR contains(lp,'/questions/')
                  OR contains(lp,'/learning-center/') THEN 'Blog'
                WHEN regexp_matches(lp, '/\\d{4}/\\d{2}/') THEN 'Blog'
                WHEN contains(lp,'/review') OR contains(lp,'/testimonial')
                  OR contains(lp,'/case-stud') OR contains(lp,'/patient-stor')
                  OR contains(lp,'/success-stor') THEN 'Review'
                WHEN contains(lp,'/location') OR contains(lp,'/directions')
                  OR contains(lp,'/find-us') OR contains(lp,'/office')
                  OR contains(lp,'/address') THEN 'Location'
                ELSE 'Service' END AS page_type
              FROM (
                SELECT *,
                  lower(regexp_replace(regexp_replace(url,
                    '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*', ''),
                    '[?#].*$', '')) AS lp,
                  lower(title) AS lt, lower(h1) AS lh
                FROM rows_)),
            f AS (
              SELECT * FROM pt
              WHERE len(string_split_regex(trim(kw), '\\s+')) BETWEEN 2 AND 5
                AND length(trim(kw)) >= 3
                AND NOT regexp_matches(
                      regexp_replace(trim(kw), '[ .\\-]', '', 'g'), '^[0-9]+$')
                AND trim(kw) NOT IN ('the','and','or','but','in','on','at',
                                     'to','for','of','with','by','from','an',
                                     'as','is','was','are')
                AND (contains(lt, kw) OR contains(lh, kw))
                AND (dens > 1.5 OR prom > 50
                     OR (contains(lt, kw) AND contains(lh, kw)))),
            g AS (
              SELECT kw AS keyword, count(*) AS page_count,
                CAST(sum(CASE WHEN page_type='Service' THEN 1 ELSE 0 END) AS BIGINT) AS n_service,
                CAST(sum(CASE WHEN page_type='Blog' THEN 1 ELSE 0 END) AS BIGINT) AS n_blog,
                CAST(sum(CASE WHEN page_type='Profile' THEN 1 ELSE 0 END) AS BIGINT) AS n_profile,
                CAST(sum(CASE WHEN page_type='Review' THEN 1 ELSE 0 END) AS BIGINT) AS n_review,
                CAST(sum(CASE WHEN page_type='Location' THEN 1 ELSE 0 END) AS BIGINT) AS n_location,
                CAST(sum(CASE WHEN page_type='System' THEN 1 ELSE 0 END) AS BIGINT) AS n_system,
                CAST(sum(CASE WHEN page_type='Homepage' THEN 1 ELSE 0 END) AS BIGINT) AS n_homepage,
                CAST(sum(CASE WHEN prom > 60 THEN 1 ELSE 0 END) AS BIGINT) AS n_hi
              FROM f GROUP BY kw HAVING count(*) >= 2),
            prim AS (
              SELECT kw AS keyword, url AS primary_url,
                     page_type AS primary_type, round(prom, 2) AS primary_prominence
              FROM (SELECT *, row_number() OVER (
                      PARTITION BY kw
                      ORDER BY prom DESC, dens DESC, url ASC) AS rn FROM f)
              WHERE rn = 1),
            sev AS (
              SELECT g.*, prim.primary_url, prim.primary_type,
                     prim.primary_prominence,
                CASE WHEN n_service >= 2 THEN 'high'
                     WHEN n_service >= 1 AND n_blog >= 1 THEN 'low'
                     WHEN n_service >= 1 AND (n_profile >= 1 OR n_review >= 1)
                       THEN 'none'
                     WHEN n_blog >= 2 AND n_service = 0 THEN 'medium'
                     WHEN n_homepage >= 1 AND n_service >= 1 THEN 'none'
                     WHEN n_service = 0 AND n_blog = 0 THEN 'none'
                     ELSE 'none' END AS severity
              FROM g JOIN prim USING (keyword))
            SELECT keyword, 'Unknown' AS search_intent, severity,
              CAST(CASE WHEN severity='high' THEN least(90, 70 + page_count*5)
                        WHEN severity='medium' THEN least(70, 40 + page_count*5)
                        ELSE least(50, 20 + page_count*5) END AS BIGINT)
                AS risk_score,
              CAST(page_count AS BIGINT) AS page_count,
              array_to_string(list_filter([
                CASE WHEN n_service>0 THEN CAST(n_service AS VARCHAR) || ' Service' END,
                CASE WHEN n_blog>0 THEN CAST(n_blog AS VARCHAR) || ' Blog' END,
                CASE WHEN n_profile>0 THEN CAST(n_profile AS VARCHAR) || ' Profile' END,
                CASE WHEN n_review>0 THEN CAST(n_review AS VARCHAR) || ' Review' END,
                CASE WHEN n_location>0 THEN CAST(n_location AS VARCHAR) || ' Location' END,
                CASE WHEN n_system>0 THEN CAST(n_system AS VARCHAR) || ' System' END,
                CASE WHEN n_homepage>0 THEN CAST(n_homepage AS VARCHAR) || ' Homepage' END
              ], x -> x IS NOT NULL), ', ') AS page_types,
              primary_url, primary_type, primary_prominence,
              coalesce(array_to_string(list_filter([
                CASE WHEN page_count >= 3
                     THEN CAST(page_count AS VARCHAR) || ' pages competing' END,
                CASE WHEN severity='high'
                       THEN 'Critical Service vs Service conflict'
                     WHEN severity='medium'
                       THEN 'Multiple Blog posts overlap' END,
                CASE WHEN n_hi >= 2 THEN 'Multiple pages highly optimized' END
              ], x -> x IS NOT NULL), '|'), '') AS risk_factors
            FROM sev WHERE severity <> 'none'
        """,
        "kw_page_keywords": f"""
            WITH base AS (
              SELECT 'https://kwp.example/p' || CAST(doc_id AS VARCHAR) AS url,
                     lower(text) AS body,
                     regexp_extract_all(lower(text), '\\w+') AS w,
                     array_to_string(regexp_extract_all(lower(text), '\\w+')[1:3], ' ') AS title,
                     array_to_string(regexp_extract_all(lower(text), '\\w+')[2:4], ' ') AS meta,
                     array_to_string(regexp_extract_all(lower(text), '\\w+')[4:6], ' ') AS heads
              FROM documents
              WHERE len(regexp_extract_all(lower(text), '\\w+')) > 0),
            tok AS (
              SELECT url, total, unnest(w) AS kw,
                     unnest(range(1, total + 1)) AS pos
              FROM (SELECT url, w, len(w) AS total FROM base)),
            lead2 AS (
              SELECT url, total, kw, pos,
                     lead(kw, 1) OVER (PARTITION BY url ORDER BY pos) AS w1,
                     lead(kw, 2) OVER (PARTITION BY url ORDER BY pos) AS w2
              FROM tok),
            singles AS (
              SELECT url, kw, count(*) AS freq, min(pos) AS fp,
                     any_value(total) AS total, 0 AS blk, 0 AS is3
              FROM tok
              WHERE {_kwpass('kw')} AND NOT regexp_matches(kw, '^[0-9]+$')
              GROUP BY url, kw),
            singles_cut AS (
              SELECT url, kw, freq, fp, total, blk, is3 FROM (
                SELECT *, row_number() OVER (
                  PARTITION BY url ORDER BY freq DESC, fp ASC) AS r
                FROM singles) WHERE r <= 20),
            p2 AS (
              SELECT url, total, 0 AS is3, kw || ' ' || w1 AS kw2, pos
              FROM lead2 WHERE total > 2 AND w1 IS NOT NULL
                AND {_kwpass('kw')} AND {_kwpass('w1')}),
            p3 AS (
              SELECT url, total, 1 AS is3,
                     kw || ' ' || w1 || ' ' || w2 AS kw2, pos
              FROM lead2 WHERE total > 2 AND w2 IS NOT NULL
                AND {_kwpass('kw')} AND {_kwpass('w2')}),
            phr AS (
              SELECT url, kw2 AS kw, count(*) AS freq, min(pos) AS fp,
                     any_value(total) AS total, 1 AS blk,
                     any_value(is3) AS is3
              FROM (SELECT * FROM p2 UNION ALL SELECT * FROM p3)
              GROUP BY url, kw2),
            phr_cut AS (
              SELECT url, kw, freq, fp, total, blk, is3 FROM (
                SELECT *, row_number() OVER (
                  PARTITION BY url ORDER BY freq DESC, is3 ASC, fp ASC) AS r
                FROM phr) WHERE r <= 10 AND freq >= 2),
            ranked AS (
              SELECT * FROM (
                SELECT *, row_number() OVER (PARTITION BY url
                  ORDER BY freq DESC, blk ASC, is3 ASC, fp ASC) AS rnk
                FROM (SELECT * FROM singles_cut
                      UNION ALL SELECT * FROM phr_cut))
              WHERE rnk <= 10),
            scal AS (
              SELECT url, title, meta, heads,
                CASE WHEN len(ws) > 200
                     THEN array_to_string(ws[1:200], ' ') ELSE body END AS first_p,
                CASE WHEN len(ws) > 100
                     THEN array_to_string(ws[len(ws)-99:len(ws)], ' ')
                     ELSE body END AS last_p
              FROM (SELECT url, title, meta, heads, body,
                      list_filter(string_split_regex(body, '\\s+'),
                                  x -> x <> '') AS ws
                    FROM base))
            SELECT r.url, r.kw AS keyword, CAST(r.freq AS BIGINT) AS frequency,
              round(r.freq / CAST(r.total AS DOUBLE) * 100, 2) AS density,
              CASE WHEN r.blk = 0 THEN 'word' ELSE 'phrase' END AS kw_type,
              contains(s.title, r.kw) AS in_title,
              contains(s.heads, r.kw) AS in_headings,
              contains(s.first_p, r.kw) AS in_first_paragraph,
              contains(s.meta, r.kw) AS in_meta,
              contains(s.last_p, r.kw) AS in_conclusion,
              CAST(least(100,
                30 * CAST(contains(s.title, r.kw) AS INT)
                + 25 * CAST(contains(s.heads, r.kw) AS INT)
                + 20 * CAST(contains(s.first_p, r.kw) AS INT)
                + 15 * CAST(contains(s.meta, r.kw) AS INT)
                + 10 * CAST(contains(s.last_p, r.kw) AS INT)) AS INT)
                AS prominence_score,
              CAST(r.rnk AS INT) AS "rank"
            FROM ranked r JOIN scal s USING (url)
        """,
        "sk_kmv_distinct": """
            WITH hashes AS (
              SELECT DISTINCT
                ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 15))::BIGINT
                  AS h
              FROM lineitem),
            kmin AS (SELECT h FROM hashes ORDER BY h LIMIT 512)
            SELECT count(*) AS k_used, max(h) AS kth_hash,
                   round(CASE WHEN count(*) < 512
                              THEN CAST(count(*) AS DOUBLE)
                              ELSE 511.0 * 1152921504606846976.0
                                   / CAST(max(h) AS DOUBLE) END,
                         4) AS est_distinct
            FROM kmin
        """,
        "graph_bfs_dist": """
            WITH RECURSIVE
            docs AS (SELECT doc_id FROM documents),
            nn AS (SELECT count(*) AS n FROM docs),
            edges AS (
              SELECT DISTINCT src, dst FROM (
                SELECT doc_id AS src, (doc_id * 7 + 1) % nn.n AS dst
                FROM docs, nn
                UNION ALL
                SELECT doc_id, (doc_id * 13 + 3) % nn.n FROM docs, nn
                UNION ALL
                SELECT doc_id, (doc_id * 3 + 11) % nn.n FROM docs, nn
                WHERE doc_id % 5 <> 0)
              WHERE src % 17 <> 0),
            walk(node, dist) AS (
              SELECT doc_id, 0 FROM docs WHERE doc_id % 97 = 0
              UNION
              SELECT e.dst, w.dist + 1
              FROM walk w JOIN edges e ON e.src = w.node
              WHERE w.dist < 4)
            SELECT node, min(dist) AS dist FROM walk GROUP BY node
        """,
        "text_unigram_lm": """
            WITH words AS (
              SELECT doc_id,
                     unnest(regexp_extract_all(lower(text), '\\w+')) AS w
              FROM documents),
            freq AS (SELECT w, count(*) AS cnt FROM words GROUP BY w),
            tot AS (SELECT CAST(count(*) AS DOUBLE) AS _tot FROM words)
            SELECT doc_id, count(*) AS n_tokens,
                   round(avg(ln(cnt / _tot)), 6) AS avg_logp
            FROM words JOIN freq USING (w), tot
            GROUP BY doc_id
        """,
        "dedup_containment": rf"""
            WITH base AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 10000000,
                     array_to_string(
                       list_slice(regexp_extract_all(text, '\w+'), 1, 30),
                       ' ')
              FROM documents WHERE doc_id % 83 = 0
            ),
            s AS (
              SELECT doc_id, list_distinct({shingles}) AS sh FROM base
            ),
            nz AS (SELECT doc_id, sh FROM s WHERE len(sh) > 0),
            inv AS (SELECT doc_id, unnest(sh) AS shingle FROM nz),
            cold AS (
              SELECT shingle FROM inv GROUP BY shingle
              HAVING count(*) <= 1000),
            invc AS (
              SELECT inv.doc_id, inv.shingle
              FROM inv JOIN cold USING (shingle)),
            cand AS (
              SELECT DISTINCT a.doc_id AS doc_inner, b.doc_id AS doc_outer
              FROM invc a
              JOIN invc b
                ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
            )
            SELECT doc_inner, doc_outer,
                   round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
                         / len(sa.sh), 6) AS containment
            FROM cand
            JOIN nz sa ON sa.doc_id = cand.doc_inner
            JOIN nz sb ON sb.doc_id = cand.doc_outer
            WHERE round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
                        / len(sa.sh), 6) >= 0.8
        """,
        "graph_hits": """
            WITH docs AS (SELECT doc_id FROM documents),
            nn AS (SELECT count(*) AS n FROM docs),
            edges AS (
              SELECT src, dst FROM (
                SELECT doc_id AS src, (doc_id * 7 + 1) % nn.n AS dst
                FROM docs, nn
                UNION ALL
                SELECT doc_id, (doc_id * 13 + 3) % nn.n FROM docs, nn
                UNION ALL
                SELECT doc_id, (doc_id * 3 + 11) % nn.n FROM docs, nn
                WHERE doc_id % 5 <> 0)
              WHERE src % 17 <> 0),
            nodes AS (
              SELECT DISTINCT node FROM (
                SELECT src AS node FROM edges
                UNION ALL SELECT dst FROM edges)),
            nv AS (SELECT count(*) AS c FROM nodes),
            h0 AS (SELECT node, round(1.0 / nv.c, 8) AS hub
                   FROM nodes, nv),
            a1r AS (SELECT e.dst AS node, sum(h0.hub) AS raw
                    FROM edges e JOIN h0 ON h0.node = e.src
                    GROUP BY e.dst),
            a1t AS (SELECT sum(raw) AS t FROM a1r),
            a1 AS (SELECT n.node,
                          round(coalesce(r.raw, 0) / t.t, 8) AS authority
                   FROM nodes n LEFT JOIN a1r r ON r.node = n.node, a1t t),
            h1r AS (SELECT e.src AS node, sum(a1.authority) AS raw
                    FROM edges e JOIN a1 ON a1.node = e.dst
                    GROUP BY e.src),
            h1t AS (SELECT sum(raw) AS t FROM h1r),
            h1 AS (SELECT n.node, round(coalesce(r.raw, 0) / t.t, 8) AS hub
                   FROM nodes n LEFT JOIN h1r r ON r.node = n.node, h1t t),
            a2r AS (SELECT e.dst AS node, sum(h1.hub) AS raw
                    FROM edges e JOIN h1 ON h1.node = e.src
                    GROUP BY e.dst),
            a2t AS (SELECT sum(raw) AS t FROM a2r),
            a2 AS (SELECT n.node,
                          round(coalesce(r.raw, 0) / t.t, 8) AS authority
                   FROM nodes n LEFT JOIN a2r r ON r.node = n.node, a2t t),
            h2r AS (SELECT e.src AS node, sum(a2.authority) AS raw
                    FROM edges e JOIN a2 ON a2.node = e.dst
                    GROUP BY e.src),
            h2t AS (SELECT sum(raw) AS t FROM h2r),
            h2 AS (SELECT n.node, round(coalesce(r.raw, 0) / t.t, 8) AS hub
                   FROM nodes n LEFT JOIN h2r r ON r.node = n.node, h2t t)
            SELECT h2.node, h2.hub, a2.authority
            FROM h2 JOIN a2 USING (node)
        """,
        "sk_kmv_by_group": """
            WITH d AS (
              SELECT DISTINCT l_returnflag,
                ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 15))::BIGINT
                  AS h
              FROM lineitem),
            r AS (
              SELECT l_returnflag, h,
                     row_number() OVER (PARTITION BY l_returnflag
                                        ORDER BY h) AS rk
              FROM d)
            SELECT l_returnflag, count(*) AS k_used, max(h) AS kth_hash,
                   round(CASE WHEN count(*) < 256
                              THEN CAST(count(*) AS DOUBLE)
                              ELSE 255.0 * 1152921504606846976.0
                                   / CAST(max(h) AS DOUBLE) END,
                         4) AS est_distinct
            FROM r WHERE rk <= 256
            GROUP BY l_returnflag
        """,
        "pipe_priority_sample": """
            WITH p AS (
              SELECT doc_id, n_chars,
                     CAST(n_chars AS DOUBLE)
                     / ((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                         + 1) / 1152921504606846976.0) AS q
              FROM documents)
            SELECT doc_id, n_chars, round(q, 4) AS priority
            FROM p
            ORDER BY q DESC, doc_id ASC
            LIMIT 50
        """,
        "dedup_minhash_inc": rf"""
            WITH s AS (SELECT doc_id, {shingles} AS sh FROM documents),
            sig AS (
              SELECT doc_id,
                list_min(list_transform(sh, x -> md5('0:' || x))) AS mh0,
                list_min(list_transform(sh, x -> md5('1:' || x))) AS mh1,
                list_min(list_transform(sh, x -> md5('2:' || x))) AS mh2,
                list_min(list_transform(sh, x -> md5('3:' || x))) AS mh3
              FROM s WHERE len(sh) > 0),
            bands AS (
              SELECT doc_id, '0|' || mh0 || '|' || mh1 AS band_key FROM sig
              UNION ALL
              SELECT doc_id, '1|' || mh2 || '|' || mh3 FROM sig),
            newb AS (SELECT * FROM bands WHERE doc_id % 2 = 1),
            oldb AS (SELECT * FROM bands WHERE doc_id % 2 = 0),
            vs_index AS (
              SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     'index' AS against
              FROM newb a JOIN oldb b
                ON a.band_key = b.band_key AND a.doc_id <> b.doc_id),
            in_wave AS (
              SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     'wave' AS against
              FROM newb a JOIN newb b
                ON a.band_key = b.band_key AND a.doc_id < b.doc_id)
            SELECT * FROM vs_index UNION ALL SELECT * FROM in_wave
        """,
    }
