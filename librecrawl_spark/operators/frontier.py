"""Frontier scheduling — the relational re-expression of LibreCrawl's
``LinkManager.extract_links`` gate sequence (link_manager.py:43-118):

    special-scheme skip -> absolutize/clean -> self-link skip ->
    seen-set dedup -> trap gate -> policy callback -> enqueue (FIFO)

The reference runs this per link under a lock; here each gate is a
DataFrame stage, and the *sequential* trap/count semantics are
reproduced exactly with window functions (see ``schedule_wave`` for the
derivation). Crawl ordering contract (SURVEY.md §2.5 W1 / §7 risks 1-2):
the engine reproduces the reference's concurrency-1 FIFO order via a
global discovery sequence ``seq`` assigned in (source page seq,
intra-page link index) order.

Scale notes
-----------
- seen-set dedup is a left-anti join on the exact stored URL (the
  reference's set-membership contract), run after the keep-first
  aggregate so it probes one row per URL; past the broadcast threshold
  it is a shuffle-hash join against the already hash-partitioned
  candidates (``anti_join_seen``).
- the policy callback has one implementation, the exact Arrow UDF
  (``policy_gate`` over ``policy_predicate``), run on the deduped
  survivors only: one evaluation per URL, the same Spark jobs per wave
  whatever the URLs look like.
- global sequence assignment never single-partitions: range-bucket by
  the order key, count per bucket, broadcast prefix offsets, rank
  within each bucket in parallel (``add_global_seq``).
- per-host politeness quotas + salted repartition break hot-host skew
  (``apply_politeness`` / ``salted_repartition``).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import BooleanType

from librecrawl_spark.config import CrawlConfig

CAND_COLS = ("clean_url", "link_idx", "signature", "host", "src_url", "src_seq", "depth")


# --------------------------------------------------------------------------
# global sequence assignment (no single-partition window)
# --------------------------------------------------------------------------

def default_seq_buckets(spark) -> int:
    return int(spark.conf.get("spark.sql.shuffle.partitions", "32")) * 2


def add_global_seq(df: DataFrame, order_cols: list[str], start: int, *,
                   lead_bounds: tuple[int, int],
                   bucket_counts: dict[int, int] | None = None) -> DataFrame:
    """Assign a contiguous global sequence ``start, start+1, ...`` in
    ``order_cols`` order without ever collapsing to one partition.

    Two-phase distributed ranking, sampling-free: bucket rows by a
    deterministic range function of the leading order column over
    ``lead_bounds`` (its min/max, known to the caller — e.g. the wave's
    seq span), count rows per bucket, broadcast the prefix-sum offsets,
    then rank within each bucket with an ordinary window — buckets are
    disjoint key ranges, so ``seq = offset[bucket] + rank - 1`` is
    globally contiguous and every bucket ranks in parallel.

    ``bucket_counts``: per-bucket row counts
    the caller already knows — skips this function's counting pass
    entirely, e.g. when the counts were piggybacked on an earlier
    action (schedule_wave's combined probe)."""
    spark = df.sparkSession
    n_buckets = default_seq_buckets(spark)
    lead = order_cols[0]
    lo, hi = lead_bounds
    width = max((hi - lo) // n_buckets + 1, 1)
    bucket = ((F.col(lead).cast("long") - F.lit(lo)) / F.lit(width)).cast("long")
    b = df.withColumn("_bkt", bucket)
    if bucket_counts is not None:
        counts = bucket_counts
    else:
        counts = {r["_bkt"]: r["count"] for r in b.groupBy("_bkt").count().collect()}
    if not counts:
        return df.withColumn("seq", F.lit(start).cast("long"))
    offsets, acc = {}, start
    for k in sorted(counts):
        offsets[k] = acc
        acc += counts[k]
    # broadcast hash join for the offset lookup (a literal-map lookup is a
    # per-row linear scan over the entries); coalesce(1) so the broadcast
    # build of this <=n_buckets-row driver-local frame is one task, not
    # defaultParallelism near-empty ones (core-proportional fixed cost)
    odf = F.broadcast(
        spark.createDataFrame(list(offsets.items()), schema="_bkt long, _off long")
        .coalesce(1)
    )
    w = Window.partitionBy("_bkt").orderBy(*order_cols)
    return (
        b.join(odf, "_bkt")
        .withColumn("seq", (F.col("_off") + F.row_number().over(w) - 1).cast("long"))
        .drop("_bkt", "_off")
    )


# --------------------------------------------------------------------------
# policy (robots + scope + extension + patterns) — Arrow UDF
# --------------------------------------------------------------------------

def policy_predicate(base_domain: str, config: CrawlConfig):
    """``(url, robots_txt) -> bool``: ``urls.should_crawl`` (exact
    ``_should_crawl_url``, crawler.py:1425-1492) under ``config``, with
    robots decided by a RobotFileParser per distinct robots.txt body,
    cached for the predicate's lifetime. A missing robots.txt (None)
    allows (crawler.py:1543-1546). Shared by the policy UDF and the
    driver-side bootstrap."""
    import urllib.robotparser

    from librecrawl_spark.functions import urls as U

    cfg = dict(
        crawl_external=config.crawl_external,
        crawl_subdomains=config.crawl_subdomains,
        include_extensions=tuple(config.include_extensions),
        exclude_extensions=tuple(config.exclude_extensions),
        include_patterns=tuple(config.include_patterns),
        exclude_patterns=tuple(config.exclude_patterns),
    )
    respect_robots = config.respect_robots
    user_agent = config.user_agent
    parsers: dict = {}

    def allows(txt):
        if txt is None:
            return lambda u: True
        rp = parsers.get(txt)
        if rp is None:
            rp = urllib.robotparser.RobotFileParser()
            rp.parse(txt.splitlines())
            parsers[txt] = rp
        return lambda u: rp.can_fetch(user_agent, u)

    def ok(url: str, robots_txt: str | None) -> bool:
        return U.should_crawl(
            url, base_domain,
            robots_allows=allows(robots_txt) if respect_robots else None, **cfg)

    return ok


def make_policy_udf(base_domain: str, config: CrawlConfig):
    """Vectorized policy gate: ``policy_predicate`` per row, one
    predicate (and so one robots parser cache) per Arrow batch of
    thousands of URLs."""

    @F.pandas_udf(BooleanType())
    def policy_ok(url: pd.Series, robots_txt: pd.Series) -> pd.Series:
        ok = policy_predicate(base_domain, config)
        return pd.Series([ok(u, txt) for u, txt in zip(url, robots_txt)], dtype=bool)

    return policy_ok


RULES_SCHEMA = ("host string, rules array<struct<prefix:string,allow:boolean>>, "
                "allow_all boolean, disallow_all boolean, simple boolean, "
                "rule1_prefix string, rule1_allow boolean, n_rules int")

# characters urllib.parse.quote never escapes (letters, digits, '_.-~')
# plus '/' (quote's default safe)
_QUOTE_SAFE = set("abcdefghijklmnopqrstuvwxyz"
                  "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789_.-~/")


def compile_robots_rules(hosts: DataFrame, user_agent: str) -> DataFrame:
    """Per-host robots rules as data: parse each robots.txt with urllib's
    RobotFileParser and extract the ordered (prefix, allow) rule list of
    the entry that applies to ``user_agent`` (first matching entry, else
    the '*' default — exactly can_fetch's selection), stored verbatim as
    urllib quotes them. ``simple`` marks rule sets whose prefixes are
    all quote-safe characters.

    The engine does not call this: the policy UDF parses robots itself.
    The only caller is perfbench's ``wave_bulk`` set-up, which also
    passes the result to ``schedule_wave(host_rules=)``; both go in the
    next change to that set-up."""

    def run(batches):
        import urllib.robotparser

        import pandas as pd

        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                txt = r.robots_txt
                if txt is None:
                    rows.append({"host": r.host, "rules": None, "allow_all": True,
                                 "disallow_all": False, "simple": True,
                                 "rule1_prefix": None, "rule1_allow": None,
                                 "n_rules": 0})
                    continue
                rp = urllib.robotparser.RobotFileParser()
                rp.parse(txt.splitlines())
                entry = None
                for e in rp.entries:
                    if e.applies_to(user_agent):
                        entry = e
                        break
                if entry is None:
                    entry = rp.default_entry
                rules = [] if entry is None else [
                    {"prefix": l.path, "allow": bool(l.allowance)}
                    for l in entry.rulelines
                ]
                simple = all(set(x["prefix"]) <= _QUOTE_SAFE for x in rules)
                rows.append({"host": r.host, "rules": rules,
                             "allow_all": bool(rp.allow_all),
                             "disallow_all": bool(rp.disallow_all),
                             "simple": simple,
                             "rule1_prefix": rules[0]["prefix"] if rules else None,
                             "rule1_allow": rules[0]["allow"] if rules else None,
                             "n_rules": len(rules)})
            yield pd.DataFrame(rows) if rows else pd.DataFrame(
                columns=["host", "rules", "allow_all", "disallow_all", "simple",
                         "rule1_prefix", "rule1_allow", "n_rules"])

    return hosts.select("host", "robots_txt").mapInPandas(run, schema=RULES_SCHEMA)


def make_parse_url_udf():
    """(host, signature) of a URL — ``urlparse(url).netloc``
    (spandoc.frontier_candidates' host field) and C3
    ``urls.url_signature`` (link_manager.py:27-41) verbatim. In the
    engine every candidate URL already survived urlparse inside the
    extraction pass, so the netloc except-arm ('' like urlsplit's empty
    authority) is reachable only from synthetic inputs."""
    from urllib.parse import urlparse

    @F.pandas_udf("host string, signature string")
    def parse(urls: pd.Series) -> pd.DataFrame:
        from librecrawl_spark.functions import urls as U

        hosts, sigs = [], []
        for u in urls:
            try:
                h = urlparse(u).netloc
            except Exception:
                h = ""
            hosts.append(h)
            sigs.append(U.url_signature(u))
        return pd.DataFrame({"host": hosts, "signature": sigs})

    return parse


# --------------------------------------------------------------------------
# seen-set dedup
# --------------------------------------------------------------------------

def anti_join_seen(candidates: DataFrame, seen: DataFrame,
                   *, big: bool = False) -> DataFrame:
    """Exact dedup: left-anti join candidate.clean_url vs seen.url.

    ``big`` (seen outgrew the broadcast threshold): force shuffle_hash —
    not sort-merge, which would sort BOTH sides — so the build side is
    the seen partition (small per task) and the candidate side streams
    unsorted. When the candidates arrive hash-partitioned on clean_url
    (schedule_wave's keep-first aggregate), the join's required
    distribution is already satisfied and only ``seen`` exchanges.
    Below the threshold the planner's own broadcast choice stays in
    charge."""
    seen_keyed = seen.select(F.col("url").alias("clean_url"))
    if big:
        return candidates.join(seen_keyed.hint("shuffle_hash"), "clean_url", "left_anti")
    return candidates.join(seen_keyed, "clean_url", "left_anti")


# --------------------------------------------------------------------------
# wave scheduling: dedup -> trap -> policy -> new frontier
# --------------------------------------------------------------------------

def policy_gate(df: DataFrame, hosts: DataFrame, base_domain: str,
                config: CrawlConfig, *, url_col: str = "clean_url",
                keep: tuple[str, ...] = ()) -> DataFrame:
    """Append ``policy_ok`` (robots + scope + extension + patterns,
    crawler.py:1425-1492) from the exact Arrow policy UDF, row by row —
    the frontier's only policy path, under every config.

    schedule_wave calls it on the deduped survivors, so each URL is
    evaluated once. ``host`` (which drives the robots lookup) and
    ``signature`` come from one Python parse of ``url_col``
    (``make_parse_url_udf``); ``keep`` may name ``signature``. The
    output projects (url_col, *keep, policy_ok)."""
    pu = make_parse_url_udf()(F.col(url_col))
    policy_udf = make_policy_udf(base_domain, config)
    return (
        df.withColumn("_pu", pu)
        .select("*", F.col("_pu.host").alias("host"),
                F.col("_pu.signature").alias("signature"))
        .drop("_pu")
        .join(F.broadcast(hosts.select("host", "robots_txt")), "host", "left")
        .withColumn("policy_ok", policy_udf(F.col(url_col), F.col("robots_txt")))
        .select(url_col, *keep, "policy_ok")
    )


def schedule_wave(
    candidates: DataFrame,
    seen: DataFrame,
    pattern_counts: DataFrame,   # signature, cnt
    hosts: DataFrame,            # host, robots_txt (broadcast side)
    base_domain: str,
    config: CrawlConfig,
    seq_start: int,
    *,
    src_seq_bounds: tuple[int, int],
    host_rules: DataFrame | None = None,
    seen_big: bool = False,
):
    """One wave of frontier growth. Returns (new_frontier, counts_delta,
    trap_hits, cache_handle); new_frontier is (url, depth, seq).

    ``src_seq_bounds``: the (min, max) seq of the wave's fetched pages —
    the range buckets of the seq assignment are cut from it.

    ``host_rules`` is accepted and unused: the policy UDF reads robots
    from ``hosts``. perfbench's ``wave_bulk`` is the only caller that
    passes it (with ``compile_robots_rules``' output); both go in the
    next change to that workload's set-up.

    Exact-semantics derivation (link_manager.py:83-118, concurrency-1):
    within a wave, candidates are processed in (src_seq, link_idx) order.
    For a signature s with prior accepted count P and threshold T, every
    policy-accepted, first-occurrence candidate increments the count, and
    a candidate is trapped iff the count at its turn >= T. Since only
    accepted candidates increment, the count at position p equals
    P + min(apb(p), max(0, T-P)) where apb(p) = number of accepted
    first-occurrences of s strictly before p. Hence:

        trapped(p)  <=>  P + least(apb(p), greatest(T-P, 0)) >= T
        accepted(p) <=>  first_occurrence(p) and policy(p) and not trapped(p)

    — a closed form needing only one running count, no recursion.

    Physical strategy (scale): the naive plan is two full-data ordered
    windows (per-URL rank, per-signature running sum) — both skew-bound
    (a hot signature serializes in one task). Instead:

    1. dedup-keep-first = groupBy(clean_url).agg(min(struct(pos, ...)))
       — partial aggregation combines map-side; no window, no skew wall.
    2. the policy UDF runs on deduped rows only (one URL, one evaluation).
    3. the exact ordered trap window runs ONLY for signatures that can
       cross the threshold this wave (prior + wave-accepted >= T), i.e.
       the tiny "hot" residue; every cold signature's candidates are
       provably all-accepted (the running count can never reach T), so
       they skip the window entirely. A signature's occurrences all share
       its URLs (signature is a function of the URL), so filtering by
       signature keeps URL groups intact and the hot-path windows stay
       byte-exact. Equivalence is enforced by tests/test_crawl_e2e.py.
    """
    w_pos = [F.col("src_seq").asc(), F.col("link_idx").asc()]
    T = config.trap_threshold

    # NOT persisted up front: the full occurrence set is only re-read by
    # the hot-signature path; steady-state waves (no signature crossing
    # the threshold) never pay the 10^7-row cache materialization.
    # src_url exists only for the self-link gate — dropped immediately so
    # no downstream shuffle carries it (~40B/row on every exchange).
    occ = candidates.filter(F.col("clean_url") != F.col("src_url")).drop("src_url")

    # 1. first occurrence per URL — aggregation, not a window. The order
    # key (src_seq, link_idx) packs with depth into ONE long so the agg
    # buffer is a SINGLE primitive min: HashAggregate (a string or
    # struct in the buffer is immutable-width, demoting the whole agg to
    # SortAggregate — measured 2.1x slower at the 16M wave — which is
    # why signature/host do NOT ride through; being URL-pure (C3:
    # signature = f(clean_url), host = urlparse(url).netloc) they are
    # re-derived from the surviving keys below). Field widths: src_seq
    # 35 bits (3.4e10 pages/crawl), link_idx 20 bits (1M links/page,
    # clamped — ordering past that collapses to depth,
    # pathological-page-only), depth 8 bits (asserted).
    assert config.max_depth < 256, "depth packing requires max_depth < 256"
    assert src_seq_bounds[1] < (1 << 35), "seq packing requires src_seq < 2^35"
    packed = (
        F.shiftleft(F.col("src_seq").cast("long"), 28)
        + F.shiftleft(F.least(F.col("link_idx"), F.lit((1 << 20) - 1)).cast("long"), 8)
        + F.col("depth").cast("long")
    )
    first = (
        occ.withColumn("_p", packed)
        .groupBy("clean_url")
        .agg(F.min("_p").alias("_p"))
    )
    # seen-set dedup AFTER keep-first: the anti-join removes whole
    # clean_url groups and every aggregate above is a pure function of
    # the group's rows, so groupBy-then-anti-join is row-identical to
    # anti-join-then-groupBy — but the join now probes one row per URL
    # (not one per occurrence), and its required distribution matches the
    # aggregate's hash partitioning on clean_url, so the big side never
    # re-exchanges: only `seen` shuffles (or broadcasts below the 64MB
    # session threshold). The hot path stays exact without its own
    # anti-join because occ_hot inner-joins `first` on clean_url and seen
    # URLs are absent from `first`.
    first = anti_join_seen(first, seen, big=seen_big)
    unpack = dict(
        src_seq=F.shiftright(F.col("_p"), 28).cast("long"),
        link_idx=F.shiftright(F.col("_p"), 8).bitwiseAND(F.lit((1 << 20) - 1)).cast("int"),
        depth=F.col("_p").bitwiseAND(F.lit(0xFF)).cast("int"),
    )

    # 2. policy gate on deduped rows (URL-pure => one evaluation per URL);
    # it also re-derives signature/host from the surviving keys.
    # The ONLY cache this wave pins is the slim post-policy projection
    # (url, packed order key, signature, policy_ok) — the fat robots_txt
    # column never hits storage.
    first = policy_gate(first, hosts, base_domain, config,
                        url_col="clean_url", keep=("_p", "signature")).persist()

    # packed lead bounds for the seq-assignment range buckets: _p order
    # IS (src_seq, link_idx) order, and sorting one long beats a
    # two-column comparator
    p_bounds = (src_seq_bounds[0] << 28, ((src_seq_bounds[1] + 1) << 28) - 1)

    spark = candidates.sparkSession
    priors = pattern_counts.withColumnRenamed("cnt", "prior")

    def _probe(fr):
        """3. hot/cold signature split — combined probe: ONE action over
        ONE pass of `fr` returns the threshold-crossing signatures AND
        (optimistically, assuming none) the per-bucket row counts the
        seq assignment needs — the same job also materializes the `fr`
        cache, so each wave runs the policy UDF once, whatever its URLs
        look like. A GROUPING SETS aggregate ((signature), (_bkt))
        folds what used to be a three-branch union (each branch
        re-scanning the cache, each shuffling separately, each an AQE
        query-stage tree of its own) into a single shuffle: the map side emits two partial-agg rows per
        input row, combined to #signatures + #buckets rows before the
        exchange, and only bucket rows plus threshold-crossers survive
        to the collect. This halves the wave's per-job fixed cost at
        high core counts, where job/stage/task-launch scheduling — not
        data — dominates small waves."""
        sig_acc = F.sum(F.col("policy_ok").cast("long"))
        n_buckets = default_seq_buckets(spark)
        width = max((p_bounds[1] - p_bounds[0]) // n_buckets + 1, 1)
        bucket = ((F.col("_p") - F.lit(p_bounds[0])) / F.lit(width)).cast("long")
        # gid per grouping-set row: (signature) rows aggregate _bkt away
        # => gid=1; (_bkt) rows aggregate signature away => gid=2.
        gs = (
            fr.withColumn("_bkt", bucket)
            .groupingSets([["signature"], ["_bkt"]], "signature", "_bkt")
            .agg(
                F.grouping_id().alias("gid"),
                sig_acc.alias("acc"),
            )
        )
        # bucket rows always survive; signature rows only when they
        # cross the threshold — the collect returns #buckets + #crossers
        # rows, never per-signature volume. Bucket rows carry a NULL
        # signature so the left join passes them through unmatched.
        rows = (
            gs.join(priors, "signature", "left")
            .filter(
                (F.col("gid") == 2)
                | (F.coalesce(F.col("prior"), F.lit(0)) + F.col("acc") >= T)
            )
            .collect()
        )
        hot_rows = [(r["signature"], r["prior"] or 0) for r in rows if r["gid"] == 1]
        bkts = {int(r["_bkt"]): r["acc"]
                for r in rows if r["gid"] == 2 and r["acc"]}
        hot = bool(hot_rows)
        hs = spark.createDataFrame(hot_rows or [],
                                   "signature string, prior long").coalesce(1)
        return hs, bkts, hot

    hot_sigs, bkt_counts, has_hot = _probe(first)

    cold_accepted = (
        (first.join(hot_sigs, "signature", "left_anti") if has_hot else first)
        .filter("policy_ok")
        .select(F.col("clean_url").alias("url"), unpack["depth"].alias("depth"),
                "_p", "signature")
    )

    if not has_hot:
        accepted = cold_accepted.persist()
        new_frontier = add_global_seq(
            accepted.drop("signature"), ["_p"], seq_start, lead_bounds=p_bounds,
            bucket_counts=bkt_counts,
        ).drop("_p")
        counts_delta = accepted.groupBy("signature").agg(F.count("*").alias("cnt_delta"))
        trap_hits = spark.createDataFrame(
            [], schema="signature string, hits long, example_url string"
        )
        return new_frontier, counts_delta, trap_hits, _CacheHandles([first, accepted])

    occ = occ.persist()

    # 4. exact ordered semantics for the hot residue only
    # occ_rank from the TRUE (src_seq, link_idx) order, not from
    # unpacking the clamped min key: link_idx saturates at 2^20-1 in the
    # pack, so comparing raw link_idx to the unpacked value would rank
    # nothing first for a URL whose first occurrence sits past the clamp
    # (1M+-link trap pages — exactly where hot signatures live), and a
    # clamp-side comparison could rank two saturated occurrences first.
    # (src_seq, link_idx) is unique per occurrence, so row_number is
    # deterministic; the partition+order matches w_url_before below, so
    # both windows share one exchange+sort.
    occ_hot = (
        occ.join(F.broadcast(hot_sigs), "signature")
        .join(first.select("clean_url", "policy_ok"), "clean_url")
        .withColumn(
            "occ_rank",
            F.when(
                F.row_number().over(
                    Window.partitionBy("clean_url").orderBy(*w_pos)
                ) == 1, 1,
            ).otherwise(2),
        )
    )
    w_sig_before = (
        Window.partitionBy("signature").orderBy(*w_pos)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    first_and_ok = ((F.col("occ_rank") == 1) & F.col("policy_ok")).cast("int")
    occ_hot = occ_hot.withColumn(
        "apb", F.coalesce(F.sum(first_and_ok).over(w_sig_before), F.lit(0))
    )
    trapped = (
        F.col("prior")
        + F.least(F.col("apb"), F.greatest(F.lit(T) - F.col("prior"), F.lit(0)))
        >= T
    )
    occ_hot = occ_hot.withColumn("trapped", trapped).withColumn(
        "accepted", (F.col("occ_rank") == 1) & F.col("policy_ok") & ~F.col("trapped")
    )
    # intra-wave "already seen": an earlier occurrence of this URL was
    # accepted — with keep-first semantics that is exactly "the first
    # occurrence was accepted and this is a later occurrence"
    w_url_before = (
        Window.partitionBy("clean_url").orderBy(*w_pos)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    occ_hot = occ_hot.withColumn(
        "seen_intra",
        F.coalesce(F.sum(F.col("accepted").cast("int")).over(w_url_before), F.lit(0)) > 0,
    )

    hot_accepted = occ_hot.filter("accepted").select(
        F.col("clean_url").alias("url"), "depth", packed.alias("_p"), "signature"
    )
    accepted = cold_accepted.unionByName(hot_accepted).persist()

    new_frontier = add_global_seq(
        accepted.drop("signature"), ["_p"], seq_start, lead_bounds=p_bounds,
    ).drop("_p")

    counts_delta = accepted.groupBy("signature").agg(F.count("*").alias("cnt_delta"))
    trap_hits = (
        occ_hot.filter(F.col("trapped") & ~F.col("seen_intra"))
        .groupBy("signature")
        .agg(
            F.count("*").alias("hits"),
            F.min_by(F.col("clean_url"), F.struct("src_seq", "link_idx")).alias("example_url"),
        )
    )
    return new_frontier, counts_delta, trap_hits, _CacheHandles([occ, first, accepted])


class _CacheHandles:
    """Unpersist handle for the intermediate caches a wave pins."""

    def __init__(self, dfs):
        self.dfs = dfs

    def unpersist(self):
        for d in self.dfs:
            d.unpersist()


# --------------------------------------------------------------------------
# politeness + skew handling
# --------------------------------------------------------------------------

def host_of(url_col):
    """Authority of an http(s) URL via pure string ops (codegen; no
    regex). Frontier URLs are policy-admitted http(s) only, but the
    scheme guard is kept belt-and-braces: a stray non-http URL (e.g.
    ftp://h0.example/x) must yield '' — not the real host — or it would
    consume that host's politeness quota. Still pure codegen, no regex."""
    after = url_col.substr(F.instr(url_col, "://") + F.lit(3), F.length(url_col))
    slash = F.instr(after, "/")
    host = F.when(slash > 0, after.substr(F.lit(1), slash - 1)).otherwise(after)
    return F.when(
        url_col.startswith("http://") | url_col.startswith("https://"), host
    ).otherwise(F.lit(""))


def apply_politeness(eligible: DataFrame, hosts: DataFrame,
                     wave_seconds: float,
                     seq_bounds: tuple[int, int] | None = None
                     ) -> tuple[DataFrame, DataFrame]:
    """Per-host per-wave fetch quota: a host with crawl-delay d gets
    floor(wave_seconds/d) fetch slots this wave (>=1); overflow rows are
    deferred to the next wave preserving their seq (FIFO within host).
    This is the batch re-expression of the reference's token-bucket
    pacing (rate_limiter.py:24-38) made per-host, as the north rule
    requires. Returns (selected, deferred).

    One host-keyed exchange, row_number per host, rank <= budget.
    Zero-delay hosts bypass the window, so the hot *unlimited* host
    never serializes; each rate-limited host's rows sort in one task.

    ``seq_bounds`` is accepted and unused: perfbench's wave workload
    passes the wave's seq range."""
    cols = list(eligible.columns)
    e = eligible.withColumn("_h", host_of(F.col("url")))
    e = e.join(
        F.broadcast(hosts.select(F.col("host").alias("_h"), "crawl_delay")),
        "_h", "left",
    ).fillna({"crawl_delay": 0.0})
    # hosts without a crawl-delay have unlimited budget — they skip the
    # quota machinery entirely
    unlimited = e.filter(F.col("crawl_delay") <= 0).select(*cols)
    limited = e.filter(F.col("crawl_delay") > 0)
    budget = F.greatest(
        F.floor(F.lit(wave_seconds) / F.col("crawl_delay")), F.lit(1)
    ).cast("long")
    limited = limited.withColumn("_budget", budget).drop("crawl_delay")
    w_host = Window.partitionBy("_h").orderBy("seq")
    ranked = limited.withColumn("_hrank", F.row_number().over(w_host))
    selected = unlimited.unionByName(
        ranked.filter(F.col("_hrank") <= F.col("_budget")).select(*cols))
    deferred = ranked.filter(F.col("_hrank") > F.col("_budget")).select(*cols)
    return selected, deferred


def salted_repartition(df: DataFrame, salt_buckets: int = 16) -> DataFrame:
    """Spread hot hosts across ``salt_buckets`` partitions while keeping
    host affinity for cold hosts: partition key = xxhash64(host, salt)
    with salt = xxhash64(url) % salt_buckets. Breaks hot-domain skew in
    the fetch/extract stage (north_rule; SURVEY.md §4)."""
    salt = F.pmod(F.xxhash64(F.col("url")), F.lit(salt_buckets))
    return df.repartition(F.xxhash64(host_of(F.col("url")), salt))
