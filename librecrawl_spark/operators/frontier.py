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
                   out_col: str = "seq",
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
        return df.withColumn(out_col, F.lit(start).cast("long"))
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
        .withColumn(out_col, (F.col("_off") + F.row_number().over(w) - 1).cast("long"))
        .drop("_bkt", "_off")
    )


# --------------------------------------------------------------------------
# policy (robots + scope + extension + patterns) — Arrow UDF
# --------------------------------------------------------------------------

def make_policy_udf(base_domain: str, config: CrawlConfig):
    """Vectorized policy gate. Exact ``_should_crawl_url`` semantics
    (crawler.py:1425-1492) including robots (RobotFileParser per distinct
    robots.txt body, cached per batch; unreadable => allow,
    crawler.py:1543-1546). One Arrow batch = thousands of URLs per
    Python invocation."""
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

    @F.pandas_udf(BooleanType())
    def policy_ok(url: pd.Series, robots_txt: pd.Series) -> pd.Series:
        import urllib.robotparser

        from librecrawl_spark.functions import urls as U

        parsers: dict = {}

        def robots_for(txt):
            if txt is None:
                return None  # no robots.txt => allow
            rp = parsers.get(txt)
            if rp is None:
                rp = urllib.robotparser.RobotFileParser()
                rp.parse(txt.splitlines())
                parsers[txt] = rp
            return rp

        out = []
        for u, txt in zip(url, robots_txt):
            allows = None
            if respect_robots:
                rp = robots_for(txt)
                allows = (lambda x, rp=rp: rp.can_fetch(user_agent, x)) if rp else (lambda x: True)
            out.append(U.should_crawl(u, base_domain, robots_allows=allows, **cfg))
        return pd.Series(out, dtype=bool)

    return policy_ok


# --------------------------------------------------------------------------
# native policy fast path (JVM-side robots + scope + extension)
# --------------------------------------------------------------------------

RULES_SCHEMA = ("host string, rules array<struct<prefix:string,allow:boolean>>, "
                "allow_all boolean, disallow_all boolean, simple boolean, "
                "rule1_prefix string, rule1_allow boolean, n_rules int")

# characters urllib.parse.quote never escapes (letters, digits, '_.-~')
# plus '/' (quote's default safe) — a URL suffix made only of these is a
# fixed point of the can_fetch normalization (unquote+urlparse+quote)
_QUOTE_SAFE = set("abcdefghijklmnopqrstuvwxyz"
                  "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789_.-~/")
# eligibility used to be the regex ^https?://[^/%]+(/[quote-safe]*)?$;
# _native_policy_parts now evaluates the same predicate with
# startswith/translate string ops (codegen-friendly, ~3x cheaper)


def compile_robots_rules(hosts: DataFrame, user_agent: str) -> DataFrame:
    """One-time Python pass over the HOSTS table (tiny next to the
    frontier): parse each robots.txt with urllib's RobotFileParser and
    extract the ordered (prefix, allow) rule list of the entry that
    applies to ``user_agent`` (first matching entry, else the '*'
    default — exactly can_fetch's selection). The rule paths are stored
    verbatim as urllib quotes them, so native prefix matching reproduces
    RuleLine.applies_to bit-for-bit (note: urllib quotes 'Disallow: *'
    to '%2A', so its match-all special case is dead code — verbatim
    prefixes are exact). ``simple`` marks rule sets whose prefixes are
    all quote-safe characters: only those are natively evaluable."""

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
                             # single-rule fast path: robots_ok evaluates as
                             # one startswith in whole-stage codegen (the
                             # array-lambda match below is interpreted-only)
                             "rule1_prefix": rules[0]["prefix"] if rules else None,
                             "rule1_allow": rules[0]["allow"] if rules else None,
                             "n_rules": len(rules)})
            yield pd.DataFrame(rows) if rows else pd.DataFrame(
                columns=["host", "rules", "allow_all", "disallow_all", "simple",
                         "rule1_prefix", "rule1_allow", "n_rules"])

    return hosts.select("host", "robots_txt").mapInPandas(run, schema=RULES_SCHEMA)


def _strip_www_once(c):
    """replace('www.', '', 1) — first occurrence anywhere, natively."""
    i = F.instr(c, "www.")
    return F.when(
        i > 0,
        F.concat(F.substring(c, F.lit(1), i - 1),
                 F.substring(c, i + 4, F.length(c))),
    ).otherwise(c)


def _url_parts(url_col):
    """(host, tail) via pure string ops — no regex in the hot path.
    host = chars between '://' and the first following '/'; tail = that
    '/' onward ('' when absent). Only consumed where ``eligible`` has
    already verified the http(s) scheme, so the instr offsets are valid."""
    after = url_col.substr(F.instr(url_col, "://") + F.lit(3), F.length(url_col))
    slash = F.instr(after, "/")
    host = F.when(slash > 0, after.substr(F.lit(1), slash - 1)).otherwise(after)
    tail = F.when(slash > 0, after.substr(slash, F.length(after))).otherwise(F.lit(""))
    return host, tail


# characters a netloc may carry for the codegen parse to be
# urlparse-exact: alnum, dot, dash (hosts), ':' (port), '@'/'_'/'~'
# (userinfo). Everything else — '?' or '#' before the first '/' (which
# would end urlparse's netloc early), '%', brackets (urlsplit's
# bracketed-host validation can raise), space/tab/CR/LF (urlsplit
# strips or deletes them), non-ASCII (3.11's NFKC netloc check) —
# routes the row to the exact-Python residue.
_HOST_SAFE = ("abcdefghijklmnopqrstuvwxyz"
              "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789.-:@_~")


def parse_url_native(url_col):
    """(parseable, netloc, signature) as pure column expressions —
    ``urlparse(url).netloc`` (spandoc.frontier_candidates' host field)
    and C3 ``urls.url_signature`` (link_manager.py:27-41) re-derived
    from the URL so schedule_wave's keep-first aggregate never carries
    the strings (a string agg buffer forces SortAggregate; min over the
    packed long hash-aggregates, measured 2.1x at the 16M wave).

    The gate is regex-free (startswith + translate-delete, same trick
    as the policy's ``eligible``): lowercase http(s) scheme, netloc
    chars in _HOST_SAFE, path chars in _SAFE_STR. For gated rows the
    slices are urlparse-exact because parsing is pure string slicing
    and no '?', '#' or ';' can appear (so query/fragment/params
    splitting is vacuous and path == tail), and the path is ASCII so
    Java [0-9] == Python \\d for the signature's digit runs. Rows
    outside the gate get NULLs and take the exact-Python residue
    (make_parse_url_udf), mirroring the policy gate's eligible/udf
    split — the two short regexp_replaces below run only for the
    signature value itself."""
    host_col, tail = _url_parts(url_col)
    scheme_ok = url_col.startswith("http://") | url_col.startswith("https://")
    parseable = (
        scheme_ok
        & (F.translate(host_col, _HOST_SAFE, "") == "")
        & (F.translate(tail, _SAFE_STR, "") == "")
    )
    sig = F.regexp_replace(tail, "[0-9]+", "\\\\d+")
    sig = F.regexp_replace(
        sig,
        "[a-f0-9]{8}-[a-f0-9]{4}-[a-f0-9]{4}-[a-f0-9]{4}-[a-f0-9]{12}",
        "\\\\uuid",
    )
    return parseable, host_col, sig


def make_parse_url_udf():
    """Exact-Python (host, signature) for the rows parse_url_native
    gated out — urlparse().netloc + urls.url_signature verbatim. In the
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


_SAFE_STR = ("abcdefghijklmnopqrstuvwxyz"
             "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789_.-~/")


def _native_policy_parts(url_col, base_domain: str, config: CrawlConfig):
    """Shared pieces: (eligible, m, scope_ok, ext_ok, robots-default
    chain builder). See native_policy_exprs for the contract."""
    host_col, tail = _url_parts(url_col)
    m = F.when(tail == "", F.lit("/")).otherwise(tail)

    # equivalent to rlike('^https?://[^/%]+(/[quote-safe]*)?$') but in
    # whole-stage codegen: startswith + translate-delete instead of a
    # per-row java.util.regex match (measured ~3x cheaper on the wave)
    scheme_ok = url_col.startswith("http://") | url_col.startswith("https://")
    eligible = (
        scheme_ok
        & (F.length(host_col) > 0)
        & ~host_col.contains("%")
        & (F.translate(tail, _SAFE_STR, "") == "")
        & F.coalesce("simple", F.lit(True))
    )

    base_www = base_domain.replace("www.", "", 1)
    is_internal = _strip_www_once(host_col) == F.lit(base_www)
    is_sub = host_col.endswith("." + base_domain.replace("www.", ""))
    scope_ok = (
        F.when(is_internal, F.lit(True))
        .when(is_sub, F.lit(config.crawl_subdomains))
        .otherwise(F.lit(config.crawl_external))
    )

    p = F.lower(m)  # eligible URLs have no params/query/fragment
    # split('.')[-1] quirk natively: substring_index after the last dot
    ext = F.substring_index(p, ".", -1)
    ext_ok = F.when(~p.contains("."), F.lit(True)).otherwise(
        ~ext.isin(*config.exclude_extensions)
        if not config.include_extensions
        else (~ext.isin(*config.exclude_extensions)
              & ext.isin(*config.include_extensions))
    )
    if not config.exclude_extensions and not config.include_extensions:
        ext_ok = F.lit(True)
    return eligible, m, scope_ok, ext_ok


def _robots_chain(first_rule):
    return (
        F.when(F.coalesce("disallow_all", F.lit(False)), F.lit(False))
        .when(F.coalesce("allow_all", F.lit(False)), F.lit(True))
        .otherwise(F.coalesce(first_rule, F.lit(True)))
    )


def native_policy_exprs(url_col, base_domain: str, config: CrawlConfig):
    """(eligible, m, policy_ok) column expressions reproducing
    urls.should_crawl exactly for the native-eligible subset:

    - eligible: the URL's post-host suffix is all quote-safe characters
      (can_fetch's unquote/quote normalization is then the identity, and
      urlparse params/query/fragment splitting is vacuous) AND the
      host's compiled rule prefixes are ``simple``. Everything else
      falls back to the Python UDF — exactness first.
    - policy_ok: scope (www-insensitive host compare / subdomain /
      external), robots (ordered first-prefix-match over the compiled
      rules, default allow; missing robots => allow), extension
      include/exclude with the reference's split('.')[-1] quirk.

    Requires joined columns: rules, allow_all, disallow_all, simple, and
    the caller must bind ``m`` as column ``_m_`` (the rules lambda reads
    it by name). Pattern filters (fnmatch/regex) are NOT natively
    evaluated — callers must use the UDF path when configured
    (Python-regex fidelity)."""
    eligible, m, scope_ok, ext_ok = _native_policy_parts(url_col, base_domain, config)
    if config.respect_robots:
        first_rule = F.expr(
            "try_element_at(filter(rules, r -> startswith(_m_, r.prefix)), 1).allow"
        )
        robots_ok = _robots_chain(first_rule)
    else:
        robots_ok = F.lit(True)
    return eligible, m, (scope_ok & robots_ok & ext_ok)


def native_policy_exprs_fast(url_col, base_domain: str, config: CrawlConfig):
    """Single-rule variant of native_policy_exprs: robots matching is one
    column-level startswith against the compiled ``rule1_prefix``, so the
    whole policy stays inside whole-stage codegen (the array-lambda rule
    walk above is interpreted-only and measurably dominates the wave).
    Valid ONLY for rows with n_rules <= 1 — schedule_wave routes multi-
    rule hosts to the general expression. Requires joined columns:
    rule1_prefix, rule1_allow, allow_all, disallow_all, simple."""
    eligible, m, scope_ok, ext_ok = _native_policy_parts(url_col, base_domain, config)
    if config.respect_robots:
        r1 = F.when(m.startswith(F.col("rule1_prefix")), F.col("rule1_allow"))
        robots_ok = _robots_chain(r1)
    else:
        robots_ok = F.lit(True)
    return eligible, m, (scope_ok & robots_ok & ext_ok)


def _can_use_native_policy(config: CrawlConfig) -> bool:
    return not config.include_patterns and not config.exclude_patterns


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

def policy_gate_lazy(df: DataFrame, hosts: DataFrame, base_domain: str,
                     config: CrawlConfig, host_rules: DataFrame | None = None,
                     *, url_col: str = "clean_url",
                     keep: tuple[str, ...] = ()) -> tuple[DataFrame, DataFrame]:
    """Native policy in ONE pass + a deferred UDF residue.

    Returns ``(lazy, udf_part)``:

    - ``lazy``: (url_col, *keep, policy_ok) for EVERY input row, where
      policy_ok is the native verdict for quote-safe/simple-rule rows and
      NULL for rows that need the Python policy UDF (non-http scheme,
      quoted chars, complex robots prefixes). Single scan; the CaseWhen
      keeps single-rule rows on the codegen'd fast expression and only
      multi-rule rows pay the interpreted array-lambda walk.
    - ``udf_part``: the exact UDF verdicts for the NULL rows, same slim
      schema, derived from the same join lineage (``policy_gate`` over
      the residue). Callers evaluate it ONLY when the lazy frame
      actually contains NULLs (schedule_wave piggybacks that count on
      its probe action) — steady-state waves of quote-safe URLs never
      pay a second reduce-side pass for the residue.

    Requires ``_can_use_native_policy(config)``."""
    assert _can_use_native_policy(config)
    slim = (url_col, *keep, "policy_ok")
    if host_rules is None:
        host_rules = compile_robots_rules(hosts, config.user_agent)
    j = df.join(
        F.broadcast(host_rules.select(
            "host", "rules", "allow_all", "disallow_all", "simple",
            "rule1_prefix", "rule1_allow", "n_rules")),
        "host", "left",
    )
    eligible, m, fast_ok = native_policy_exprs_fast(
        F.col(url_col), base_domain, config
    )
    _, _, hof_ok = native_policy_exprs(F.col(url_col), base_domain, config)
    # df's host/signature came from parse_url_native and are NULL
    # outside its gate — those rows must take the exact residue (a
    # NULL host would otherwise fall through the robots chain's
    # missing-host allow-default even when the real host has rules)
    eligible = eligible & F.col("host").isNotNull()
    single = (F.coalesce("n_rules", F.lit(0)) <= 1) if config.respect_robots \
        else F.lit(True)
    # NULL-as-"needs udf" is sound: the native verdict itself is never
    # NULL (scope/ext are literal-closed whens, the robots chain
    # coalesces missing-host rule columns to the allow default)
    lazy = (
        j.withColumn("_m_", m)
        .withColumn(
            "policy_ok",
            F.when(eligible, F.when(single, fast_ok).otherwise(hof_ok)),
        )
        .select(*slim)
    )
    udf_part = policy_gate(j.filter(~eligible), hosts, base_domain, config,
                           url_col=url_col, keep=keep)
    return lazy, udf_part


def policy_gate(df: DataFrame, hosts: DataFrame, base_domain: str,
                config: CrawlConfig, *, url_col: str = "clean_url",
                keep: tuple[str, ...] = ()) -> DataFrame:
    """Append ``policy_ok`` (robots + scope + extension + patterns,
    crawler.py:1425-1492) from the exact Arrow policy UDF, row by row.

    Two callers: schedule_wave when include/exclude patterns are
    configured (the native expressions do not evaluate fnmatch/regex
    patterns), and policy_gate_lazy's residue. ``df`` carries
    ``url_col`` plus the ``host`` (and, when kept, ``signature``) that
    parse_url_native derived — NULL outside its gate, so the exact
    Python parse completes them first (the host drives the robots
    lookup). The output projects (url_col, *keep, policy_ok)."""
    pu = make_parse_url_udf()(F.col(url_col))
    df = df.withColumn("_pu", pu).withColumn(
        "host", F.coalesce(F.col("host"), F.col("_pu.host"))
    )
    if "signature" in keep:
        df = df.withColumn(
            "signature", F.coalesce(F.col("signature"), F.col("_pu.signature"))
        )
    policy_udf = make_policy_udf(base_domain, config)
    return (
        df.drop("_pu")
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
    # signature/host re-derived on the deduped survivors (one eval per
    # URL, codegen); rows outside the exact-native gate carry NULLs and
    # are completed by the policy residue (their policy_ok is NULL too,
    # so the probe's null count routes them to policy_gate's parse)
    _par, _netloc, _sig = parse_url_native(F.col("clean_url"))
    first = first.select(
        "clean_url", "_p",
        F.when(_par, _sig).alias("signature"),
        F.when(_par, _netloc).alias("host"),
    )
    unpack = dict(
        src_seq=F.shiftright(F.col("_p"), 28).cast("long"),
        link_idx=F.shiftright(F.col("_p"), 8).bitwiseAND(F.lit((1 << 20) - 1)).cast("int"),
        depth=F.col("_p").bitwiseAND(F.lit(0xFF)).cast("int"),
    )

    # 2. policy gate on deduped rows (URL-pure => one evaluation per URL).
    # Native configs take the LAZY gate: ONE scan produces the verdict
    # for every quote-safe/simple-rule row and NULL for the (usually
    # empty) residue that needs the exact Python policy. The NULL count
    # piggybacks on the probe action below, so a steady-state wave never
    # materializes the UDF branch at all — no second reduce-side pass
    # over the dedup shuffle, no Python worker spin-up. Only when a wave
    # actually carries quoted/odd URLs does it pay one extra pass to fold
    # the UDF verdicts in (and re-probe, since wave_acc/bucket counts
    # must be computed over the completed verdicts).
    # The ONLY cache this wave pins is the slim post-policy projection
    # (url, packed order key, signature, policy_ok) — the fat
    # robots_txt/rules columns never hit storage.
    lazy_udf = None
    if _can_use_native_policy(config):
        lazy, lazy_udf = policy_gate_lazy(
            first, hosts, base_domain, config, host_rules,
            url_col="clean_url", keep=("_p", "signature"))
        first = lazy.persist()
    else:
        first = policy_gate(first, hosts, base_domain, config,
                            url_col="clean_url", keep=("_p", "signature")).persist()
    pre = first

    # packed lead bounds for the seq-assignment range buckets: _p order
    # IS (src_seq, link_idx) order, and sorting one long beats a
    # two-column comparator
    p_bounds = (src_seq_bounds[0] << 28, ((src_seq_bounds[1] + 1) << 28) - 1)

    spark = candidates.sparkSession
    priors = pattern_counts.withColumnRenamed("cnt", "prior")

    def _probe(fr, count_nulls):
        """3. hot/cold signature split — combined probe: ONE action over
        ONE pass of `fr` returns the threshold-crossing signatures AND
        (optimistically, assuming none) the per-bucket row counts the
        seq assignment needs AND the lazy-policy NULL count — the same
        job also materializes the `fr` cache. A GROUPING SETS aggregate
        ((signature), (_bkt)) folds what used to be a three-branch
        union (each branch re-scanning the cache, each shuffling
        separately, each an AQE query-stage tree of its own) into a
        single shuffle: the map side emits two partial-agg rows per
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
                F.sum(F.col("policy_ok").isNull().cast("long")).alias("nulls"),
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
        n_null = (sum(r["nulls"] for r in rows if r["gid"] == 2)
                  if count_nulls else 0)
        hot = bool(hot_rows)
        hs = spark.createDataFrame(hot_rows or [],
                                   "signature string, prior long").coalesce(1)
        return hs, bkts, hot, n_null

    hot_sigs, bkt_counts, has_hot, n_null = _probe(first, lazy_udf is not None)
    if n_null:
        # rare wave: some URLs need the exact Python policy — fold the
        # UDF verdicts in and re-probe over the completed verdicts
        exact = (first.filter(F.col("policy_ok").isNotNull())
                 .unionByName(lazy_udf).persist())
        first.unpersist()
        first = pre = exact
        hot_sigs, bkt_counts, has_hot, _ = _probe(first, False)

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
        return new_frontier, counts_delta, trap_hits, _CacheHandles([pre, accepted])

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
    return new_frontier, counts_delta, trap_hits, _CacheHandles([occ, pre, accepted])


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
    host, _ = _url_parts(url_col)
    return F.when(
        url_col.startswith("http://") | url_col.startswith("https://"), host
    ).otherwise(F.lit(""))


def apply_politeness(eligible: DataFrame, hosts: DataFrame,
                     wave_seconds: float,
                     seq_bounds: tuple[int, int] | None = None,
                     host_col: str | None = None) -> tuple[DataFrame, DataFrame]:
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
    passes the wave's seq range. ``host_col``: name of a precomputed
    host column to use instead of re-deriving it from the URL (it stays
    in the output columns)."""
    cols = list(eligible.columns)
    e = eligible.withColumn(
        "_h", F.col(host_col) if host_col else host_of(F.col("url")))
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


def salted_repartition(df: DataFrame, url_col: str = "url",
                       num_partitions: int | None = None,
                       salt_buckets: int = 16) -> DataFrame:
    """Spread hot hosts across ``salt_buckets`` partitions while keeping
    host affinity for cold hosts: partition key = xxhash64(host, salt)
    with salt = xxhash64(url) % salt_buckets. Breaks hot-domain skew in
    the fetch/extract stage (north_rule; SURVEY.md §4)."""
    host = host_of(F.col(url_col))
    salt = F.pmod(F.xxhash64(F.col(url_col)), F.lit(salt_buckets))
    key = F.xxhash64(host, salt)
    if num_partitions:
        return df.repartition(num_partitions, key)
    return df.repartition(key)
