"""CrawlEngine — the per-wave driver loop (the engine's only imperative
component; everything inside a wave is a declarative DataFrame plan).

Bootstrap: the seed list, then the base host's sitemap page URLs,
parsed once on the driver (``_bootstrap_urls``), become the first
``pending`` rows (url, depth, seq).

Spark lifecycle per wave (SURVEY.md §3 E1 equivalent):

    pending -> depth gate -> max_urls cut (seq order) -> politeness cut
    (the wave ends just before the first row over its host's quota)
    -> salted repartition -> fetch join -> size gate -> inline retries
    -> extract (Arrow) -> explode links -> schedule_wave (dedup/trap/
    policy windows) -> next frontier

Retries: a 429 resolves inside its own wave (closed form of the
reference's blocking loop, crawler.py:941-976), so the reference's FIFO
fetch order holds for retried pages too.

Ordering contract: the reference's concurrency-1 FIFO (deque popleft,
crawler.py:757-795 + link_manager.py:253-258) equals processing in
global discovery-sequence order, because every URL discovered while
processing wave k is appended after all wave-k URLs. Waves here are
contiguous ``seq`` ranges, so fetch order == deque order exactly.

Budget semantics: the reference stops submitting once crawled >=
max_urls (crawler.py:778-780,827-830) and discards over-depth pops
without consuming budget (crawler.py:788-790); reproduced by cutting
the wave at the seq of the remaining-budget-th depth-eligible row.

Checkpoint/resume: with a ``checkpoint_dir``, every wave commits the
state tables (seen/pending/counts/traps overwrite; pages/links/sources
append) through storage.tableio's snapshot manifests and pins them in an
atomic crawl-level checkpoint — the engine analogue of the reference's
resume path (crawler.py:443-565) with snapshot isolation instead of its
'running'-status crash scan (crawl_db.py:657-677).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession, functions as F

from librecrawl_spark.config import CrawlConfig
from librecrawl_spark.operators import extract as X, frontier as FR
from librecrawl_spark.storage.tableio import TableIO

STATE_TABLES = ("seen", "pending", "counts", "traps")


@dataclass
class CrawlResult:
    pages: DataFrame
    links: DataFrame
    seen: DataFrame          # url, depth, seq (discovery order)
    traps: DataFrame         # pattern, example_url, count
    lineage: list = field(default_factory=list)
    stats: dict = field(default_factory=dict)
    # unique parsed sitemap page URLs (crawler.py:366) — the J3 input;
    # None when sitemap discovery was off or the crawl resumed
    sitemap_urls: DataFrame | None = None
    # the crawl's config: issues() defaults its duplication knobs and
    # exclusion patterns from here (None for hand-built results)
    config: CrawlConfig | None = None

    def issues(self, *, duplication_threshold: float | None = None,
               enable_duplication_check: bool | None = None,
               exclusion_patterns: tuple[str, ...] | None = None) -> DataFrame:
        """The full issue report in one call — the engine analogue of
        the reference's /api/crawl_status issues list (main.py:968-1003):
        per-page + whole-crawl + sitemap issue rows when the crawl
        discovered a sitemap."""
        from librecrawl_spark.operators.issues import detect_all_issues

        cfg = self.config
        if duplication_threshold is None:
            duplication_threshold = cfg.duplication_threshold if cfg else 0.85
        if enable_duplication_check is None:
            enable_duplication_check = (cfg.enable_duplication_check
                                        if cfg else True)
        if exclusion_patterns is None:
            exclusion_patterns = (tuple(cfg.issue_exclusion_patterns)
                                  if cfg else ())
        return detect_all_issues(
            self.pages, self.links, sitemap_urls=self.sitemap_urls,
            duplication_threshold=duplication_threshold,
            enable_duplication_check=enable_duplication_check,
            exclusion_patterns=tuple(exclusion_patterns),
        )

    def sitemap_health(self) -> DataFrame | None:
        """A7 dirty-sitemap tallies (issue_detector.py:1617-1626), or
        None when no sitemap was discovered."""
        if self.sitemap_urls is None:
            return None
        from librecrawl_spark.operators.issues import sitemap_health

        return sitemap_health(self.sitemap_urls, self.pages)


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        documents: DataFrame,
        hosts: DataFrame,
        base_url: str,
        config: CrawlConfig,
        seed_urls: list[str] | None = None,
        politeness: bool = False,
        checkpoint_dir: str | None = None,
        max_waves: int | None = None,
        sitemap_bodies: dict[str, str] | None = None,
    ):
        self.spark = spark
        self.documents = documents
        self.hosts = hosts
        self.config = config.for_seed(base_url)
        self.base_url = base_url
        self.base_domain = urlparse(base_url).netloc
        self.seed_urls = seed_urls or [base_url]
        self.politeness = politeness
        self.tio = TableIO(checkpoint_dir) if checkpoint_dir else None
        self.max_waves = max_waves
        self.sitemap_bodies = sitemap_bodies or {}
        self._sitemap_locs_raw: list[str] | None = None

    def _bootstrap_urls(self) -> list[str]:
        """The crawl's bootstrap: the seed list + (optionally) the base
        host's sitemap page URLs in document order, policy-checked — the
        engine side of crawler.py:269,362-381. Like the reference, the
        sitemap tree is parsed once, on the driver (the base host's row
        and the robots rows of the locs' hosts are collected); wave-time
        scheduling stays fully distributed."""
        out = list(self.seed_urls)
        if not self.config.discover_sitemaps:
            return out
        from librecrawl_spark.sources.sitemap import recursive_locs

        rows = self.hosts.filter(F.col("host") == self.base_domain).select(
            "robots_txt", "sitemap_xml"
        ).collect()
        if not rows or not rows[0]["sitemap_xml"]:
            return out
        # S6: recursive sitemap-index parse (sitemap_parser.py:68-148) —
        # nested indexes resolve through sitemap_bodies, depth-first,
        # bounded at 10 levels, page URLs in document order
        locs = recursive_locs(rows[0]["sitemap_xml"], self.sitemap_bodies)
        self._sitemap_locs_raw = list(locs)

        loc_hosts = {urlparse(u).netloc for u in locs}
        robots_by_host = {
            r["host"]: r["robots_txt"]
            for r in self.hosts.filter(F.col("host").isin(*loc_hosts))
            .select("host", "robots_txt").collect()
        } if loc_hosts else {}
        ok = FR.policy_predicate(self.base_domain, self.config)
        out += [u for u in locs if ok(u, robots_by_host.get(urlparse(u).netloc))]
        return out

    # ------------------------------------------------------------------ state
    def _fresh_state(self) -> dict:
        spark = self.spark
        seed_urls = list(dict.fromkeys(self._bootstrap_urls()))
        pending = spark.createDataFrame(
            [(u, 0, i) for i, u in enumerate(seed_urls)],
            schema="url string, depth int, seq long",
        )
        next_seq = len(seed_urls)
        return {
            "pending": pending,
            "seen": pending,
            "counts": spark.createDataFrame([], schema="signature string, cnt long"),
            "traps": spark.createDataFrame(
                [], schema="signature string, example_url string, hits long, first_wave int"
            ),
            "crawled": 0,
            "next_seq": next_seq,
            "wave": 0,
        }

    def _resume_state(self, ck: dict) -> dict:
        st = {
            name: self.tio.read(self.spark, name, ck["tables"][name])
            for name in STATE_TABLES
        }
        # checkpoints written when pending carried retry/wave columns or
        # seen an extra hash column
        for name in ("pending", "seen"):
            st[name] = st[name].select("url", "depth", "seq")
        st.update(ck["state"])
        return st

    def _commit_state(self, st: dict, pages: DataFrame, links: DataFrame,
                      sources: DataFrame) -> None:
        snaps = {}
        snaps["pages"] = self.tio.commit("pages", pages, mode="append")
        snaps["links"] = self.tio.commit("links", links, mode="append")
        snaps["sources"] = self.tio.commit("sources", sources, mode="append")
        for name in STATE_TABLES:
            snaps[name] = self.tio.commit(name, st[name], mode="overwrite")
        self.tio.checkpoint(
            {k: st[k] for k in ("crawled", "next_seq", "wave")}, snaps
        )
        k = self.config.maintenance_every_waves
        if k and st["wave"] > 0 and st["wave"] % k == 0:
            self._maintain(snaps)

    def _maintain(self, snaps: dict) -> None:
        """Every-K-waves storage maintenance (config
        .maintenance_every_waves): bin-pack the append tables' small
        per-wave files (compact_small — O(small files) per run, never a
        full-table rewrite), re-pin the checkpoint at the compacted
        snapshots, then expire unpinned manifests + vacuum orphaned
        data files on every table (the overwrite-mode state tables need
        only the expiry — each wave's overwrite is already one fresh
        file set, but its predecessors' manifests and files accumulate).
        Order matters for crash-atomicity: compaction only ADDS a
        snapshot (a crash before the re-pin resumes from the
        pre-compact pin and gc_to drops the extra snapshot, exactly as
        for a torn append); expiry runs only AFTER the checkpoint pins
        the compacted generation, so every file the pinned manifests
        reference survives — the kill-and-resume suite crosses this
        boundary (tests/test_checkpoint_resume.py)."""
        ck = self.tio.load_checkpoint()
        for name in ("pages", "links", "sources"):
            snaps[name] = self.tio.compact_small(self.spark, name)
        self.tio.checkpoint(ck["state"], snaps)
        for name in list(snaps):
            self.tio.expire_snapshots(name, keep_last=1)

    # -------------------------------------------------------------------- run
    def run(self) -> CrawlResult:
        # the raised broadcast threshold is scoped to the crawl (not a
        # global session default): every wave action plans inside this
        # context, so the seen-set anti-join / hosts joins still
        # broadcast up to 64MB, without exposing unrelated sessions'
        # joins to the hash-build memory spike
        from librecrawl_spark.session import broadcast_threshold

        with broadcast_threshold(self.spark):
            return self._run()

    def _run(self) -> CrawlResult:
        spark = self.spark
        cfg = self.config

        fetch_map = X.resolve_redirects(X.http_meta(self.documents)).persist()
        fetch_map.count()

        ck = self.tio.load_checkpoint() if self.tio else None
        if self.tio:
            # Crash-atomicity: drop any snapshot committed after the pinned
            # checkpoint (or all of them when starting fresh). A crash
            # between an append commit and checkpoint() otherwise leaves an
            # orphan snapshot that the re-run wave would append on top of,
            # permanently duplicating pages/links/sources rows.
            pinned = ck["tables"] if ck else {}
            for name in ("pages", "links", "sources", *STATE_TABLES):
                self.tio.gc_to(name, pinned.get(name))
        st = self._resume_state(ck) if ck else self._fresh_state()
        resumed = ck is not None

        pages_parts: list[DataFrame] = []
        links_parts: list[DataFrame] = []
        sources_parts: list[DataFrame] = []
        lineage: list[dict] = []
        waves_this_run = 0

        while st["crawled"] < cfg.max_urls:
            if self.max_waves is not None and waves_this_run >= self.max_waves:
                break
            t0 = time.time()
            pending, seen, counts = st["pending"], st["seen"], st["counts"]
            wave = st["wave"]
            eligible = pending.filter(F.col("depth") <= cfg.max_depth)
            n_eligible = eligible.count()
            if n_eligible == 0:
                st["pending"] = pending.limit(0)
                if self.tio:
                    self._commit_state(
                        st, self._empty_pages(), self._empty_links(), self._empty_sources()
                    )
                break
            remaining = cfg.max_urls - st["crawled"]
            fetch_n = min(remaining, n_eligible)
            cut_seq = (
                eligible.orderBy("seq").limit(fetch_n).agg(F.max("seq")).collect()[0][0]
            )
            fetch_set = eligible.filter(F.col("seq") <= cut_seq)
            leftover = pending.filter(F.col("seq") > cut_seq)

            if self.politeness:
                # end the wave just before the first over-quota row, so
                # waves stay contiguous seq ranges (the first row always
                # has host rank 1, so a wave fetches at least one page)
                _, deferred = FR.apply_politeness(
                    fetch_set, self.hosts, cfg.wave_seconds)
                over = deferred.agg(F.min("seq")).collect()[0][0]
                if over is not None:
                    fetch_set = fetch_set.filter(F.col("seq") < over)
                    leftover = pending.filter(F.col("seq") >= over)

            fetch_set = fetch_set.withColumn("wave", F.lit(wave))
            fetched = X.join_fetch(
                FR.salted_repartition(fetch_set, salt_buckets=cfg.host_salt_buckets),
                fetch_map, self.documents,
            )
            fetched = X.resolve_retries_inline(
                X.apply_size_gate(fetched, cfg.max_file_size), cfg.retries, cfg.delay)
            pages = X.extract_pages(
                fetched, self.base_domain,
                crawl_external=cfg.crawl_external, max_depth=cfg.max_depth,
            ).persist()
            agg = pages.agg(
                F.count("*").alias("n"), F.min("seq").alias("lo"), F.max("seq").alias("hi")
            ).collect()[0]
            n_fetched, wave_lo, wave_hi = agg["n"], agg["lo"], agg["hi"]
            st["crawled"] += n_fetched

            # report links: dedup on (source,target) keeping first in doc
            # order (link_manager.py:189-195; pages are fetched once, so
            # within-page dedup == global dedup)
            # (src_wave, src_seq, pos) is the all_links collection order
            # the J4/J5 issue details replay (link_manager.py:120-199:
            # appended per fetched page in fetch order, per-page in doc
            # order) — kept as columns so the issue joins stay sort-free
            wave_links = (
                pages.select(
                    "url", F.col("wave").alias("src_wave"),
                    F.col("seq").alias("src_seq"),
                    F.posexplode("links").alias("pos", "l"),
                )
                .select("src_wave", "src_seq", "pos", "l.*")
                .withColumn(
                    "_rn",
                    F.row_number().over(
                        FR.Window.partitionBy("source_url", "target_url").orderBy("pos")
                    ),
                )
                .filter("_rn = 1")
                .drop("_rn")
            )

            cands = (
                pages.select(
                    F.col("url").alias("src_url"),
                    F.col("seq").alias("src_seq"),
                    (F.col("depth") + 1).alias("depth"),
                    F.explode("candidates").alias("c"),
                )
                .select("src_url", "src_seq", "depth", "c.*")
            )
            wave_sources = cands.select(
                F.col("clean_url").alias("target_url"), F.col("src_url").alias("source_url")
            )

            # seen-set join regime: below ~64MB (~1.5M urls) the
            # anti-join is shuffle-free via broadcast-hash (session.py
            # raises autoBroadcastJoinThreshold); past that, seen_big
            # makes schedule_wave force a shuffle_hash build of the seen
            # side against the already-partitioned deduped wave (no
            # candidate-side exchange, no sort).
            new_frontier, counts_delta, trap_hits, occ = FR.schedule_wave(
                cands, seen, counts, self.hosts, self.base_domain, cfg, st["next_seq"],
                seen_big=st["next_seq"] >= 1_500_000,
                src_seq_bounds=(int(wave_lo), int(wave_hi)),
            )
            new_frontier = new_frontier.persist()
            n_new = new_frontier.count()

            st["counts"] = (
                counts.join(counts_delta, "signature", "full_outer")
                .select(
                    "signature",
                    (F.coalesce("cnt", F.lit(0)) + F.coalesce("cnt_delta", F.lit(0))).alias("cnt"),
                )
            )
            st["traps"] = self._merge_traps(st["traps"], trap_hits, wave)
            st["seen"] = seen.unionByName(new_frontier)
            # Once the crawl enters the shuffle-hash regime, maintain the
            # seen set HASH-PARTITIONED on the join key so every later
            # wave's anti-join finds both sides co-partitioned (the
            # keep-first aggregate partitions the candidate side) and
            # its seen side plans no Exchange (plan-asserted in
            # tests/test_bucketing.py). The placement shuffle happens
            # once here at checkpoint time — off the scheduling path —
            # instead of inside every subsequent wave's join. Partition
            # count must equal spark.sql.shuffle.partitions so
            # EnsureRequirements accepts the existing distribution.
            if st["next_seq"] + n_new >= 1_500_000:
                n_shuf = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
                st["seen"] = st["seen"].repartition(n_shuf, "url")
            st["pending"] = leftover.unionByName(new_frontier)
            st["next_seq"] += n_new
            st["wave"] = wave + 1

            for k in ("seen", "pending", "counts", "traps"):
                st[k] = st[k].localCheckpoint(eager=True)

            if self.tio:
                # _finalize reads the committed tables, not pages
                self._commit_state(st, pages.drop("links", "candidates"),
                                   wave_links, wave_sources)
                pages.unpersist()
            else:
                # kept persisted: _finalize checkpoints the result from
                # these, then unpersists them
                pages_parts.append(pages)
                links_parts.append(wave_links)
                sources_parts.append(wave_sources)
            # the checkpointed state no longer reads new_frontier
            occ.unpersist()
            new_frontier.unpersist()
            lineage.append({
                "wave": wave, "pending_in": n_eligible, "fetched": n_fetched,
                "new_frontier": n_new, "crawled_total": st["crawled"],
                "wall_ms": round((time.time() - t0) * 1000, 1),
            })
            waves_this_run += 1
            # n_new == 0 makes the checkpointed pending exactly leftover;
            # leftover itself may still read a resumed snapshot's files,
            # which maintenance has just expired
            if n_new == 0 and st["pending"].isEmpty():
                break

        fetch_map.unpersist()
        return self._finalize(st, pages_parts, links_parts, sources_parts,
                              lineage, resumed)

    # --------------------------------------------------------------- finalize
    def _empty_pages(self) -> DataFrame:
        return self.spark.createDataFrame([], schema=X.PAGE_SCHEMA).drop(
            "links", "candidates"
        )

    def _empty_links(self) -> DataFrame:
        return self.spark.createDataFrame(
            [], schema="src_wave int, src_seq long, pos int, "
                       f"{X.LINK_STRUCT}".replace(": ", " ")
        )

    def _empty_sources(self) -> DataFrame:
        return self.spark.createDataFrame([], schema="target_url string, source_url string")

    def _finalize(self, st, pages_parts, links_parts, sources_parts, lineage,
                  resumed) -> CrawlResult:
        if self.tio:
            pages_all = self.tio.read(self.spark, "pages")
            links_all = self.tio.read(self.spark, "links")
            sources_all = self.tio.read(self.spark, "sources")
        else:
            pages_all = (self._union([p.drop("links", "candidates") for p in pages_parts])
                         or self._empty_pages())
            links_all = self._union(links_parts) or self._empty_links()
            sources_all = self._union(sources_parts) or self._empty_sources()

        # J1: patch target_status from crawl results (link_manager.py:269-278)
        status_map = pages_all.select(
            F.col("url").alias("target_url"), F.col("status_code").alias("target_status")
        )
        links_all = links_all.join(status_map, "target_url", "left")

        # J2: linked_from — distinct sources per URL from both tracking paths
        # (link_manager.py:73-76 + :183-187), compared as sets
        sources_all = sources_all.unionByName(
            links_all.select("target_url", "source_url")
        )
        linked_from = sources_all.groupBy("target_url").agg(
            F.sort_array(F.collect_set("source_url")).alias("linked_from")
        )
        pages_all = (
            pages_all.join(
                linked_from.withColumnRenamed("target_url", "url"), "url", "left"
            )
            .withColumn(
                "linked_from",
                F.coalesce("linked_from", F.array().cast("array<string>")),
            )
        )

        if not self.tio:
            # materialize the result off the per-wave caches: a report
            # over unions of cached frames plans one TableCacheQueryStage
            # per reader, so its shared exchanges are never reused
            pages_all = pages_all.localCheckpoint(eager=True)
            links_all = links_all.localCheckpoint(eager=True)
            for p in pages_parts:
                p.unpersist()

        traps_out = st["traps"].select(
            F.col("signature").alias("pattern"), "example_url",
            F.col("hits").alias("count"),
        )
        stats = {
            "discovered": st["next_seq"],
            "crawled": st["crawled"],
            "waves": st["wave"],
            "resumed": resumed,
        }
        # J3 input: unique parsed sitemap URLs (crawler.py:366's
        # list(set(...)))
        sm_df = None
        if self._sitemap_locs_raw:
            sm_df = self.spark.createDataFrame(
                [(u,) for u in dict.fromkeys(self._sitemap_locs_raw)], "url string")
        return CrawlResult(pages_all, links_all, st["seen"], traps_out, lineage,
                           stats, sitemap_urls=sm_df, config=self.config)

    @staticmethod
    def _union(parts: list[DataFrame]) -> DataFrame | None:
        if not parts:
            return None
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    @staticmethod
    def _merge_traps(traps_prev: DataFrame, trap_hits: DataFrame, wave: int) -> DataFrame:
        """Merge per-wave trap hits into cumulative trap state; the first
        trapped occurrence's URL stays the example (link_manager.py:92-99)."""
        delta = trap_hits.select(
            "signature", F.col("example_url").alias("new_example"),
            F.col("hits").alias("new_hits"), F.lit(wave).alias("new_wave"),
        )
        return (
            traps_prev.join(delta, "signature", "full_outer")
            .select(
                "signature",
                F.coalesce("example_url", "new_example").alias("example_url"),
                (F.coalesce("hits", F.lit(0)) + F.coalesce("new_hits", F.lit(0))).alias("hits"),
                F.coalesce("first_wave", "new_wave").alias("first_wave"),
            )
        )
