"""The benchmark's workloads: set-up (inputs loaded and persisted), one
timed operation, and the output check against an independent oracle.

Each workload object is built once per run. ``expect()`` computes the
oracle's answer outside timing; ``op()`` is one timed operation and
returns what ``check()`` needs; ``check()`` returns a list of failed
check names (empty = correct)."""

from __future__ import annotations

import os
import shutil
import time
from collections import Counter
from contextlib import nullcontext

from pyspark.sql import functions as F

from librecrawl_spark.fixtures.sitegen import site_to_spark
from librecrawl_spark.operators import extract as X, frontier as FR
from librecrawl_spark.oracle.refcrawl import ReferenceCrawlOracle
from librecrawl_spark.oracle.refissues import RefIssueDetector
from librecrawl_spark.plans.crawl import CrawlEngine

from perfbench import inputs
from perfbench.procstat import tree_cpu_s


# ===================================================================== wave
class WaveBulk:
    """One frontier wave at north-rule data scale: fetch join, Arrow
    extraction, explode to candidates, schedule_wave against a seen set
    big enough for the shuffle-hash anti-join, then politeness."""

    name = "wave_bulk"

    def __init__(self, spark, seed: int, scale: str, workdir: str):
        self.spark = spark
        self.size = inputs.WAVE_SIZES[scale]
        self.cfg = inputs.WAVE_CONFIG
        self.workdir = workdir
        self.paths = inputs.generate_wave(seed, self.size, os.path.join(workdir, "inputs"))

    def load(self) -> None:
        """Read and persist the inputs the way the engine holds them:
        documents cached, the seen set hash-partitioned on url once it
        is in the shuffle-hash regime, robots rules compiled once."""
        sp = self.spark
        self.docs = sp.read.parquet(self.paths["documents"]).persist()
        self.frontier = sp.read.parquet(self.paths["frontier"]).persist()
        self.hosts = sp.read.parquet(self.paths["hosts"]).persist()
        seen = sp.read.parquet(self.paths["seen"])
        self.seen_big = self.size.seen >= 1_500_000
        if self.seen_big:
            seen = seen.repartition(int(sp.conf.get("spark.sql.shuffle.partitions")), "url")
        self.seen = seen.persist()
        for df in (self.docs, self.frontier, self.hosts, self.seen):
            df.count()
        self.fetch_map = X.resolve_redirects(X.http_meta(self.docs)).persist()
        self.fetch_map.count()
        self.host_rules = FR.compile_robots_rules(self.hosts, self.cfg.user_agent).persist()
        self.host_rules.count()
        self.seq_start = self.size.seen

    def op(self, tracer=None, frontier=None) -> dict:
        """fetch -> extract (persisted, counted as the engine does) ->
        schedule_wave (new frontier persisted and counted) ->
        apply_politeness (selected counted)."""
        from librecrawl_spark.session import broadcast_threshold

        cfg, sp = self.cfg, self.spark
        with broadcast_threshold(sp):
            fetched = X.join_fetch(
                FR.salted_repartition(self.frontier if frontier is None else frontier,
                                      salt_buckets=cfg.host_salt_buckets),
                self.fetch_map, self.docs)
            fetched = X.resolve_retries_inline(
                X.apply_size_gate(fetched, cfg.max_file_size), cfg.retries, cfg.delay)
            pages = X.extract_pages(fetched, inputs.WAVE_BASE_DOMAIN,
                                    crawl_external=cfg.crawl_external,
                                    max_depth=cfg.max_depth).persist()
            with _span(tracer, "extract.materialize"):
                agg = pages.agg(F.count("*").alias("n"), F.min("seq").alias("lo"),
                                F.max("seq").alias("hi"),
                                F.sum(F.size("candidates")).alias("cands")).collect()[0]
            cands = pages.select(
                F.col("url").alias("src_url"), F.col("seq").alias("src_seq"),
                (F.col("depth") + 1).alias("depth"),
                F.explode("candidates").alias("c"),
            ).select("src_url", "src_seq", "depth", "c.*")
            counts = sp.createDataFrame([], schema="signature string, cnt long")
            new_frontier, _, _, occ = FR.schedule_wave(
                cands, self.seen, counts, self.hosts, inputs.WAVE_BASE_DOMAIN, cfg,
                self.seq_start, seen_big=self.seen_big,
                src_seq_bounds=(int(agg["lo"]), int(agg["hi"])),
                host_rules=self.host_rules)
            new_frontier = new_frontier.persist()
            with _span(tracer, "frontier.schedule_materialize"):
                n_new = new_frontier.count()
            selected, _ = FR.apply_politeness(
                new_frontier, self.hosts, cfg.wave_seconds,
                seq_bounds=(self.seq_start, self.seq_start + max(n_new, 1) - 1))
            with _span(tracer, "frontier.politeness_materialize"):
                n_selected = selected.count()
        return {"pages": pages, "new_frontier": new_frontier, "selected": selected,
                "occ": occ, "n_pages": agg["n"], "n_cands": agg["cands"],
                "n_new": n_new, "n_selected": n_selected}

    def warm_up(self) -> None:
        """One untimed pass over a sixth of the wave's pages: the same
        plans against the same seen set. A fresh Spark driver's first wave runs
        ~70 % slower (JIT and plan compilation); this pass costs less
        than that difference."""
        self.release(self.op(frontier=self.frontier.filter(
            F.col("seq") < max(self.size.docs // 6, 1))))

    def release(self, out: dict) -> None:
        out["occ"].unpersist()
        out["new_frontier"].unpersist()
        out["pages"].unpersist()

    def expect(self) -> dict:
        """The wave's answer from DuckDB over the same parquet inputs:
        the same extraction prefix (special hrefs skipped, fragment
        stripped, relative hrefs joined to the page's origin), keep-first
        dedup in (src_seq, link_idx) order, seen anti-join, robots and
        extension policy, contiguous seq from the seen-set size, then
        the per-host crawl-delay quota."""
        import duckdb

        con = duckdb.connect()
        con.execute(f"SET temp_directory='{os.path.join(self.workdir, 'duckdb')}'")
        con.execute("SET threads=2")
        p = self.paths
        excluded = ", ".join(f"'{e}'" for e in self.cfg.exclude_extensions)
        # candidate occurrences: extraction's frontier prefix
        cands = f"""
            WITH spans AS (
                SELECT f.url AS src_url, f.seq AS src_seq, f.depth + 1 AS depth,
                       unnest(d.spans) AS s, unnest(range(len(d.spans))) AS i
                FROM '{p["frontier"]}' f JOIN '{p["documents"]}' d ON d.doc_id = f.url
            ), anchors AS (
                SELECT src_url, src_seq, depth, trim(s.media_ref) AS href,
                       row_number() OVER (PARTITION BY src_url ORDER BY i) - 1 AS link_idx
                FROM spans WHERE s.kind = 'anchor'
            )
            SELECT src_url, src_seq, depth, link_idx,
                   split_part(CASE WHEN href LIKE '/%'
                                   THEN regexp_extract(src_url, '^(https?://[^/]+)', 1) || href
                                   ELSE href END, '#', 1) AS url
            FROM anchors
            WHERE href <> '' AND NOT starts_with(href, '#')
              AND NOT starts_with(href, 'mailto:') AND NOT starts_with(href, 'tel:')"""
        con.execute(f"CREATE TEMP TABLE cands AS {cands}")
        scheduled = f"""
            WITH first AS (
                SELECT url, arg_min(depth, src_seq * 1048576 + link_idx) AS depth,
                       min(src_seq * 1048576 + link_idx) AS pos
                FROM cands WHERE url <> src_url GROUP BY url
            ), fresh AS (
                SELECT * FROM first WHERE url NOT IN (SELECT url FROM '{p["seen"]}')
            ), parts AS (
                SELECT *, regexp_extract(url, '^https?://([^/]+)', 1) AS host,
                       lower(regexp_extract(url, '^https?://[^/]+([^?]*)', 1)) AS path
                FROM fresh
            ), accepted AS (
                SELECT parts.*, coalesce(h.crawl_delay, 0) AS crawl_delay
                FROM parts LEFT JOIN '{p["hosts"]}' h ON h.host = parts.host
                WHERE NOT (starts_with(path, '/private/')
                           AND coalesce(h.robots_txt, '') LIKE '%Disallow: /private/%')
                  AND NOT (path LIKE '%.%' AND split_part(path, '.', -1) IN ({excluded}))
            ), seqd AS (
                SELECT url, depth, host, crawl_delay,
                       {self.seq_start} + row_number() OVER (ORDER BY pos) - 1 AS seq
                FROM accepted
            ), ranked AS (
                SELECT *, row_number() OVER (PARTITION BY host ORDER BY seq) AS hrank
                FROM seqd
            )
            SELECT url, depth, seq,
                   crawl_delay <= 0
                   OR hrank <= greatest(floor({self.cfg.wave_seconds} / crawl_delay), 1)
                       AS selected
            FROM ranked"""
        out = os.path.join(self.workdir, "expected.parquet")
        con.execute(f"COPY ({scheduled}) TO '{out}' (FORMAT parquet)")
        n_new, n_sel = con.execute(
            f"SELECT count(*), count(*) FILTER (WHERE selected) FROM '{out}'").fetchone()
        n_cands = con.execute("SELECT count(*) FROM cands").fetchone()[0]
        con.close()
        return {"path": out, "n_new": n_new, "n_selected": n_sel, "n_cands": n_cands,
                "n_pages": self.size.docs}

    def check(self, out: dict, want: dict) -> list[str]:
        import duckdb

        bad = [k for k in ("n_pages", "n_cands", "n_new", "n_selected") if out[k] != want[k]]
        got = os.path.join(self.workdir, "got")
        out["selected"].select("url", "depth", "seq").write.mode("overwrite").parquet(got)
        con = duckdb.connect()
        diff = con.execute(f"""
            SELECT count(*) FROM (
              (SELECT url, depth, seq FROM '{got}/*.parquet'
               EXCEPT ALL SELECT url, depth, seq FROM '{want["path"]}' WHERE selected)
              UNION ALL
              (SELECT url, depth, seq FROM '{want["path"]}' WHERE selected
               EXCEPT ALL SELECT url, depth, seq FROM '{got}/*.parquet'))""").fetchone()[0]
        con.close()
        if diff:
            bad.append(f"selected_rows_differ:{diff}")
        return bad

    def counts(self, out: dict) -> dict:
        """Work counts the operation itself produced: pages fetched and
        extracted, candidate link occurrences, URLs newly scheduled."""
        return {"pages": out["n_pages"], "docs": out["n_pages"],
                "urls": out["n_cands"], "urls_out": out["n_new"]}


# ==================================================================== crawl
class CrawlResume:
    """A checkpointed site crawl stopped after about half its waves,
    resumed in a new CrawlEngine to completion, then its issue report."""

    name = "crawl_resume"
    # leg 1 stops after the first of the crawl's two waves
    leg1_waves = 1

    def __init__(self, spark, seed: int, scale: str, workdir: str):
        self.spark = spark
        self.size = inputs.CRAWL_SIZES[scale]
        self.cfg = inputs.crawl_config(self.size)
        self.workdir = workdir
        self.site = inputs.generate_crawl_site(seed, self.size)
        self.seeds = [s["url"] for s in self.site.seeds]
        self.runs = 0

    def load(self) -> None:
        docs, hosts, _ = site_to_spark(self.spark, self.site)
        self.docs, self.hosts = docs.persist(), hosts.persist()
        self.docs.count()
        self.hosts.count()

    def expect(self) -> dict:
        """Reference crawl (the uninterrupted concurrency-1 crawl) and the
        reference issue detector replayed over the reference's own pages
        and links in fetch order."""
        site, cfg = self.site, self.cfg
        orc = ReferenceCrawlOracle(site.documents, site.hosts, site.base_url, cfg,
                                   sitemap_bodies=site.sitemap_bodies)
        ref = orc.run(self.seeds)
        det = RefIssueDetector(tuple(cfg.issue_exclusion_patterns))
        for page in ref["pages"]:
            det.detect_issues(page)
        # no sitemap detector: a resumed crawl reports no Sitemap category
        # (CrawlResult.sitemap_urls is None after resume)
        det.detect_links_to_redirects(ref["pages"], ref["links"])
        det.detect_broken_link_sources(ref["pages"], ref["links"])
        det.detect_hreflang_issues(ref["pages"])
        if cfg.enable_duplication_check:
            det.detect_duplication_issues(ref["pages"], cfg.duplication_threshold)
        return {
            "seen": {(u, i, d) for i, (u, d) in enumerate(ref["seen"])},
            "fetch_order": list(ref["fetch_order"]),
            "crawled": ref["stats"]["crawled"],
            "discovered": ref["stats"]["discovered"],
            "issues": Counter(_issue_key(i) for i in det.get_issues()),
        }

    def warm_up(self) -> None:
        """No warm-up pass: the crawl's cost is a fixed cost per wave, so a
        warm-up crawl costs about as much as the measured one, and even
        after a one-wave warm-up the next crawl stays ~20 % JIT-cold.
        Each run therefore measures the first crawl of a fresh Spark driver, as
        a crawl job submitted on its own pays it."""

    def _engine(self, ckpt: str, max_waves=None) -> CrawlEngine:
        return CrawlEngine(self.spark, self.docs, self.hosts, self.site.base_url,
                           self.cfg, seed_urls=self.seeds, checkpoint_dir=ckpt,
                           max_waves=max_waves, sitemap_bodies=self.site.sitemap_bodies)

    def op(self, tracer=None) -> dict:
        """Leg 1 (stopped after leg1_waves), leg 2 (resumed, counted),
        then the materialized issue report. Returns the crawl's wall and
        CPU time and the report's wall time beside the outputs."""
        self.runs += 1
        ckpt = os.path.join(self.workdir, f"ckpt-{self.runs}")
        shutil.rmtree(ckpt, ignore_errors=True)
        t0, cpu0 = time.perf_counter(), tree_cpu_s()
        if tracer:
            tracer.start_crawl()
        with _span(tracer, "crawl.run", leg=1):
            leg1 = self._engine(ckpt, self.leg1_waves).run()
        with _span(tracer, "crawl.run", leg=2):
            res = self._engine(ckpt).run()
        with _span(tracer, "crawl.count"):
            n_pages = res.pages.count()
        t2, cpu2 = time.perf_counter(), tree_cpu_s()
        with _span(tracer, "issues.materialize"):
            issues = res.issues().collect()
        t3 = time.perf_counter()
        return {"leg1": leg1, "res": res, "issues": issues, "n_pages": n_pages,
                "ckpt": ckpt, "crawl_s": t2 - t0, "crawl_cpu_s": cpu2 - cpu0,
                "audit_s": t3 - t2}

    def release(self, out: dict) -> None:
        shutil.rmtree(out["ckpt"], ignore_errors=True)

    def check(self, out: dict, want: dict) -> list[str]:
        res, bad = out["res"], []
        got_seen = {(r["url"], r["seq"], r["depth"]) for r in res.seen.collect()}
        if got_seen != want["seen"]:
            bad.append("seen_set")
        order = [(r["url"], r["depth"]) for r in
                 res.pages.orderBy("wave", "seq").select("url", "depth").collect()]
        if order != want["fetch_order"]:
            bad.append("fetch_order")
        if out["n_pages"] != want["crawled"] or res.stats["crawled"] != want["crawled"]:
            bad.append("page_count")
        if not res.stats.get("resumed") or out["leg1"].stats["crawled"] >= want["crawled"]:
            bad.append("not_resumed")
        if Counter(_issue_key(r.asDict()) for r in out["issues"]) != want["issues"]:
            bad.append("issue_report")
        return bad

    def counts(self, out: dict) -> dict:
        """Pages fetched, report links recorded (the URLs the pages
        yielded), URLs discovered (the seen set), URLs the frontier
        scheduled, waves run over both legs, issue rows."""
        res = out["res"]
        lineage = out["leg1"].lineage + res.lineage
        return {"pages": out["n_pages"], "docs": out["n_pages"],
                "urls": res.links.count(), "discovered": res.stats["discovered"],
                "urls_out": sum(w["new_frontier"] for w in lineage),
                "waves": len(lineage), "wave_ms": [w["wall_ms"] for w in lineage],
                "issues": len(out["issues"])}


def _issue_key(i) -> tuple:
    return (i["url"], i["type"], i["category"], i["issue"], i["details"])


def _span(tracer, name: str, **attrs):
    return tracer.span(name, **attrs) if tracer else nullcontext()


WORKLOADS = {w.name: w for w in (WaveBulk, CrawlResume)}
