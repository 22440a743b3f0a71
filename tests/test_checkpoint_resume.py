"""Checkpoint/resume (SURVEY.md §5 item 5): stop after wave k, resume
from the snapshot checkpoint, and assert the final tables equal an
uninterrupted run's — plus snapshot time-travel on the TableIO layer."""

from dataclasses import replace

import pytest

from librecrawl_spark.config import CrawlConfig
from librecrawl_spark.fixtures.sitegen import SiteGenConfig, generate_site, site_to_spark
from librecrawl_spark.plans.crawl import CrawlEngine
from librecrawl_spark.storage.tableio import TableIO

SITE = SiteGenConfig(seed=21, n_hosts=3, pages_base_host=15, pages_other_host=4)
CFG = CrawlConfig(max_depth=3, max_urls=60, discover_sitemaps=False)


def mk_engine(spark, site, **kw):
    docs, hosts, _ = site_to_spark(spark, site)
    return CrawlEngine(spark, docs, hosts, site.base_url, CFG,
                       seed_urls=[s["url"] for s in site.seeds], **kw)


def snap(res):
    pages = sorted(
        (r["url"], r["seq"], r["status_code"], r["title"], r["word_count"])
        for r in res.pages.collect()
    )
    links = sorted(
        (r["source_url"], r["target_url"], r["target_status"])
        for r in res.links.collect()
    )
    seen = sorted((r["url"], r["seq"]) for r in res.seen.collect())
    return pages, links, seen


def n_cached(spark):
    return spark._jsparkSession.sharedState().cacheManager().cachedData().size()


@pytest.fixture(scope="module")
def site():
    return generate_site(SITE)


@pytest.fixture(scope="module")
def full(spark, site):
    """The uninterrupted in-memory crawl of SITE under CFG."""
    n0 = n_cached(spark)
    res = mk_engine(spark, site).run()
    # an in-memory run() leaves no Dataset cache behind either: its
    # result is checkpointed off the per-wave caches
    assert n_cached(spark) == n0
    return res


def test_kill_and_resume_equals_uninterrupted(spark, site, full, tmp_path):
    # a checkpointed run() leaves no Dataset cache behind: its result
    # reads the committed tables
    ckdir = str(tmp_path / "ck")
    eng = mk_engine(spark, site, checkpoint_dir=ckdir, max_waves=2)
    n0 = n_cached(spark)
    partial = eng.run()
    assert n_cached(spark) == n0
    assert partial.stats["crawled"] < full.stats["crawled"]

    eng = mk_engine(spark, site, checkpoint_dir=ckdir)
    n0 = n_cached(spark)
    resumed = eng.run()
    assert n_cached(spark) == n0
    assert resumed.stats["resumed"] is True
    assert resumed.stats["crawled"] == full.stats["crawled"]
    assert snap(resumed) == snap(full)


def test_crash_after_append_before_checkpoint(spark, site, full, tmp_path):
    """Crash-atomicity: an append that committed AFTER the last crawl
    checkpoint (process died before checkpoint()) must not leak into the
    resumed run — the re-run wave would otherwise duplicate its rows."""
    ckdir = str(tmp_path / "ck2")
    mk_engine(spark, site, checkpoint_dir=ckdir, max_waves=2).run()

    # Simulate the torn wave: orphan appends exist, checkpoint.json doesn't
    # know about them (copy of the wave's own rows = worst-case duplicate).
    tio = TableIO(ckdir)
    orphan_pages = tio.read(spark, "pages")
    orphan_links = tio.read(spark, "links")
    tio.commit("pages", orphan_pages, mode="append")
    tio.commit("links", orphan_links, mode="append")

    resumed = mk_engine(spark, site, checkpoint_dir=ckdir).run()
    assert resumed.stats["resumed"] is True
    assert snap(resumed) == snap(full)


def test_resume_from_wider_state_tables(spark, site, full, tmp_path):
    """A checkpoint whose state tables carry columns the engine no
    longer writes — pending with (wave, retry_count, ready_wave), seen
    with url_hash — resumes to the uninterrupted crawl: the resume
    projects both tables to (url, depth, seq)."""
    from pyspark.sql import functions as F

    ckdir = str(tmp_path / "ck_wide")
    mk_engine(spark, site, checkpoint_dir=ckdir, max_waves=1).run()
    tio = TableIO(ckdir)
    ck = tio.load_checkpoint()
    tables = dict(ck["tables"])
    pending = tio.read(spark, "pending", tables["pending"])
    assert pending.columns == ["url", "depth", "seq"]
    assert pending.count() > 0
    wide_pending = pending.select(
        "url", "depth", "seq", F.lit(ck["state"]["wave"]).alias("wave"),
        F.lit(0).alias("retry_count"), F.lit(0).alias("ready_wave"))
    wide_seen = tio.read(spark, "seen", tables["seen"]).withColumn(
        "url_hash", F.xxhash64("url"))
    tables["pending"] = tio.commit("pending", wide_pending, mode="overwrite")
    tables["seen"] = tio.commit("seen", wide_seen, mode="overwrite")
    tio.checkpoint(ck["state"], tables)

    resumed = mk_engine(spark, site, checkpoint_dir=ckdir).run()
    assert resumed.stats["resumed"] is True

    def seen_of(res):
        return {(r["url"], r["seq"], r["depth"]) for r in res.seen.collect()}

    def order_of(res):
        return [(r["url"], r["depth"]) for r in
                res.pages.orderBy("wave", "seq").select("url", "depth").collect()]

    assert seen_of(resumed) == seen_of(full)
    assert order_of(resumed) == order_of(full)
    assert resumed.pages.count() == full.pages.count() == full.stats["crawled"]
    assert resumed.stats["crawled"] == full.stats["crawled"]


def test_fresh_run_ignores_stale_snapshots(spark, site, full, tmp_path):
    """A crash before the FIRST checkpoint leaves snapshots but no
    checkpoint.json; a fresh run over the same dir must start clean."""
    ckdir = str(tmp_path / "ck3")
    tio = TableIO(ckdir)
    stale = spark.createDataFrame([("https://stale.example/", 1)], "url string, seq long")
    tio.commit("pages", stale, mode="append")

    fresh = mk_engine(spark, site, checkpoint_dir=ckdir).run()
    assert fresh.stats["resumed"] is False
    urls = {r["url"] for r in fresh.pages.collect()}
    assert "https://stale.example/" not in urls
    assert fresh.stats["crawled"] == full.stats["crawled"]


def test_resume_under_politeness_and_traps_matches_oracle(spark, tmp_path):
    """Stop after wave 1 and resume a crawl with politeness cuts, external
    hosts and a low trap threshold: seen set, fetch order, traps and the
    crawled count equal the reference oracle's. Trap pages are seeds, so
    wave 1 already trips the trap that the resumed leg keeps counting."""
    from librecrawl_spark.oracle.refcrawl import ReferenceCrawlOracle

    site = generate_site(SiteGenConfig(seed=11, n_hosts=3, pages_base_host=15,
                                       pages_other_host=4, trap_pages=40))
    cfg = CrawlConfig(max_depth=4, max_urls=80, trap_threshold=3,
                      crawl_external=True, wave_seconds=2.0,
                      discover_sitemaps=False)
    seeds = [site.base_url + "/"] + [f"{site.base_url}/p/{n}" for n in (0, 10, 20)]
    want = ReferenceCrawlOracle(site.documents, site.hosts, site.base_url,
                                cfg).run(seeds)
    docs, hosts, _ = site_to_spark(spark, site)

    def mk(**kw):
        return CrawlEngine(spark, docs, hosts, site.base_url, cfg, seed_urls=seeds,
                           politeness=True, checkpoint_dir=str(tmp_path / "pt"), **kw)

    def traps_of(res):
        return {(r["pattern"], r["example_url"], r["count"]) for r in res.traps.collect()}

    leg1 = mk(max_waves=1).run()
    res = mk().run()
    assert res.stats["resumed"] is True
    assert {(r["url"], r["seq"], r["depth"]) for r in res.seen.collect()} == {
        (u, i, d) for i, (u, d) in enumerate(want["seen"])}
    assert [(r["url"], r["depth"]) for r in res.pages.orderBy("wave", "seq")
            .select("url", "depth").collect()] == want["fetch_order"]
    assert traps_of(res) == {(t["pattern"], t["example_url"], t["count"])
                             for t in want["traps"]}
    assert res.stats["crawled"] == want["stats"]["crawled"]

    # premises: some wave ended on the politeness cut, below both its
    # eligible rows and the remaining budget; a trap from leg 1 grew
    cut = [w for w in leg1.lineage + res.lineage
           if w["fetched"] < min(w["pending_in"],
                                 cfg.max_urls - w["crawled_total"] + w["fetched"])]
    assert cut
    leg1_counts = {p: c for p, _, c in traps_of(leg1)}
    assert any(c > leg1_counts.get(p, c) for p, _, c in traps_of(res))


def test_tableio_snapshot_time_travel(spark, tmp_path):
    tio = TableIO(str(tmp_path / "t"))
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    df2 = spark.createDataFrame([(3, "c")], "id int, v string")
    s0 = tio.commit("t1", df1, mode="append")
    s1 = tio.commit("t1", df2, mode="append")
    s2 = tio.commit("t1", df2, mode="overwrite")
    assert tio.read(spark, "t1", s0).count() == 2
    assert tio.read(spark, "t1", s1).count() == 3
    assert tio.read(spark, "t1", s2).count() == 1
    assert sorted(r["id"] for r in tio.read(spark, "t1", s1).collect()) == [1, 2, 3]


def test_tableio_empty_commit(spark, tmp_path):
    tio = TableIO(str(tmp_path / "e"))
    empty = spark.createDataFrame([], "id int, v string")
    sid = tio.commit("t", empty)
    out = tio.read(spark, "t", sid)
    assert out.count() == 0
    assert out.columns == ["id", "v"]


def test_tableio_read_runs_no_job(spark, tmp_path):
    """The manifest stores the schema, so a read infers nothing: no
    Spark job runs until the caller acts on the DataFrame."""
    tio = TableIO(str(tmp_path / "r"))
    df = spark.createDataFrame([(1, "a", [1.5])], "id long, v string, xs array<double>")
    tio.commit("t", df)
    sc = spark.sparkContext
    sc.setJobGroup("tableio-read", "TableIO.read")
    try:
        out = tio.read(spark, "t")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("tableio-read")) == []
    assert out.schema == df.schema
    assert out.collect() == df.collect()


def test_tableio_expire_snapshots_vacuums_unreferenced(spark, tmp_path):
    import os

    tio = TableIO(str(tmp_path / "x"))
    for w in range(3):
        df = spark.createDataFrame([(w, "v")], "id int, v string")
        tio.commit("t", df)
    # a full rewrite into one file: its predecessors' files go unreferenced
    tio.commit("t", tio.read(spark, "t").coalesce(1), mode="overwrite")
    all_sids = tio.snapshots("t")
    removed, deleted = tio.expire_snapshots("t", keep_last=1)
    assert removed == len(all_sids) - 1
    assert deleted > 0
    assert tio.snapshots("t") == [all_sids[-1]]
    # the survivor still reads correctly, and no orphan parquet remains
    assert tio.read(spark, "t").count() == 3
    referenced = set(tio._manifest("t", all_sids[-1])["files"])
    on_disk = set()
    for dirpath, _, files in os.walk(str(tmp_path / "x" / "t" / "data")):
        on_disk.update(os.path.join(dirpath, f)
                       for f in files if f.endswith(".parquet"))
    assert on_disk == referenced


def test_tableio_expire_keeps_checkpoint_pin(spark, tmp_path):
    tio = TableIO(str(tmp_path / "p"))
    s0 = tio.commit("t", spark.createDataFrame([(1, "a")], "id int, v string"))
    tio.commit("t", spark.createDataFrame([(2, "b")], "id int, v string"))
    tio.commit("t", spark.createDataFrame([(3, "c")], "id int, v string"))
    tio.checkpoint({"wave": 0}, {"t": s0})  # resume would read s0
    removed, _ = tio.expire_snapshots("t", keep_last=1)
    assert s0 in tio.snapshots("t")         # pinned survivor
    assert removed == 1                      # only the middle one went
    assert tio.read(spark, "t", s0).count() == 1


def test_tableio_compact_small_binpacks_only_small_files(spark, tmp_path):
    """compact_small rewrites only sub-threshold files: large files keep
    their exact paths in the new manifest (no O(table) rewrite), rows
    are identical, and manifest count is reclaimable by expire."""
    import os

    tio = TableIO(str(tmp_path / "cs"))
    # v must not snappy-compress below the small_bytes threshold, so
    # build ~128B of effectively incompressible content per row
    big = spark.range(0, 50_000).selectExpr(
        "id",
        "concat(md5(string(id)), md5(string(id + 1)), md5(string(id + 2)),"
        " md5(string(id + 3))) AS v").coalesce(1)
    tio.commit("t", big, mode="append")
    big_files = set(tio._manifest("t", tio.snapshots("t")[-1])["files"])
    for i in range(6):  # six tiny per-wave appends
        tio.commit("t", spark.range(i * 10, i * 10 + 10)
                   .selectExpr("id", "'w' AS v"), mode="append")
    before = tio._manifest("t", tio.snapshots("t")[-1])["files"]
    sid = tio.compact_small(spark, "t", small_bytes=1024 * 1024, target_files=2)
    after = tio._manifest("t", sid)["files"]
    assert big_files <= set(after)          # large files untouched, same paths
    assert len(after) < len(before)
    assert tio.read(spark, "t", sid).count() == 50_000 + 60
    assert (sorted(r["id"] for r in tio.read(spark, "t", sid)
                   .filter("v = 'w'").collect())
            == sorted(list(range(0, 10)) + list(range(10, 20)) +
                      list(range(20, 30)) + list(range(30, 40)) +
                      list(range(40, 50)) + list(range(50, 60))))
    # append after compaction chains from the compacted file list
    tio.commit("t", spark.createDataFrame([(99, "z")], "id long, v string"),
               mode="append")
    assert tio.read(spark, "t").count() == 50_000 + 61
    # nothing to pack -> same snapshot id back
    assert tio.compact_small(spark, "t", small_bytes=10, target_files=2) == \
        tio.snapshots("t")[-1]


def test_maintenance_wave_loop_bounds_files_and_resumes(spark, site, full, tmp_path):
    """Wave-loop maintenance (config.maintenance_every_waves): a crawl
    with a 1-wave cadence keeps manifest generations bounded (expiry
    collapses history to the pinned generation), matches the
    no-maintenance run row-for-row, and a kill-and-resume across a
    maintenance boundary still reconstructs the uninterrupted result."""
    import os

    cfg_m = CrawlConfig(max_depth=3, max_urls=60, discover_sitemaps=False,
                        maintenance_every_waves=1)

    def mk(ckdir, **kw):
        docs, hosts, _ = site_to_spark(spark, site)
        return CrawlEngine(spark, docs, hosts, site.base_url, cfg_m,
                           seed_urls=[s["url"] for s in site.seeds],
                           checkpoint_dir=ckdir, **kw)

    ckdir = str(tmp_path / "mw")
    res = mk(ckdir).run()
    assert snap(res) == snap(full)
    tio = TableIO(ckdir)
    for name in ("pages", "links", "sources", "seen", "pending"):
        # expiry ran each wave: only the pinned generation (+ at most the
        # final wave's commit) survives
        assert len(tio.snapshots(name)) <= 2, (name, tio.snapshots(name))
    # no orphaned data files: every on-disk parquet is referenced
    for name in ("pages", "links"):
        referenced = set()
        for sid in tio.snapshots(name):
            referenced.update(os.path.realpath(p)
                              for p in tio._manifest(name, sid)["files"])
        on_disk = set()
        droot = os.path.join(ckdir, name, "data")
        for dirpath, _, files in os.walk(droot):
            on_disk.update(os.path.realpath(os.path.join(dirpath, f))
                           for f in files if f.endswith(".parquet"))
        assert on_disk == referenced, name

    ckdir2 = str(tmp_path / "mw2")
    partial = mk(ckdir2, max_waves=2).run()
    assert partial.stats["crawled"] < full.stats["crawled"]
    resumed = mk(ckdir2).run()
    assert resumed.stats["resumed"] is True
    assert snap(resumed) == snap(full)


def test_resume_into_maintenance_on_last_wave(spark, site, tmp_path):
    """Kill-and-resume where the first resumed wave both runs storage
    maintenance and empties the frontier. Expiry deletes the pending
    snapshot the resumed run was reading, so the end-of-crawl check
    must test the wave's checkpointed state, not the resumed files."""
    cfg = CrawlConfig(max_depth=3, max_urls=500, discover_sitemaps=False,
                      maintenance_every_waves=0)
    docs, hosts, _ = site_to_spark(spark, site)

    def mk(config, **kw):
        return CrawlEngine(spark, docs, hosts, site.base_url, config,
                           seed_urls=[s["url"] for s in site.seeds], **kw)

    full = mk(cfg).run()
    n_waves = full.stats["waves"]
    assert n_waves >= 2 and full.lineage[-1]["new_frontier"] == 0

    # maintenance first fires on the final wave, which the resumed run runs
    cfg_m = replace(cfg, maintenance_every_waves=n_waves)
    ckdir = str(tmp_path / "mlast")
    mk(cfg_m, checkpoint_dir=ckdir, max_waves=n_waves - 1).run()
    resumed = mk(cfg_m, checkpoint_dir=ckdir).run()
    assert resumed.stats["resumed"] is True
    assert [w["wave"] for w in resumed.lineage] == [n_waves - 1]
    assert resumed.lineage[-1]["new_frontier"] == 0
    assert snap(resumed) == snap(full)
