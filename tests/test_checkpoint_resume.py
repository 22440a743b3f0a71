"""Checkpoint/resume (SURVEY.md §5 item 5): stop after wave k, resume
from the snapshot checkpoint, and assert the final tables equal an
uninterrupted run's — plus snapshot time-travel on the TableIO layer."""

from dataclasses import replace

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


def test_kill_and_resume_equals_uninterrupted(spark, tmp_path):
    site = generate_site(SITE)
    full = mk_engine(spark, site).run()

    ckdir = str(tmp_path / "ck")
    partial = mk_engine(spark, site, checkpoint_dir=ckdir, max_waves=2).run()
    assert partial.stats["crawled"] < full.stats["crawled"]

    resumed = mk_engine(spark, site, checkpoint_dir=ckdir).run()
    assert resumed.stats["resumed"] is True
    assert resumed.stats["crawled"] == full.stats["crawled"]
    assert snap(resumed) == snap(full)


def test_crash_after_append_before_checkpoint(spark, tmp_path):
    """Crash-atomicity: an append that committed AFTER the last crawl
    checkpoint (process died before checkpoint()) must not leak into the
    resumed run — the re-run wave would otherwise duplicate its rows."""
    site = generate_site(SITE)
    full = mk_engine(spark, site).run()

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


def test_fresh_run_ignores_stale_snapshots(spark, tmp_path):
    """A crash before the FIRST checkpoint leaves snapshots but no
    checkpoint.json; a fresh run over the same dir must start clean."""
    site = generate_site(SITE)
    full = mk_engine(spark, site).run()

    ckdir = str(tmp_path / "ck3")
    tio = TableIO(ckdir)
    stale = spark.createDataFrame([("https://stale.example/", 1)], "url string, seq long")
    tio.commit("pages", stale, mode="append")

    fresh = mk_engine(spark, site, checkpoint_dir=ckdir).run()
    assert fresh.stats["resumed"] is False
    urls = {r["url"] for r in fresh.pages.collect()}
    assert "https://stale.example/" not in urls
    assert fresh.stats["crawled"] == full.stats["crawled"]


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


def test_maintenance_wave_loop_bounds_files_and_resumes(spark, tmp_path):
    """Wave-loop maintenance (config.maintenance_every_waves): a crawl
    with a 1-wave cadence keeps manifest generations bounded (expiry
    collapses history to the pinned generation), matches the
    no-maintenance run row-for-row, and a kill-and-resume across a
    maintenance boundary still reconstructs the uninterrupted result."""
    import os

    site = generate_site(SITE)
    full = mk_engine(spark, site).run()

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


def test_resume_into_maintenance_on_last_wave(spark, tmp_path):
    """Kill-and-resume where the first resumed wave both runs storage
    maintenance and empties the frontier. Expiry deletes the pending
    snapshot the resumed run was reading, so the end-of-crawl check
    must test the wave's checkpointed state, not the resumed files."""
    site = generate_site(SITE)
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
