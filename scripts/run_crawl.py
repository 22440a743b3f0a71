#!/usr/bin/env python
"""spark-submit entrypoint for a full crawl.

Cluster usage (the py-files zip ships the package to executors):

    cd /root/repo && zip -qr /tmp/librecrawl_spark.zip librecrawl_spark
    spark-submit --py-files /tmp/librecrawl_spark.zip \\
        scripts/run_crawl.py \\
        --documents /data/documents_parquet --hosts /data/hosts_parquet \\
        --seed https://site0.example/ --max-urls 100000 --max-depth 5 \\
        --checkpoint /data/crawl_ck --out /data/crawl_out --politeness

Local smoke:

    python scripts/run_crawl.py --fixture --max-urls 50 --out /tmp/crawl_out
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--documents", help="parquet path: documents(doc_id, spans)")
    ap.add_argument("--hosts", help="parquet path: hosts(host, robots_txt, crawl_delay, sitemap_xml)")
    ap.add_argument("--seed", action="append", default=[], help="seed URL (repeatable)")
    ap.add_argument("--fixture", action="store_true",
                    help="use the deterministic synthetic web instead of --documents/--hosts")
    ap.add_argument("--fixture-seed", type=int, default=42)
    ap.add_argument("--max-urls", type=int, default=500)
    ap.add_argument("--max-depth", type=int, default=3)
    ap.add_argument("--trap-threshold", type=int, default=100)
    ap.add_argument("--crawl-external", action="store_true")
    ap.add_argument("--no-robots", action="store_true")
    ap.add_argument("--politeness", action="store_true")
    ap.add_argument("--wave-seconds", type=float, default=60.0)
    ap.add_argument("--checkpoint", help="snapshot/resume directory")
    ap.add_argument("--out", help="export directory (pages/links/issues parquet + csv)")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from librecrawl_spark.config import CrawlConfig
    from librecrawl_spark.plans.crawl import CrawlEngine
    from librecrawl_spark.session import get_spark

    spark = get_spark("librecrawl-crawl", master=args.master)

    if args.fixture:
        from librecrawl_spark.fixtures.sitegen import SiteGenConfig, generate_site, site_to_spark

        site = generate_site(SiteGenConfig(seed=args.fixture_seed))
        documents, hosts, _ = site_to_spark(spark, site)
        seeds = args.seed or [s["url"] for s in site.seeds]
        base_url = seeds[0]
    else:
        if not (args.documents and args.hosts and args.seed):
            ap.error("--documents, --hosts and --seed are required without --fixture")
        documents = spark.read.parquet(args.documents)
        hosts = spark.read.parquet(args.hosts)
        seeds = args.seed
        base_url = seeds[0]

    cfg = CrawlConfig(
        max_urls=args.max_urls, max_depth=args.max_depth,
        trap_threshold=args.trap_threshold, crawl_external=args.crawl_external,
        respect_robots=not args.no_robots, wave_seconds=args.wave_seconds,
        discover_sitemaps=False,
    )
    res = CrawlEngine(
        spark, documents, hosts, base_url, cfg, seed_urls=seeds,
        politeness=args.politeness, checkpoint_dir=args.checkpoint,
    ).run()

    print(json.dumps({"stats": res.stats, "lineage": res.lineage}))
    if args.out:
        from librecrawl_spark.sources import exports as E

        res.pages.write.mode("overwrite").parquet(f"{args.out}/pages")
        res.links.write.mode("overwrite").parquet(f"{args.out}/links")
        res.issues().write.mode("overwrite").parquet(f"{args.out}/issues")
        E.write_pages_csv(res.pages, f"{args.out}/pages_csv")
    spark.stop()


if __name__ == "__main__":
    main()
