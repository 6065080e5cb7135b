"""spark-submit entrypoint for the crawl engine (BASELINE.json north_rule:
"ships via spark-submit --py-files").

    bash tools/make_dist.sh        # builds dist/who_focus_crawler_spark.zip
    spark-submit --py-files dist/who_focus_crawler_spark.zip \
        jobs/crawl.py --checkpoint-dir /tmp/crawl-ck --tier unit

On a cluster, pass --master/--num-executors etc. to spark-submit as
usual; the engine only requires the zip on the Python path. Resume after
an interruption with --resume (picks up at the last committed snapshot).
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession

from who_focus_crawler_spark.plans.crawl import CrawlConfig, run_crawl
from who_focus_crawler_spark.sources.fixture_web import E2E_WEB, UNIT_WEB, WebConfig


def main() -> None:
    ap = argparse.ArgumentParser(description="who_focus_crawler_spark crawl job")
    ap.add_argument("--checkpoint-dir", required=True)
    ap.add_argument("--tier", choices=["unit", "e2e", "custom"], default="unit")
    ap.add_argument("--batches", type=int, default=None)
    ap.add_argument("--buckets", type=int, default=32)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--hosts", type=int, default=40)
    ap.add_argument("--pages", type=int, default=2000)
    ap.add_argument(
        "--trap-threshold", type=int, default=None,
        help="drop discovered/sitemap URLs at or above this trap score",
    )
    ap.add_argument(
        "--sitemaps", action="store_true",
        help="seed the frontier from the seed hosts' sitemap.xml",
    )
    ap.add_argument(
        "--opic", action="store_true",
        help="OPIC-adaptive prioritization: re-rank hosts within a BFS "
             "depth level by online importance from the observed link graph",
    )
    ap.add_argument(
        "--aging-boost-milli", type=int, default=None,
        help="starvation-free frontier aging: selection priority grows by "
             "this/1000 per batch a row has waited (view-only, never stored)",
    )
    ap.add_argument(
        "--content-dedup", action="store_true",
        help="Mercator content-seen test: duplicate bodies keep their "
             "fetch slot but are neither indexed nor link-expanded",
    )
    ap.add_argument(
        "--mirror-every", type=int, default=None,
        help="fixture web: ~1/N pages mirror a host front page "
             "(duplicate-content hazard for --content-dedup)",
    )
    args = ap.parse_args()

    web = {
        "unit": UNIT_WEB,
        "e2e": E2E_WEB,
        "custom": WebConfig(n_hosts=args.hosts, n_pages=args.pages),
    }[args.tier]
    if args.content_dedup or args.mirror_every is not None:
        from dataclasses import replace

        web = replace(
            web,
            content_dedup=args.content_dedup,
            mirror_every=args.mirror_every,
        )

    spark = SparkSession.builder.appName("wfc-crawl").getOrCreate()
    cfg = CrawlConfig(
        web=web,
        checkpoint_dir=args.checkpoint_dir,
        num_buckets=args.buckets,
        max_batches=args.batches,
        trap_threshold=args.trap_threshold,
        use_sitemaps=args.sitemaps,
        opic_priority=args.opic,
        aging_boost_milli=args.aging_boost_milli,
    )
    catalog = run_crawl(spark, cfg, resume=args.resume)
    st = catalog.state()
    print(
        json.dumps(
            {
                "snapshot": catalog.head(),
                "next_batch": st["next_batch"],
                "next_seq": st["next_seq"],
                "finished": st["finished"],
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
