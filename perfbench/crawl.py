"""The two crawl loops as workloads.

``crawl_batch``: the batch loop (``plans/crawl.py``) from bootstrap on a
politeness-capped fixture web, default ``CrawlConfig``. One op is one
``run_batch`` call: select, robots, politeness, sequencing, fetch,
discovery, seen-filter dedup, merge and the snapshot commit of every
state table.

``crawl_stream``: the streaming loop (``streaming/crawl.py``) in the
saturated regime (``select_k = politeness_k = n_pages``) seeded on many
hosts, so each epoch is one BFS wave and waves grow epoch by epoch. One
op is one ``run_crawl_streaming`` cycle, i.e. one committed epoch.

Oracle, both loops: after each op the committed ``crawl_order`` and
``url_seen`` must equal the sequential golden crawler's
(``sources/golden.run_golden``) after the same number of batches or
epochs, row for row (in the saturated regime the streaming loop's crawl
order is exactly the batch loop's).
"""

from __future__ import annotations

import os
import random

from who_focus_crawler_spark import schemas
from who_focus_crawler_spark.plans import crawl as PC
from who_focus_crawler_spark.sources.fixture_web import WebConfig
from who_focus_crawler_spark.sources.golden import run_golden
from who_focus_crawler_spark.streaming import crawl as SC

N_HOSTS = 400
N_SEED_HOSTS = 200
BASE_PAGES = 40_000
POLITENESS_K = 50

STREAM_HOSTS = 4000
STREAM_SEED_HOSTS = 2000
STREAM_PAGES = 200_000


def crawl_web(seed: int) -> WebConfig:
    """The seed picks which hosts are seeded and nudges the web's size."""
    hosts = sorted(random.Random(seed).sample(range(N_HOSTS), N_SEED_HOSTS))
    return WebConfig(
        n_hosts=N_HOSTS,
        n_pages=BASE_PAGES + 500 * (seed % 4),
        seed_hosts=tuple(hosts),
        select_k=POLITENESS_K,
        politeness_k=POLITENESS_K,
    )


class CrawlBatch:
    name = "crawl_batch"
    item = "pages"
    # batch 1, right after bootstrap (no warm-up batch: README "Budget");
    # each batch does different work
    timed_ops = 1

    def __init__(self, spark, seed: int, work: str):
        self.spark = spark
        self.web = crawl_web(seed)
        self.cfg = PC.CrawlConfig(web=self.web, checkpoint_dir=os.path.join(work, "catalog"))
        self.catalog = None

    def build(self) -> None:
        self.catalog = PC.bootstrap(self.spark, self.cfg)

    def op(self):
        stats = PC.run_batch(self.spark, self.cfg, self.catalog)
        return stats, stats["fetched"]

    def prepare_oracle(self) -> None:
        pass

    def check(self, output, state=None) -> str | None:
        return compare_with_golden(self.spark, self.catalog, self.web, output["batch"], state)

    def trace_extras(self) -> dict[str, float]:
        return {}


def stream_web(seed: int) -> WebConfig:
    hosts = sorted(random.Random(seed).sample(range(STREAM_HOSTS), STREAM_SEED_HOSTS))
    pages = STREAM_PAGES + 1000 * (seed % 4)
    return WebConfig(
        n_hosts=STREAM_HOSTS,
        n_pages=pages,
        seed_hosts=tuple(hosts),
        select_k=pages,
        politeness_k=pages,
    )


class CrawlStream:
    name = "crawl_stream"
    item = "pages"
    timed_ops = 1  # epoch 1, as for CrawlBatch

    def __init__(self, spark, seed: int, work: str):
        self.spark = spark
        self.web = stream_web(seed)
        self.cfg = PC.CrawlConfig(web=self.web, checkpoint_dir=os.path.join(work, "unused"))
        self.inbox = os.path.join(work, "inbox")
        self.checkpoint = os.path.join(work, "stream-ck")
        self.catalog_root = os.path.join(work, "catalog")
        self.catalog = None

    def _state(self) -> dict:
        return self.catalog.state() or {}

    def build(self) -> None:
        self.catalog = SC.bootstrap_streaming(self.spark, self.cfg, self.inbox, self.catalog_root)

    def op(self):
        before = self._state()
        self.catalog = SC.run_crawl_streaming(
            self.spark, self.cfg, self.inbox, self.checkpoint, self.catalog_root,
            max_cycles=1,
        )
        after = self._state()
        fetched = after.get("stream_fetched", 0) - before.get("stream_fetched", 0)
        return int(after.get("crawl_epochs", 0)), fetched

    def prepare_oracle(self) -> None:
        pass

    def check(self, epochs: int, state=None) -> str | None:
        return compare_with_golden(self.spark, self.catalog, self.web, epochs, state)

    def trace_extras(self) -> dict[str, float]:
        return {}


def read_crawl_state(spark, catalog) -> tuple[list[tuple], set[str]]:
    order = [
        (r.seq, r.batch, r.canon_url, r.host, r.depth, r.seed_id)
        for r in catalog.read_table(spark, "crawl_order", schemas.CRAWL_ORDER).collect()
    ]
    seen = {r.canon_url for r in catalog.read_table(spark, "url_seen", schemas.URL_SEEN)
            .select("canon_url").collect()}
    return sorted(order), seen


def compare_with_golden(spark, catalog, web: WebConfig, batches: int,
                        state: tuple[list[tuple], set[str]] | None = None) -> str | None:
    gold = run_golden(web, max_batches=batches)
    order, seen = state if state is not None else read_crawl_state(spark, catalog)
    if order != sorted(gold.crawl_order):
        return (f"crawl_order differs from golden after {batches} batches "
                f"({len(order)} vs {len(gold.crawl_order)} rows)")
    if seen != gold.url_seen:
        return (f"url_seen differs from golden after {batches} batches "
                f"({len(seen)} vs {len(gold.url_seen)} urls)")
    return None
