"""Streaming crawl variant (streaming/crawl.py): the self-feeding
foreachBatch loop must crawl the SAME web to the SAME final url_seen
set and documents corpus as the batch loop (crawl_order relaxes to
epoch-local order), stay exactly-once across a mid-stream restart, and
be a no-op when re-driven after draining."""

from __future__ import annotations

import glob
import os

import pytest

from who_focus_crawler_spark import schemas
from who_focus_crawler_spark.plans.crawl import CrawlConfig, run_crawl
from who_focus_crawler_spark.sources.fixture_web import UNIT_WEB, WebConfig
from who_focus_crawler_spark.streaming.crawl import (
    INBOX_SCHEMA,
    publish_epoch_dir,
    run_crawl_streaming,
)


def _doc_map(spark, cat):
    rows = cat.read_table(spark, "documents", schemas.DOCUMENTS_OUT).collect()
    return {
        r.doc_id: tuple(
            (s.kind, s.text, s.media_ref, s.offset) for s in r.spans
        )
        for r in rows
    }


def _url_seen(spark, cat):
    return {
        r.canon_url
        for r in cat.read_table(spark, "url_seen", schemas.URL_SEEN).collect()
    }


@pytest.fixture(scope="module")
def batch_run(spark, tmp_path_factory):
    cfg = CrawlConfig(
        web=UNIT_WEB,
        checkpoint_dir=str(tmp_path_factory.mktemp("batch_cat")),
        num_buckets=8,
    )
    cat = run_crawl(spark, cfg)
    assert cat.state()["finished"]  # the fixture web drains fully
    return cat


def test_streaming_equals_batch_final_sets(spark, tmp_path, batch_run):
    cfg = CrawlConfig(
        web=UNIT_WEB, checkpoint_dir=str(tmp_path / "unused"), num_buckets=8
    )
    scat = run_crawl_streaming(
        spark,
        cfg,
        inbox=str(tmp_path / "inbox"),
        checkpoint=str(tmp_path / "ck"),
        catalog_root=str(tmp_path / "scat"),
    )
    assert _url_seen(spark, scat) == _url_seen(spark, batch_run)
    sdocs, bdocs = _doc_map(spark, scat), _doc_map(spark, batch_run)
    assert sdocs == bdocs
    # crawl_order relaxed: same fetch SET, seq a contiguous 1..n total order
    so = scat.read_table(spark, "crawl_order", schemas.CRAWL_ORDER).collect()
    bo = batch_run.read_table(
        spark, "crawl_order", schemas.CRAWL_ORDER
    ).collect()
    assert {r.canon_url for r in so} == {r.canon_url for r in bo}
    assert sorted(r.seq for r in so) == list(range(1, len(so) + 1))
    # per-row lineage intact: depth/host/seed match the batch loop's
    bmeta = {r.canon_url: (r.host, r.seed_id) for r in bo}
    for r in so:
        assert (r.host, r.seed_id) == bmeta[r.canon_url], r.canon_url


def test_streaming_restart_mid_stream_exactly_once(
    spark, tmp_path, batch_run
):
    cfg = CrawlConfig(
        web=UNIT_WEB, checkpoint_dir=str(tmp_path / "unused"), num_buckets=8
    )
    args = dict(
        inbox=str(tmp_path / "inbox"),
        checkpoint=str(tmp_path / "ck"),
        catalog_root=str(tmp_path / "scat"),
    )
    # "crash" after the first cycle...
    scat = run_crawl_streaming(spark, cfg, max_cycles=1, **args)
    mid_epochs = scat.state()["crawl_epochs"]
    assert not _url_seen(spark, scat) >= _url_seen(spark, batch_run) or len(
        _doc_map(spark, scat)
    ) < len(_doc_map(spark, batch_run))  # genuinely mid-crawl
    # ...then restart from the same checkpoint: the run completes with
    # NO duplicated or lost work
    scat = run_crawl_streaming(spark, cfg, **args)
    assert scat.state()["crawl_epochs"] > mid_epochs
    assert _url_seen(spark, scat) == _url_seen(spark, batch_run)
    assert _doc_map(spark, scat) == _doc_map(spark, batch_run)
    so = scat.read_table(spark, "crawl_order", schemas.CRAWL_ORDER).collect()
    assert sorted(r.seq for r in so) == list(range(1, len(so) + 1))
    assert len({r.canon_url for r in so}) == len(so)  # no double fetch
    # driving a DRAINED crawl again applies zero epochs and changes nothing
    done_epochs = scat.state()["crawl_epochs"]
    scat = run_crawl_streaming(spark, cfg, **args)
    assert scat.state()["crawl_epochs"] == done_epochs
    assert _doc_map(spark, scat) == _doc_map(spark, batch_run)


def _inbox_rows(spark, tmp_path):
    """Count frontier rows across every published inbox directory."""
    dirs = [
        p
        for p in glob.glob(str(tmp_path / "inbox" / "*"))
        if os.path.isdir(p)
    ]
    total = 0
    for d in dirs:
        total += spark.read.schema(INBOX_SCHEMA).parquet(d).count()
    return total


def test_inbox_carries_each_url_exactly_once(spark, tmp_path, batch_run):
    """VERDICT r3 item 1, half 2: deferred rows live in the committed
    frontier table, NOT the inbox — so across a full drained run the
    inbox receives every crawled URL exactly once (seeds + discoveries),
    with no backlog recirculation. The old design rewrote a host's
    entire politeness backlog to the inbox every epoch."""
    cfg = CrawlConfig(
        web=UNIT_WEB, checkpoint_dir=str(tmp_path / "unused"), num_buckets=8
    )
    scat = run_crawl_streaming(
        spark,
        cfg,
        inbox=str(tmp_path / "inbox"),
        checkpoint=str(tmp_path / "ck"),
        catalog_root=str(tmp_path / "scat"),
    )
    assert _inbox_rows(spark, tmp_path) == len(_url_seen(spark, scat))
    # backlog fully drained into fetches at the end of the run
    assert (
        scat.read_table(spark, "frontier", INBOX_SCHEMA).count() == 0
    )


def test_epoch_publish_is_per_partition_and_atomic(spark, tmp_path):
    """VERDICT r3 item 1, half 1: the write-back must not funnel the
    epoch through one task. publish_epoch_dir writes per-partition part
    files (one per write task) and publishes them with a single atomic
    directory rename; republish of an existing name is a no-op."""
    from pyspark.sql import functions as F

    inbox = str(tmp_path / "inbox")
    os.makedirs(inbox)
    rows = (
        spark.range(4096)
        .select(
            F.concat(F.lit("http://h/"), F.col("id")).alias("canon_url"),
            F.col("id").alias("url_hash"),
            F.lit("h").alias("host"),
            F.lit(0).cast("int").alias("host_bucket"),
            F.lit(-1.0).alias("priority"),
            F.lit(1).cast("int").alias("depth"),
            F.lit(0).cast("int").alias("seed_id"),
            F.lit(None).cast("long").alias("parent_hash"),
        )
        .repartition(8)
    )
    publish_epoch_dir(rows, inbox, "epoch_t_0")
    parts = sorted(
        os.path.basename(p)
        for p in glob.glob(os.path.join(inbox, "epoch_t_0", "part-*.parquet"))
    )
    assert len(parts) == 8  # every task wrote its own file — no coalesce(1)
    # staging area left clean (dot-prefixed: invisible to the source glob)
    assert os.listdir(os.path.join(inbox, ".staging")) == []
    # idempotent republish: different content, same name → untouched
    publish_epoch_dir(rows.limit(1), inbox, "epoch_t_0")
    parts2 = sorted(
        os.path.basename(p)
        for p in glob.glob(os.path.join(inbox, "epoch_t_0", "part-*.parquet"))
    )
    assert parts2 == parts
    got = spark.read.schema(INBOX_SCHEMA).parquet(
        os.path.join(inbox, "epoch_t_0")
    )
    assert got.count() == 4096


def test_streaming_crawl_order_equality_saturated(spark, tmp_path):
    """VERDICT r3 item 4: in the saturated regime (politeness_k and
    select_k at least every host's in-wave fanout) batch b and epoch b
    both fetch exactly one BFS wave ranked by the same frozen C9 key —
    so the GLOBAL crawl order matches seq for seq, not just as a set.
    The general-regime impossibility argument lives in the module
    docstring (streaming/crawl.py)."""
    web = WebConfig(select_k=10_000, politeness_k=10_000)
    bcat = run_crawl(
        spark,
        CrawlConfig(
            web=web, checkpoint_dir=str(tmp_path / "bcat"), num_buckets=8
        ),
    )
    assert bcat.state()["finished"]
    scat = run_crawl_streaming(
        spark,
        CrawlConfig(
            web=web, checkpoint_dir=str(tmp_path / "unused"), num_buckets=8
        ),
        inbox=str(tmp_path / "inbox"),
        checkpoint=str(tmp_path / "ck"),
        catalog_root=str(tmp_path / "scat"),
    )

    def order(cat):
        return {
            r.seq: (r.batch, r.canon_url, r.url_hash, r.host, r.depth,
                    r.seed_id)
            for r in cat.read_table(
                spark, "crawl_order", schemas.CRAWL_ORDER
            ).collect()
        }

    bo, so = order(bcat), order(scat)
    assert len(bo) > 0
    assert so == bo  # EXACT global schedule equality, every column


def _order(spark, cat):
    return [
        (r.seq, r.batch, r.canon_url, r.url_hash, r.host, r.depth, r.seed_id)
        for r in cat.read_table(spark, "crawl_order", schemas.CRAWL_ORDER)
        .orderBy("seq")
        .collect()
    ]


def _both_loops(spark, tmp_path, web, **cfg_kw):
    bcat = run_crawl(
        spark,
        CrawlConfig(
            web=web, checkpoint_dir=str(tmp_path / "bcat"), num_buckets=8,
            **cfg_kw,
        ),
    )
    assert bcat.state()["finished"]
    scat = run_crawl_streaming(
        spark,
        CrawlConfig(
            web=web, checkpoint_dir=str(tmp_path / "unused"), num_buckets=8,
            **cfg_kw,
        ),
        inbox=str(tmp_path / "inbox"),
        checkpoint=str(tmp_path / "ck"),
        catalog_root=str(tmp_path / "scat"),
    )
    return bcat, scat


def test_streaming_applies_trap_threshold(spark, tmp_path):
    """Both loops run one crawl wave, so CrawlConfig.trap_threshold gates
    streaming discovery too: at 0 every discovered link is a trap and
    each loop fetches exactly the seeds."""
    web = WebConfig(select_k=10_000, politeness_k=10_000)
    bcat, scat = _both_loops(spark, tmp_path, web, trap_threshold=0)
    bo = _order(spark, bcat)
    assert [r[5] for r in bo] == [0] * len(web.seed_hosts)  # seeds only
    assert _order(spark, scat) == bo


def test_streaming_applies_content_dedup(spark, tmp_path):
    """web.content_dedup on a saturated mirrored web: the streaming loop
    owns content_seen and lands on the batch loop's crawl_order,
    documents and url_seen."""
    web = WebConfig(
        n_hosts=4,
        n_pages=60,
        seed_hosts=(0, 1),
        select_k=10_000,
        politeness_k=10_000,
        mirror_every=3,
        content_dedup=True,
    )
    bcat, scat = _both_loops(spark, tmp_path, web)
    bo = _order(spark, bcat)
    assert _order(spark, scat) == bo
    bdocs = _doc_map(spark, bcat)
    assert len(bdocs) < len(bo)  # non-vacuous: duplicates not indexed
    assert _doc_map(spark, scat) == bdocs
    assert _url_seen(spark, scat) == _url_seen(spark, bcat)


@pytest.mark.parametrize(
    "opt",
    [
        {"opic_priority": True},
        {"aging_boost_milli": 1500},
        {"use_sitemaps": True},
    ],
    ids=lambda o: next(iter(o)),
)
def test_streaming_refuses_batch_only_options(spark, tmp_path, opt):
    """Selection and sitemap seeding exist only in the batch loop; the
    streaming loop refuses them instead of silently ignoring them."""
    cfg = CrawlConfig(
        web=WebConfig(n_hosts=2, n_pages=4, seed_hosts=(0,)),
        checkpoint_dir=str(tmp_path / "unused"),
        num_buckets=8,
        **opt,
    )
    with pytest.raises(ValueError, match=next(iter(opt))):
        run_crawl_streaming(
            spark,
            cfg,
            inbox=str(tmp_path / "inbox"),
            checkpoint=str(tmp_path / "ck"),
            catalog_root=str(tmp_path / "scat"),
        )
