"""Property / metamorphic tests (SURVEY.md §5.2.3).

(a) resume-equivalence — interrupt after batch k, resume from the last
    committed snapshot, final state equals the uninterrupted run;
(b) partitioning-invariance — crawl_order independent of the bucket
    count / shuffle layout (the C9 determinism claim);
(c) dedup correctness — both seen-dedup forms (shuffle anti-join and
    scan-only) return exactly the expected new set;
(d) dedup idempotence — re-deduping already-merged discoveries yields
    nothing new.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from who_focus_crawler_spark import schemas
from who_focus_crawler_spark.operators.dedup import (
    dedup_against_seen,
    dedup_against_seen_scanonly,
    part_id,
)
from who_focus_crawler_spark.plans.crawl import CrawlConfig, run_crawl
from who_focus_crawler_spark.sources.fixture_web import WebConfig

PROP_WEB = WebConfig(n_hosts=6, n_pages=40, seed_hosts=(0, 1), max_batches=6)


def _order(spark, catalog):
    return [
        (r.seq, r.batch, r.canon_url)
        for r in catalog.read_table(spark, "crawl_order", schemas.CRAWL_ORDER)
        .orderBy("seq")
        .collect()
    ]


def _seen(spark, catalog):
    return {
        r.canon_url
        for r in catalog.read_table(spark, "url_seen", schemas.URL_SEEN).collect()
    }


def test_resume_equivalence(spark, tmp_path):
    full = run_crawl(
        spark,
        CrawlConfig(web=PROP_WEB, checkpoint_dir=str(tmp_path / "full"), num_buckets=8),
    )
    # interrupted run: stop after batch 3, then resume to completion
    cfg_i = CrawlConfig(
        web=PROP_WEB, checkpoint_dir=str(tmp_path / "interrupted"), num_buckets=8
    )
    run_crawl(spark, cfg_i, until_batch=3)
    resumed = run_crawl(spark, cfg_i, resume=True)

    assert _order(spark, resumed) == _order(spark, full)
    assert _seen(spark, resumed) == _seen(spark, full)


def test_partitioning_invariance(spark, tmp_path):
    a = run_crawl(
        spark,
        CrawlConfig(web=PROP_WEB, checkpoint_dir=str(tmp_path / "b8"), num_buckets=8),
    )
    b = run_crawl(
        spark,
        CrawlConfig(web=PROP_WEB, checkpoint_dir=str(tmp_path / "b3"), num_buckets=3),
    )
    assert _order(spark, a) == _order(spark, b)
    assert _seen(spark, a) == _seen(spark, b)


@pytest.fixture()
def seen_and_candidates(spark):
    P = 8
    seen_urls = [(f"http://h{i % 5}.t/p/{i}",) for i in range(0, 600, 2)]
    cand_urls = [(f"http://h{i % 5}.t/p/{i}",) for i in range(0, 900, 3)]
    seen = (
        spark.createDataFrame(seen_urls, ["canon_url"])
        .withColumn("url_hash", F.xxhash64("canon_url"))
        .withColumn("part_id", part_id(F.col("url_hash"), P))
    )
    cand = (
        spark.createDataFrame(cand_urls, ["target_url"])
        .withColumn("url_hash", F.xxhash64("target_url"))
    )
    return spark, seen, cand, P


SEEN_DEDUP_FORMS = pytest.mark.parametrize(
    "dedup",
    [dedup_against_seen, dedup_against_seen_scanonly],
    ids=["shuffle", "scanonly"],
)


@SEEN_DEDUP_FORMS
def test_seen_dedup_equals_exact(seen_and_candidates, dedup):
    spark, seen, cand, P = seen_and_candidates
    got = {r.target_url for r in dedup(cand, seen).collect()}
    # the expected set — multiples of 3 that are not even (≥600 all new)
    want = {
        f"http://h{i % 5}.t/p/{i}"
        for i in range(0, 900, 3)
        if i % 2 == 1 or i >= 600
    }
    assert got == want


@SEEN_DEDUP_FORMS
def test_dedup_idempotent(seen_and_candidates, dedup):
    spark, seen, cand, P = seen_and_candidates
    new = dedup(cand, seen)
    # merge the discoveries into url_seen, then dedup the same batch again
    merged = seen.unionByName(
        new.select(
            F.col("target_url").alias("canon_url"),
            "url_hash",
            part_id(F.col("url_hash"), P).alias("part_id"),
        )
    )
    again = dedup(cand, merged)
    assert again.count() == 0


def test_rollback_then_resume_equivalence(spark, tmp_path):
    """checkpoint/snapshot.py::rollback_to — time travel BACK the write
    path: finish a crawl, roll HEAD back to the batch-3 snapshot, resume.
    C9 determinism means the re-crawled batches reproduce the abandoned
    schedule exactly, so the final state equals the uninterrupted run.
    The abandoned snapshots stay time-travel-readable until expiry, and
    non-ancestor targets are refused."""
    from who_focus_crawler_spark.checkpoint.snapshot import SnapshotCatalog

    cfg = CrawlConfig(
        web=PROP_WEB, checkpoint_dir=str(tmp_path / "rb"), num_buckets=8
    )
    full = run_crawl(spark, cfg)
    cat = SnapshotCatalog(cfg.checkpoint_dir)
    head_before = cat.head()
    final_order = _order(spark, full)
    final_seen = _seen(spark, full)

    # pick the snapshot whose state says next_batch == 4 (i.e. batch 3
    # committed) — resolve by scanning manifests via state()
    target = None
    for sid in range(head_before + 1):
        st = cat.state(sid) if cat._manifest_path(sid).exists() else None
        if st and st.get("next_batch") == 4:
            target = sid
            break
    assert target is not None and target < head_before

    assert cat.rollback_to(target) == target
    assert cat.head() == target
    # rolled-back HEAD reads the batch-3 cut; the abandoned tip is still
    # time-travel-readable by explicit id
    assert len(_order(spark, cat)) < len(final_order)
    tip_rows = [
        (r.seq, r.batch, r.canon_url)
        for r in cat.read_table(
            spark, "crawl_order", schemas.CRAWL_ORDER, snapshot_id=head_before
        )
        .orderBy("seq")
        .collect()
    ]
    assert tip_rows == final_order

    # resume re-crawls the abandoned batches under fresh snapshot ids
    resumed = run_crawl(spark, cfg, resume=True)
    assert _order(spark, resumed) == final_order
    assert _seen(spark, resumed) == final_seen
    assert cat.head() > head_before  # fresh ids, never reused

    # guards: the abandoned tip is NOT an ancestor of the resumed chain
    # (its history diverged at `target`), and unknown ids are refused
    with pytest.raises(ValueError, match="not an ancestor"):
        cat.rollback_to(head_before)
    with pytest.raises(ValueError, match="no snapshot"):
        cat.rollback_to(10_000)
