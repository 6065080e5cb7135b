"""Commit-atomicity crash injection for the snapshot shim
(checkpoint/snapshot.py — VERDICT r2 item 4).

The commit protocol is: (1) write data files, (2) durably write the
manifest, (3) atomically swap HEAD. A kill at ANY point before (3)
must leave readers on the previous snapshot with nothing torn, and a
subsequent writer (the resumed crawl) must complete as if the crash
never happened. Each test simulates the kill by raising from the exact
protocol step, then re-drives the writer.

The streaming loop adds its inbox publish in front of the catalog
commit; its two crash windows (staged but not renamed; renamed but not
committed) are injected the same way."""

from __future__ import annotations

import glob
import os

import pytest

from who_focus_crawler_spark import schemas
from who_focus_crawler_spark.checkpoint.snapshot import SnapshotCatalog
from who_focus_crawler_spark.plans.crawl import (
    CrawlConfig,
    run_batch,
    run_crawl,
)
from who_focus_crawler_spark.sources.fixture_web import WebConfig
from who_focus_crawler_spark.streaming import crawl as SC

CRASH_WEB = WebConfig(n_hosts=6, n_pages=40, seed_hosts=(0, 1), max_batches=6)


class _Boom(RuntimeError):
    pass


def _mk(spark, tmp_path, name="cat"):
    cat = SnapshotCatalog(str(tmp_path / name))
    cat.commit(
        0,
        {"t": spark.createDataFrame([(1, "a")], "k long, v string")},
        state={"n": 0},
    )
    return cat


def _rows(spark, cat, snap=None):
    df = cat.read_table(spark, "t", "k long, v string", snapshot_id=snap) \
        if snap is not None else cat.read_table(spark, "t", "k long, v string")
    return sorted((r.k, r.v) for r in df.collect())


def test_kill_after_data_files_before_manifest(spark, tmp_path):
    cat = _mk(spark, tmp_path)
    new = spark.createDataFrame([(2, "b")], "k long, v string")

    orig = cat._write_manifest
    cat._write_manifest = lambda m: (_ for _ in ()).throw(_Boom())
    with pytest.raises(_Boom):
        cat.commit(1, {"t": new}, state={"n": 1})
    cat._write_manifest = orig

    # reader: old snapshot intact, no manifest for 1, HEAD unmoved
    assert cat.head() == 0
    assert not cat._manifest_path(1).exists()
    assert _rows(spark, cat) == [(1, "a")]
    # recovery: the same commit re-driven lands cleanly
    cat.commit(1, {"t": new}, state={"n": 1})
    assert cat.head() == 1
    assert _rows(spark, cat) == [(2, "b")]
    assert _rows(spark, cat, snap=0) == [(1, "a")]  # time travel intact


def test_kill_after_manifest_before_head_swap(spark, tmp_path):
    cat = _mk(spark, tmp_path)
    new = spark.createDataFrame([(2, "b")], "k long, v string")

    orig = cat._swap_head
    cat._swap_head = lambda sid: (_ for _ in ()).throw(_Boom())
    with pytest.raises(_Boom):
        cat.commit(1, {"t": new}, state={"n": 1})
    cat._swap_head = orig

    # the manifest exists as an ORPHAN, but no reader can reach it:
    # head() still 0, HEAD-relative reads untorn
    assert cat._manifest_path(1).exists()
    assert cat.head() == 0
    assert _rows(spark, cat) == [(1, "a")]
    assert dict(cat.state())["n"] == 0
    # the orphan id is NOT handed out again to an unrelated writer...
    assert cat.next_snapshot_id() == 2
    # ...but re-driving the SAME commit rewrites the orphan (the
    # documented recovery path) and publishes atomically
    cat.commit(1, {"t": new}, state={"n": 1})
    assert cat.head() == 1
    assert _rows(spark, cat) == [(2, "b")]


def test_kill_mid_head_write_leaves_head_intact(spark, tmp_path):
    cat = _mk(spark, tmp_path)
    new = spark.createDataFrame([(2, "b")], "k long, v string")

    orig = cat._swap_head

    def torn_swap(sid):
        # write the tmp file, die before the atomic os.replace
        tmp = cat._head_path.with_suffix(".tmp")
        tmp.write_text(str(sid))
        raise _Boom()

    cat._swap_head = torn_swap
    with pytest.raises(_Boom):
        cat.commit(1, {"t": new}, state={"n": 1})
    cat._swap_head = orig

    assert cat.head() == 0  # HEAD file never half-written
    assert _rows(spark, cat) == [(1, "a")]
    cat.commit(1, {"t": new}, state={"n": 1})
    assert cat.head() == 1 and _rows(spark, cat) == [(2, "b")]


def test_crawl_resumes_identically_after_torn_batch_commit(spark, tmp_path):
    """End-to-end: a crawl whose batch-3 commit dies between manifest
    and HEAD swap resumes to EXACTLY the uninterrupted run's crawl_order
    and url_seen — the orphan manifest is skipped by the id allocator
    and invisible to every read."""
    full = run_crawl(
        spark,
        CrawlConfig(
            web=CRASH_WEB,
            checkpoint_dir=str(tmp_path / "full"),
            num_buckets=8,
        ),
    )
    cfg = CrawlConfig(
        web=CRASH_WEB,
        checkpoint_dir=str(tmp_path / "crash"),
        num_buckets=8,
    )
    run_crawl(spark, cfg, until_batch=2)
    cat = SnapshotCatalog(cfg.checkpoint_dir)
    orig = cat._swap_head
    cat._swap_head = lambda sid: (_ for _ in ()).throw(_Boom())
    with pytest.raises(_Boom):
        run_batch(spark, cfg, cat)
    cat._swap_head = orig
    assert cat.state()["next_batch"] == 3  # batch 3 not committed

    resumed = run_crawl(spark, cfg, resume=True)

    assert _order(spark, resumed) == _order(spark, full)
    assert _seen(spark, resumed) == _seen(spark, full)


def _order(spark, c):
    return [
        (r.seq, r.batch, r.canon_url)
        for r in c.read_table(spark, "crawl_order", schemas.CRAWL_ORDER)
        .orderBy("seq")
        .collect()
    ]


def _seen(spark, c):
    return {
        r.canon_url
        for r in c.read_table(spark, "url_seen", schemas.URL_SEEN).collect()
    }


def _stream(spark, root):
    return SC.run_crawl_streaming(
        spark,
        CrawlConfig(
            web=CRASH_WEB, checkpoint_dir=str(root / "unused"), num_buckets=8
        ),
        inbox=str(root / "inbox"),
        checkpoint=str(root / "ck"),
        catalog_root=str(root / "cat"),
    )


def _published(root):
    return sorted(p for p in glob.glob(str(root / "inbox" / "*")) if os.path.isdir(p))


@pytest.fixture(scope="module")
def stream_full(spark, tmp_path_factory):
    cat = _stream(spark, tmp_path_factory.mktemp("stream_full"))
    return _order(spark, cat), _seen(spark, cat)


@pytest.mark.parametrize("window", ["staged", "renamed"])
def test_streaming_resumes_identically_after_crash_in_epoch_2(
    spark, tmp_path, monkeypatch, stream_full, window
):
    """Epoch 2 dies after staging its inbox directory but before the
    rename ("staged"), or after the rename but before the catalog commit
    ("renamed"). Re-driving the stream with the same inbox, checkpoint
    and catalog re-delivers epoch 2 and lands on the uninterrupted run's
    crawl_order and url_seen, with every URL in the inbox exactly once."""
    cat = SnapshotCatalog(str(tmp_path / "cat"))

    def in_epoch_2():
        return (cat.state() or {}).get("crawl_epochs") == 1

    if window == "staged":
        orig = SC.commit_staged_dir

        def commit_staged_dir(staged, inbox, name):
            if staged is not None and name != "seed" and in_epoch_2():
                raise _Boom()
            orig(staged, inbox, name)

        monkeypatch.setattr(SC, "commit_staged_dir", commit_staged_dir)
    else:
        orig = SnapshotCatalog.commit

        def commit(self, *args, **kwargs):
            if kwargs["state"].get("crawl_epochs") == 2:
                raise _Boom()
            orig(self, *args, **kwargs)

        monkeypatch.setattr(SnapshotCatalog, "commit", commit)
    with pytest.raises(Exception):
        _stream(spark, tmp_path)
    monkeypatch.undo()

    assert cat.state()["crawl_epochs"] == 1  # epoch 2 not committed
    # seed + epoch 1, plus epoch 2 only once it was renamed into place
    assert len(_published(tmp_path)) == (2 if window == "staged" else 3)
    if window == "staged":
        assert os.listdir(tmp_path / "inbox" / ".staging")

    resumed = _stream(spark, tmp_path)
    full_order, full_seen = stream_full
    assert _order(spark, resumed) == full_order
    assert _seen(spark, resumed) == full_seen
    inbox_urls = [
        r.canon_url
        for r in spark.read.schema(SC.INBOX_SCHEMA)
        .parquet(*_published(tmp_path))
        .select("canon_url")
        .collect()
    ]
    assert len(inbox_urls) == len(set(inbox_urls))
    assert set(inbox_urls) == full_seen
