"""Streaming crawl variant — the batch loop's crawl wave driven by a
SELF-FEEDING Structured Streaming query (SURVEY.md §1.3 "variant mode").

Each epoch runs ONE crawl wave (plans/crawl.py::crawl_wave: robots gate,
politeness, C9 seq, fetch, content-seen, discovery, trap gate, exact
dedup) — the same code the batch loop runs. This module keeps only what
differs: where the wave's rows come from and where its new links go.

Topology: NEW discoveries flow through a parquet-directory INBOX that is
both the stream source and the discovery sink; the politeness BACKLOG
(deferred rows) lives in the committed ``frontier`` table —

    inbox ──readStream(inbox/*)──▶ foreachBatch(epoch):
        arrivals ∪ frontier table (backlog) ──▶ crawl_wave ──▶
        ├─ NEW uniques ──▶ inbox (next epoch's arrivals)
        └─ url_seen/crawl_order/documents/robots_cache/host_state/
           content_seen/frontier(=deferred backlog) ──▶ ONE atomic
           snapshot commit

Each availableNow cycle drains the files present at its start; links it
discovers land as NEW inbox files picked up by the next cycle. The
driver loops cycles until one applies zero epochs — the streaming
equivalent of "frontier drained". At cluster scale the inbox is a
Kafka topic or an Iceberg append stream; the per-epoch body is
unchanged (it only sees a DataFrame of frontier rows). There is no C6
selection: arrivals ∪ backlog ARE the selection, so the CrawlConfig
options that only selection or the batch bootstrap implement
(``opic_priority``, ``aging_boost_milli``, ``use_sitemaps``) are refused.

Write-back shape:

- **No single-task exchange.** Each epoch stages a DIRECTORY of
  per-partition part files written by every task in parallel, made
  atomic by ONE ``os.rename`` of the staged directory into the inbox.
  The stream source reads the glob ``inbox/*``, so a renamed
  directory's files appear all-or-nothing; the ``.staging`` scratch dir
  is dot-prefixed and therefore invisible to the glob and to Spark's
  hidden-file filter.
- **Deferred rows never recirculate through the inbox.** They are
  committed to the snapshot's ``frontier`` table and unioned back in at
  the next epoch's start, so inbox traffic is bounded by DISCOVERY
  volume per epoch, not by backlog size. When an epoch discovers
  nothing new but still holds a backlog, it publishes a ZERO-ROW tick
  directory so the file source fires the next epoch.

Equivalence contract (tests/streaming/test_crawl_streaming.py): on a
fully-drained fixture web the final ``url_seen`` set and the
``documents`` corpus (doc_id → span sequence) are EQUAL to the batch
loop's. ``crawl_order``:

- **Saturated regime (politeness_k and select_k ≥ every host's
  in-wave fanout): EXACT global equality**, seq for seq. Both loops
  then process exactly one BFS wave per batch/epoch — the batch loop's
  top-k selection takes the whole frontier and politeness admits all of
  it, so batch b and epoch b run the same wave over the same rows, with
  the same clock and the same base seq.
- **General regime: epoch-local order only** — and this is structural,
  not an implementation gap. With select_k smaller than the frontier,
  batch b's C6 selection draws the top-k of the ENTIRE accumulated
  frontier, so it can schedule a wave-3 URL before a still-pending
  wave-2 URL on priority grounds. A self-feeding stream sees rows in
  discovery waves; reproducing cross-wave selection would require
  re-ranking arrivals against the full backlog AND the not-yet-arrived
  future discoveries of the same batch — i.e. knowing batch b's
  discovery closure before fetching it, which is exactly the barrier
  microbatching removes. Within an epoch the schedule-key order IS the
  frozen C9 order, and seq remains a contiguous global total order.

Exactly-once across restarts, two halves:
- catalog writes: the committed state records (checkpoint id, last
  applied epoch); a re-delivered epoch is skipped — the
  stream_frontier_to_catalog contract.
- inbox write-back: each epoch publishes ONE deterministically-named
  directory BEFORE the catalog commit and skips the publish if the
  directory exists. A crash between the two re-delivers the epoch,
  which recomputes bit-identically from the unchanged catalog state
  (fetch, ranks, canonicalization are all deterministic), finds the
  directory present, and proceeds to commit. A crash before the rename
  leaves only staging debris, which the re-delivered epoch overwrites
  (tests/prop/test_crash_atomicity.py injects both).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from who_focus_crawler_spark import schemas
from who_focus_crawler_spark.checkpoint.snapshot import SnapshotCatalog
from who_focus_crawler_spark.operators.frontier import bootstrap_frontier
from who_focus_crawler_spark.plans.crawl import CrawlConfig, crawl_wave, seen_rows
from who_focus_crawler_spark.sources.fixture_web import seed_urls

# inbox rows = enqueued frontier rows without the batch-loop bookkeeping
# columns (already canonical, already in url_seen — dedup happens at the
# DISCOVERY end of the epoch, exactly like the batch loop's C4-before-C5)
INBOX_SCHEMA = T.StructType(schemas.FRONTIER.fields[:8])

_FRONTIER_COLS = INBOX_SCHEMA.fieldNames()

# CrawlConfig options only the batch loop's selection/bootstrap implement
_BATCH_ONLY = ("opic_priority", "aging_boost_milli", "use_sitemaps")


def inbox_glob(inbox: str) -> str:
    """The stream-source path: epoch DIRECTORIES one level under the
    inbox root. Dot-prefixed entries (``.staging``) never match."""
    return os.path.join(inbox, "*")


def _dir_parquet_rows(path: str) -> int:
    """Row count of a published/staged epoch directory straight from
    the parquet footers — metadata reads, no Spark job."""
    import pyarrow.parquet as pq

    n = 0
    for f in os.listdir(path):
        if f.endswith(".parquet"):
            n += pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
    return n


def _staging_path(inbox: str, name: str) -> str | None:
    """A clean ``.staging`` path for epoch directory ``name``, or None
    when ``name`` is already published (re-delivered epoch)."""
    if os.path.exists(os.path.join(inbox, name)):
        return None
    tmp = os.path.join(inbox, ".staging", name)
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.dirname(tmp), exist_ok=True)
    return tmp


def stage_epoch_rows(
    rows: DataFrame, inbox: str, name: str
) -> tuple[str | None, int]:
    """Write the epoch's enqueue set to the dot-staging scratch and
    return (staged_path, row_count) — the count comes from the parquet
    footers of the files just written, so the caller never pays a
    separate count() traversal of the discovery subplan. If the FINAL
    directory already exists (re-delivered epoch) nothing is written and
    the count is read from the published footers (staged_path None)."""
    tmp = _staging_path(inbox, name)
    if tmp is None:
        return None, _dir_parquet_rows(os.path.join(inbox, name))
    rows.write.mode("overwrite").parquet(tmp)
    return tmp, _dir_parquet_rows(tmp)


def commit_staged_dir(staged: str | None, inbox: str, name: str) -> None:
    """The atomic half of stage_epoch_rows: ONE rename into the glob."""
    if staged is not None:
        os.rename(staged, os.path.join(inbox, name))


def abort_staged_dir(staged: str | None) -> None:
    if staged is not None:
        shutil.rmtree(staged, ignore_errors=True)


def publish_epoch_dir(rows: DataFrame, inbox: str, name: str) -> None:
    """Atomically publish ``rows`` as a DIRECTORY of per-partition
    parquet files named ``name``; idempotent (exists ⇒ no-op). Every
    write task emits its own part file — no single-task exchange — and
    a re-delivered epoch can never expose a MIX of old and new part
    files. (A Kafka/Iceberg sink makes this moot in production.)"""
    staged, _ = stage_epoch_rows(rows, inbox, name)
    commit_staged_dir(staged, inbox, name)


def publish_tick_dir(inbox: str, name: str) -> None:
    """Zero-row tick directory written DRIVER-SIDE with pyarrow: waking
    the file source while a politeness backlog waits must not cost a
    Spark job (idempotent, same rename discipline)."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    tmp = _staging_path(inbox, name)
    if tmp is None:
        return
    os.makedirs(tmp)
    pq.write_table(
        to_arrow_schema(INBOX_SCHEMA).empty_table(),
        os.path.join(tmp, "part-00000-tick.parquet"),
    )
    commit_staged_dir(tmp, inbox, name)


def bootstrap_streaming(
    spark: SparkSession, cfg: CrawlConfig, inbox: str, catalog_root: str
) -> SnapshotCatalog:
    """Snapshot 0 + the seed inbox directory: seeds enter url_seen
    (exactly as the batch bootstrap does) and the inbox as the first
    enqueued frontier rows; the deferred backlog starts empty and, as in
    the batch bootstrap, robots_cache (and content_seen) are registered
    with no file-set."""
    os.makedirs(inbox, exist_ok=True)
    cat = SnapshotCatalog(catalog_root)
    frontier = bootstrap_frontier(spark, seed_urls(cfg.web), cfg.num_buckets)
    empty = lambda s: spark.createDataFrame([], s)  # noqa: E731
    cat.commit(
        0,
        {
            "url_seen": seen_rows(frontier, "canon_url", cfg.num_buckets),
            "robots_cache": None,
            "host_state": empty(schemas.HOST_STATE),
            "crawl_order": empty(schemas.CRAWL_ORDER),
            "documents": empty(schemas.DOCUMENTS_OUT),
            "frontier": empty(INBOX_SCHEMA),
        }
        | ({"content_seen": None} if cfg.web.content_dedup else {}),
        state={
            "stream_next_seq": 1,
            "crawl_epochs": 0,
            "stream_fetched": 0,
        },
    )
    publish_epoch_dir(frontier.select(*_FRONTIER_COLS), inbox, "seed")
    return cat


def _commit_epoch(
    df: DataFrame,
    epoch_id: int,
    cfg: CrawlConfig,
    cat: SnapshotCatalog,
    inbox: str,
    checkpoint: str,
) -> None:
    """One streaming epoch = one crawl wave over arrivals ∪ the
    committed backlog, the inbox publish, one atomic snapshot. Tables
    this epoch leaves out of its commit carry forward untouched."""
    spark = df.sparkSession
    head = cat.head()
    assert head is not None, "bootstrap_streaming must run first"
    prev_state = dict(cat.state(head))
    if prev_state.get("crawl_ck") == checkpoint and epoch_id <= prev_state.get(
        "crawl_last_epoch", -1
    ):
        return  # re-delivered epoch: already durable, skip
    ecount = int(prev_state.get("crawl_epochs", 0)) + 1  # robots-TTL clock
    base_seq = int(prev_state.get("stream_next_seq", 1))

    def read(name: str, schema) -> DataFrame | None:
        return cat.read_table(spark, name, schema)

    # candidates = this epoch's arrivals (new discoveries) plus the
    # committed politeness backlog. The two sets are disjoint by
    # construction (a URL enters the inbox exactly once, at discovery;
    # deferred rows only ever live in the frontier table), so
    # dropDuplicates is a defensive no-op on identical rows
    sel = (
        df.select(*_FRONTIER_COLS)
        .unionByName(read("frontier", INBOX_SCHEMA))
        .dropDuplicates(["canon_url"])
        .persist()
    )
    w = crawl_wave(
        cfg,
        sel,
        read("url_seen", schemas.URL_SEEN),
        read("robots_cache", schemas.ROBOTS_CACHE),
        read("host_state", schemas.HOST_STATE),
        ecount,
        base_seq,
        content_seen=(
            read("content_seen", schemas.CONTENT_SEEN)
            if cfg.web.content_dedup
            else None
        ),
    )
    ck_id = prev_state.get("crawl_ck_id") or os.path.basename(
        checkpoint.rstrip("/")
    )
    epoch_name = f"epoch_{ck_id}_{int(epoch_id)}"

    # write-back BEFORE the catalog commit (see module docstring): the
    # inbox carries ONLY new discoveries. n_new comes from the parquet
    # footers of the staged write — one traversal of the discovery
    # subplan, not a count() plus a write.
    n_new = 0
    if w.n_admitted > 0:
        staged, n_new = stage_epoch_rows(w.enqueued(), inbox, epoch_name)
        if n_new > 0 or w.n_deferred > 0:
            commit_staged_dir(staged, inbox, epoch_name)
        else:
            abort_staged_dir(staged)
    elif w.n_deferred > 0:
        # nothing admitted but a backlog waits on politeness windows:
        # a driver-side zero-row tick keeps the source firing — no
        # Spark job, and the commit below is a pure state bump
        publish_tick_dir(inbox, epoch_name)

    # frontier (replace-table) only when the backlog CONTENT can have
    # changed: an empty backlog replacing an empty backlog is carried
    # forward (None) instead of rewritten — the common saturated case
    if w.n_deferred == 0 and prev_state.get("stream_backlog_n", -1) == 0:
        deferred = None
    else:
        deferred = w.cand.filter(
            F.col("robots_ok") & ~F.col("admitted")
        ).select(*_FRONTIER_COLS)

    cat.commit(
        cat.next_snapshot_id(),
        {
            "url_seen": w.url_seen if n_new > 0 else None,
            "crawl_order": w.crawl_order,
            "documents": w.documents,
            "robots_cache": w.robots_cache,
            "host_state": w.host_state,
            "frontier": deferred,  # replace: the remaining backlog
        }
        | ({"content_seen": w.content_seen} if cfg.web.content_dedup else {}),
        state={
            **prev_state,
            "crawl_ck": checkpoint,
            "crawl_ck_id": ck_id,
            "crawl_last_epoch": int(epoch_id),
            "crawl_epochs": ecount,
            "stream_next_seq": base_seq + w.n_admitted,
            "stream_fetched": int(prev_state.get("stream_fetched", 0))
            + w.n_admitted,
            "stream_backlog_n": w.n_deferred,
        },
    )
    sel.unpersist()
    w.release()


def run_crawl_streaming(
    spark: SparkSession,
    cfg: CrawlConfig,
    inbox: str,
    checkpoint: str,
    catalog_root: str,
    max_cycles: int | None = None,
) -> SnapshotCatalog:
    """Drive the self-feeding loop: availableNow cycles until one
    applies zero epochs (inbox drained AND backlog empty — every
    enqueued URL fetched or robots-dropped). ``max_cycles`` stops early
    for restart tests; a later call with the same (inbox, checkpoint,
    catalog_root) resumes exactly where the stream left off."""
    for opt in _BATCH_ONLY:
        if getattr(cfg, opt) not in (None, False):
            raise ValueError(
                f"run_crawl_streaming: CrawlConfig.{opt} is implemented "
                "only by the batch loop's selection and bootstrap"
            )
    cat = SnapshotCatalog(catalog_root)
    if cat.head() is None:
        cat = bootstrap_streaming(spark, cfg, inbox, catalog_root)
    cycles = 0
    while True:
        before = int((cat.state() or {}).get("crawl_epochs", 0))
        q = (
            spark.readStream.schema(INBOX_SCHEMA)
            .parquet(inbox_glob(inbox))
            .writeStream.foreachBatch(
                lambda bdf, eid: _commit_epoch(
                    bdf, eid, cfg, cat, inbox, checkpoint
                )
            )
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        cycles += 1
        after = int((cat.state() or {}).get("crawl_epochs", 0))
        if after == before:
            break  # no epoch applied: nothing new to read → drained
        if max_cycles is not None and cycles >= max_cycles:
            break
    return cat
