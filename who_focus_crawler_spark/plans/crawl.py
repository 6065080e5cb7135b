"""The crawl engine's batch loop (SURVEY.md §3.1) and the crawl wave
both loops share.

A crawl WAVE (`crawl_wave`) is the engine's one statement of crawl
semantics, from a driver's candidate rows to the lazy deltas of one
snapshot:

  C8 robots gate (optimistic against the TTL-fresh cache; a miss pays
  the robots fetch and a second gate pass) → C7 politeness (window) →
  C9 sequencing (deterministic total order) → C10+C11 fetch+extract
  (mapInArrow) → Mercator content-seen test (opt-in) → C12 discovery
  (posexplode + canonicalize) → trap gate (opt-in) → C4 dedup (in-batch
  winner, then exact dedup against url_seen).

The two drivers keep only what differs between them. The batch loop
(`run_batch`: one driver-side iteration = one fetch batch = one
committed snapshot) adds C6 selection in front of the wave (OPIC and
aging views, `select_candidates`) and C5 merge, the seen-filter update,
C16 metrics and the C14 commit behind it. The streaming loop
(streaming/crawl.py) feeds the wave arrivals ∪ its backlog and
publishes the wave's new links to its inbox.

Seen-dedup path, chosen from what the driver can already observe: a
loop that keeps seen filters (the batch loop with ``use_bloom``) probes
them in front of the exact anti-join; otherwise a wave whose PROVEN
admitted count is at most `SCANONLY_MAX_FETCHED` takes the scan-only
form (no shuffle of url_seen); larger waves take the shuffle anti-join.

Determinism contract: given the same seed list, politeness budget, and
fixture web, `crawl_order`, `url_seen`, and every span sequence are
byte-identical to the sequential golden crawler (sources/golden.py) at any
parallelism level — verified by tests/e2e + tests/prop.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Row, SparkSession, Window
from pyspark.sql import functions as F

from who_focus_crawler_spark import schemas
from who_focus_crawler_spark.checkpoint.snapshot import SnapshotCatalog
from who_focus_crawler_spark.functions.traps import trap_score
from who_focus_crawler_spark.operators.dedup import (
    build_seen_filters,
    dedup_against_seen,
    dedup_against_seen_scanonly,
    dedup_in_batch,
    part_id,
    update_seen_filters,
)
from who_focus_crawler_spark.operators.discover import (
    discover_links,
    has_meta_directive,
)
from who_focus_crawler_spark.operators.fetch import fetch_and_extract
from who_focus_crawler_spark.operators.frontier import (
    age_boosted_view,
    bootstrap_frontier,
    merge_frontier,
    select_candidates,
)
from who_focus_crawler_spark.operators.politeness import apply_politeness, assign_seq
from who_focus_crawler_spark.operators.robots import apply_robots, refresh_robots_cache
from who_focus_crawler_spark.sources.fixture_web import WebConfig, seed_urls

# above this PROVEN admitted count a wave's discovery set may be too
# large to broadcast (≈1.5 link targets per fetched page at the fixture
# fanout; ~100 bytes per key row ⇒ ~300k fetched ≈ 50 MB broadcast) —
# the shuffle anti-join takes over from the scan-only form
SCANONLY_MAX_FETCHED = 300_000


@dataclass
class CrawlConfig:
    web: WebConfig
    checkpoint_dir: str
    num_buckets: int = 32
    use_bloom: bool = True
    filter_kind: str = "bloom"  # or "cuckoo" (operators/cuckoo.py)
    salt: int = 16  # C17: sub-partitions per host in the selection window
    max_batches: int | None = None  # default: web.max_batches
    # Frontier hygiene: drop discovered links whose structural trap
    # score (functions/traps.py) reaches this threshold BEFORE they
    # enter dedup/merge. None (default) disables gating — the golden
    # replay crawls the fixture web unfiltered.
    trap_threshold: int | None = None
    # Discovery channel 2 (operators/sitemap.py): at bootstrap, fetch
    # the seed hosts' sitemap.xml and enqueue listed URLs (depth 1,
    # sitemap priority) alongside the seeds. Off by default — goldens
    # crawl by link discovery only.
    use_sitemaps: bool = False
    # OPIC-adaptive prioritization (operators/hostrank.py::opic): each
    # batch, host importance is computed ONLINE from the link edges the
    # crawl itself has observed (frontier parent → target, parents
    # resolved through url_seen) and added to selection priority as a
    # sub-unit bonus — BFS depth order is preserved, ties within a depth
    # re-rank toward high-cash hosts (the Abiteboul 2003 crawl policy).
    # The bonus exists only in the per-batch selection view; stored
    # frontier priorities stay -depth, so the boost never compounds and
    # resume recomputes it from persisted state (determinism intact).
    # Off by default — goldens crawl in frozen BFS order.
    opic_priority: bool = False
    opic_iters: int = 3
    # Starvation-free frontier aging (operators/frontier.py::
    # age_boosted_view): each batch a waiting row's selection priority
    # grows by boost_milli/1000, so no URL waits forever behind fresher
    # higher-priority arrivals on a politeness-capped host. Selection-
    # view only (stored priorities stay -depth; resume recomputes the
    # identical view). None (default) = frozen BFS order, goldens
    # untouched. Composes with opic_priority (aging applies on top).
    aging_boost_milli: int | None = None

    @property
    def batches(self) -> int:
        return self.max_batches if self.max_batches is not None else self.web.max_batches


def _empty(spark: SparkSession, schema) -> DataFrame:
    return spark.createDataFrame([], schema)


def _add_sitemap_seeds(frontier: DataFrame, cfg: CrawlConfig) -> DataFrame:
    """Union sitemap-listed URLs of the seed hosts into frontier v0.

    Lineage: a sitemap URL descends from its host's seed row (depth 1,
    parent = seed's url_hash, same seed_id); the sitemap ``priority``
    becomes the frontier priority. URLs already seeded are anti-joined
    away, so the union is exact-dedup clean before URL-seen is built.
    """
    from who_focus_crawler_spark.functions.urls import (
        canonicalize_df,
        host_bucket,
        url_hash,
        url_host,
    )
    from who_focus_crawler_spark.operators.sitemap import (
        fetch_sitemaps_for_hosts,
        parse_sitemaps,
    )

    parsed = parse_sitemaps(
        fetch_sitemaps_for_hosts(frontier.select("host"), cfg.web)
    )
    if cfg.trap_threshold is not None:
        # discovery channel 2 obeys the same frontier-hygiene gate as
        # link discovery — trap-shaped sitemap entries never enqueue
        parsed = parsed.filter(
            trap_score(F.col("loc")) < F.lit(cfg.trap_threshold)
        )
    seeds = frontier.select(
        F.col("host").alias("seed_host"),
        F.col("seed_id"),
        F.col("url_hash").alias("parent_hash"),
    )
    cand = (
        canonicalize_df(parsed, "loc", "canon_url")
        .join(F.broadcast(seeds), F.col("host") == F.col("seed_host"))
        .select(
            "canon_url",
            url_hash(F.col("canon_url")).alias("url_hash"),
            url_host(F.col("canon_url")).alias("host"),
            host_bucket(url_host(F.col("canon_url")), cfg.num_buckets).alias(
                "host_bucket"
            ),
            F.col("priority"),
            F.lit(1).alias("depth"),
            F.col("seed_id"),
            F.col("parent_hash"),
            F.lit(0).alias("discovered_in_batch"),
            F.lit("enqueued").alias("state"),
        )
        .join(frontier.select("canon_url"), "canon_url", "left_anti")
    )
    # Deterministic duplicate resolution (two sitemaps listing one URL,
    # or multiple seed rows on a host): a frozen total order, never
    # dropDuplicates' partition-layout-dependent pick (SURVEY §7 hard
    # part #1 — the frontier must be byte-identical across runs).
    w = Window.partitionBy("canon_url").orderBy(
        F.desc("priority"), F.asc("seed_id"), F.asc("parent_hash")
    )
    cand = (
        cand.withColumn("_sm_rn", F.row_number().over(w))
        .filter(F.col("_sm_rn") == 1)
        .drop("_sm_rn")
    )
    return frontier.unionByName(cand)


def seen_rows(df: DataFrame, url_col: str, num_buckets: int) -> DataFrame:
    """url_seen rows of ``df``'s (url_hash, url_col) pairs."""
    return df.select(
        "url_hash",
        F.col(url_col).alias("canon_url"),
        part_id(F.col("url_hash"), num_buckets).alias("part_id"),
    )


def bootstrap(spark: SparkSession, cfg: CrawlConfig) -> SnapshotCatalog:
    """Snapshot 0: seeds enter the frontier and the URL-seen set.
    robots_cache is registered with no file-set, so the first wave sees
    an absent cache without a Spark job and skips the optimistic gate."""
    catalog = SnapshotCatalog(cfg.checkpoint_dir)
    frontier = bootstrap_frontier(spark, seed_urls(cfg.web), cfg.num_buckets)
    if cfg.use_sitemaps:
        frontier = _add_sitemap_seeds(frontier, cfg)
    url_seen = seen_rows(frontier, "canon_url", cfg.num_buckets)
    filters = build_seen_filters(url_seen, cfg.num_buckets, kind=cfg.filter_kind)
    catalog.commit(
        0,
        {
            "frontier": frontier,
            "url_seen": url_seen,
            "seen_filters": filters,
            "robots_cache": None,
            "host_state": _empty(spark, schemas.HOST_STATE),
            "crawl_order": _empty(spark, schemas.CRAWL_ORDER),
            "documents": _empty(spark, schemas.DOCUMENTS_OUT),
            "metrics": _empty(spark, schemas.METRICS),
        }
        | (
            {"content_seen": _empty(spark, schemas.CONTENT_SEEN)}
            if cfg.web.content_dedup
            else {}
        ),
        state={"next_seq": 1, "next_batch": 1, "finished": False},
    )
    return catalog


_OPIC_SCALE = 10**9


def _opic_boosted_view(
    frontier: DataFrame, url_seen: DataFrame, n_iters: int
) -> DataFrame:
    """Selection-time view of the frontier with OPIC host importance
    folded into priority (CrawlConfig.opic_priority).

    Edges = (parent's host → target host) over the CURRENT frontier's
    lineage, parents resolved through url_seen — both are persisted
    state tables, so a resumed run recomputes the identical bonus. The
    bonus is (cash + history) / (2·scale + 1) ∈ [0, 1): integer OPIC
    units divided by a constant, i.e. the same double on every
    partitioning — it reorders hosts only WITHIN a BFS depth level
    (priority = -depth + bonus) and never leaks into stored state.
    Cost shape: the edge derivation joins frontier lineage against
    url_seen on url_hash (the frontier's own partitioning key family)
    and OPIC runs n_iters edge-join+agg rounds on the host graph —
    per-batch overhead proportional to the observed link graph, the
    price of online adaptivity (Abiteboul et al., WWW 2003)."""
    from who_focus_crawler_spark.functions.urls import url_host
    from who_focus_crawler_spark.operators.hostrank import opic

    parents = url_seen.select(
        F.col("url_hash").alias("parent_hash"),
        url_host(F.col("canon_url")).alias("src"),
    )
    edges = (
        frontier.filter(F.col("parent_hash").isNotNull())
        .select("parent_hash", F.col("host").alias("dst"))
        .join(parents, "parent_hash")
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
    )
    # weighted: observed multiplicity is the signal — a DISTINCT host
    # graph is near-complete and symmetric, which would tie every
    # non-hot host and reduce the policy to plain BFS
    scores = opic(edges, n_iters=n_iters, scale=_OPIC_SCALE, weight_col="w")
    # cash ≤ scale (conserved up to floor deflation) and history banks at
    # most `scale` per round ⇒ cash + history < (n_iters + 1)·scale, so
    # this divisor keeps the bonus strictly inside [0, 1) — it can
    # re-rank hosts within one BFS depth level but never across levels
    bonus = scores.select(
        "host",
        (
            (F.col("cash_units") + F.col("history_units"))
            / F.lit(float((n_iters + 1) * _OPIC_SCALE + 1))
        ).alias("_opic_bonus"),
    )
    return (
        frontier.join(bonus, "host", "left")
        .withColumn(
            "priority",
            F.col("priority") + F.coalesce(F.col("_opic_bonus"), F.lit(0.0)),
        )
        .drop("_opic_bonus")
    )


def _content_dedup(
    fetched: DataFrame, content_seen: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Mercator content-seen test (cfg.web.content_dedup): a body whose
    (kind, text, media_ref) span sequence was already fetched at a lower
    seq — this wave (row_number over seq per hash) or any earlier one
    (the persisted content_seen table) — keeps its crawl_order slot but
    is neither indexed nor link-expanded. Redirect bodies are exempt:
    their hash is salted with the URL so two redirects at the same
    target never "duplicate" each other. Golden twin: sources/golden.py
    (content_key over the same fields).

    Returns (the fetched rows that are first of their content, the
    content_seen delta)."""
    identity = F.to_json(
        F.transform(
            F.col("spans"),
            lambda s: F.struct(
                s["kind"].alias("kind"),
                s["text"].alias("text"),
                s["media_ref"].alias("media_ref"),
            ),
        )
    )
    is_red = F.exists(F.col("spans"), lambda s: s["kind"] == F.lit("redirect"))
    chash = F.when(
        is_red, F.xxhash64(F.concat(F.lit("redirect|"), F.col("canon_url")))
    ).otherwise(F.xxhash64(identity))
    w_ch = Window.partitionBy("_chash").orderBy("seq")
    flagged = (
        fetched.withColumn("_chash", chash)
        .withColumn("_isred", is_red)
        .withColumn("_rn", F.row_number().over(w_ch))
        .join(
            content_seen.select(F.col("content_hash").alias("_chash"))
            .distinct()
            .withColumn("_prev", F.lit(True)),
            "_chash",
            "left",
        )
    )
    first_here = (F.col("_rn") == 1) & F.col("_prev").isNull()
    delta = flagged.filter(first_here & ~F.col("_isred")).select(
        F.col("_chash").alias("content_hash"), "canon_url", "batch"
    )
    return flagged.filter(first_here).drop("_chash", "_isred", "_rn", "_prev"), delta


@dataclass
class Wave:
    """What one crawl wave leaves its driver. Counts are exact; every
    DataFrame is lazy. A table delta is None when the wave leaves that
    table unchanged."""

    cand: DataFrame  # the driver's rows + robots_ok, admitted
    n_selected: int
    n_admitted: int
    n_deferred: int  # robots-allowed rows politeness held back
    new_unique: DataFrame  # links new to url_seen (dedup_in_batch rows)
    events: DataFrame  # raw discovery events, before the trap gate
    robots_cache: DataFrame | None  # replace-table
    crawl_order: DataFrame | None = None  # append deltas from here on
    documents: DataFrame | None = None
    url_seen: DataFrame | None = None
    content_seen: DataFrame | None = None
    host_state: DataFrame | None = None  # replace-table
    cached: list[DataFrame] = field(default_factory=list)

    def enqueued(self) -> DataFrame:
        """new_unique as frontier rows (priority = -depth)."""
        return self.new_unique.select(
            F.col("target_url").alias("canon_url"),
            "url_hash",
            "host",
            "host_bucket",
            (-F.col("depth").cast("double")).alias("priority"),
            "depth",
            "seed_id",
            "parent_hash",
        )

    def release(self) -> None:
        # dependents first: unpersisting a frame re-plans every cached
        # frame built on it, which would lose the trap gate's barrier
        for df in reversed(self.cached):
            df.unpersist()


def crawl_wave(
    cfg: CrawlConfig,
    rows: DataFrame,
    url_seen: DataFrame,
    robots_cache: DataFrame | None,
    host_state: DataFrame | None,
    clock: int,
    base_seq: int,
    seen_filters: DataFrame | None = None,
    content_seen: DataFrame | None = None,
) -> Wave:
    """One crawl wave over a driver's candidate ``rows`` (frontier
    columns): C8 → C7 → C9 → C10/C11 → content-seen → C12 → trap gate →
    C4 (module docstring). ``clock`` is the batch (or epoch) number: the
    robots TTL clock and the ``batch`` column of the deltas; seq
    continues from ``base_seq``. ``robots_cache`` None means nothing is
    cached yet; ``seen_filters`` is given only by a loop that keeps them.

    Spark actions: one count per gate pass, plus the robots refresh
    when the cache misses a host or is absent. Everything after C7 is
    lazy."""
    spark = rows.sparkSession
    web, P = cfg.web, cfg.num_buckets
    cached: list[DataFrame] = []

    def keep(df: DataFrame) -> DataFrame:
        cached.append(df.persist())
        return df

    def gate(r: DataFrame, cache: DataFrame, miss_col: str | None = None) -> DataFrame:
        return apply_politeness(
            apply_robots(r, cache, miss_col=miss_col),
            web.politeness_k,
            batch_window_s=web.batch_window_s,
        )

    def counts(c: DataFrame, *extra) -> Row:
        return c.agg(
            F.count("*").alias("n"),
            F.count_if(F.col("admitted")).alias("a"),
            F.count_if(F.col("robots_ok") & ~F.col("admitted")).alias("d"),
            *extra,
        ).collect()[0]

    # C8 fast path: gate OPTIMISTICALLY against the TTL-fresh cache with
    # no fetch subplan in the job, counting cache-MISS rows inside the
    # same politeness aggregation. For cached hosts this gate IS the
    # final answer (identical rules), so a wave whose hosts are all
    # cached skips the robots fetch, the cache union and the cache
    # rewrite. A miss refreshes the cache and gates every row again:
    # re-gating only the missed hosts' rows and unioning them with the
    # rest ran 39 Spark jobs a batch instead of 30, and slower. With no
    # cache at all every host misses, so the optimistic pass is skipped.
    ttl = web.robots_ttl_batches
    robots_cache2 = None
    miss = robots_cache is None
    if not miss:
        fresh = (
            robots_cache
            if ttl is None
            else robots_cache.filter(F.col("fetched_in_batch") >= clock - ttl)
        )
        cand = keep(gate(rows, fresh, miss_col="cache_miss"))
        c = counts(cand, F.count_if(F.col("cache_miss")).alias("m"))
        miss = c["m"] > 0
        if not miss:
            # the table changes only when TTL eviction can have changed it
            robots_cache2 = None if ttl is None else fresh
    if miss:
        # materialized before the gate broadcasts it: left lazy, the
        # refresh ran inside the gate's broadcast and a batch took ~10%
        # longer (fixture web, local[4])
        robots_cache2 = refresh_robots_cache(
            rows, robots_cache, web, clock
        ).localCheckpoint(eager=True)
        cand = keep(gate(rows, robots_cache2))
        c = counts(cand)
    n_admitted = c["a"]

    # C9 + C10/C11 — the proven count lets small waves skip the two-phase
    # rank's fixed overhead (same total order either way)
    admitted = assign_seq(
        cand.filter(F.col("admitted")).withColumn("batch", F.lit(clock)),
        base_seq - 1,
        n_rows=n_admitted,
    )
    fetched = keep(fetch_and_extract(admitted, web))
    indexed, content_delta = fetched, None
    if web.content_dedup:
        if content_seen is None:
            content_seen = _empty(spark, schemas.CONTENT_SEEN)
        indexed, content_delta = _content_dedup(fetched, content_seen)
        indexed = keep(indexed)

    # C12 + trap gate + C4. The trap gate is a scan-level map on the
    # discovery stream, ahead of the dedup shuffle, so trap URLs never
    # cost exchange bandwidth; C16's `discovered` counts the raw stream,
    # so gated links land in `deduped` rather than vanishing.
    events = links = discover_links(indexed, P)
    if cfg.trap_threshold is not None:
        # cached first: trap_score reads target_url a dozen times, and
        # without the cache as a barrier the optimizer substitutes the
        # canonicalization expression into every read (a plan that
        # takes minutes to optimize)
        events = keep(events)
        links = events.filter(
            trap_score(F.col("target_url")) < F.lit(cfg.trap_threshold)
        )
    winners = dedup_in_batch(links)
    if seen_filters is not None:
        new_unique = dedup_against_seen(winners, url_seen, seen_filters, P)
    elif n_admitted <= SCANONLY_MAX_FETCHED:
        # winners cached: the scan-only form traverses it twice (its
        # keys are broadcast, then it is the probe side)
        new_unique = dedup_against_seen_scanonly(keep(winners), url_seen)
    else:
        new_unique = dedup_against_seen(winners, url_seen, None, P)

    wave = Wave(
        cand=cand,
        n_selected=c["n"],
        n_admitted=n_admitted,
        n_deferred=c["d"],
        new_unique=keep(new_unique),
        events=events,
        robots_cache=robots_cache2,
        cached=cached,
    )
    if n_admitted == 0:
        return wave
    if host_state is None:
        host_state = _empty(spark, schemas.HOST_STATE)
    fetched_counts = admitted.groupBy("host").agg(F.count("*").alias("n"))
    wave.host_state = host_state.join(fetched_counts, "host", "full").select(
        "host",
        (F.coalesce(F.col("fetched_total"), F.lit(0)) + F.coalesce(F.col("n"), F.lit(0)))
        .cast("long")
        .alias("fetched_total"),
        F.when(F.col("n").isNotNull(), F.lit(clock))
        .otherwise(F.col("last_batch"))
        .cast("int")
        .alias("last_batch"),
    )
    wave.crawl_order = fetched.select(
        "seq", "batch", "canon_url", "url_hash", "host", "depth", "seed_id"
    )
    # robots-meta noindex: the page was fetched (it holds its seq in
    # crawl_order) but its content stays out of the documents corpus
    wave.documents = indexed.filter(
        ~has_meta_directive(F.col("spans"), "noindex")
    ).select(F.col("canon_url").alias("doc_id"), "spans", "batch")
    wave.url_seen = seen_rows(new_unique, "target_url", P)
    wave.content_seen = content_delta
    return wave


def run_batch(
    spark: SparkSession, cfg: CrawlConfig, catalog: SnapshotCatalog
) -> dict:
    """Execute one fetch batch and commit it: C6 select, one crawl wave,
    C5 merge, seen-filter update, C16 metrics. Returns the batch stats."""
    st = catalog.state()
    assert st is not None and not st["finished"]
    batch, base_seq = st["next_batch"], st["next_seq"]
    # The snapshot id is ALLOCATED, not the batch number: in the plain
    # loop they coincide (bootstrap=0, batches 1..n), but between-run
    # maintenance (compact_table/expire_snapshots, branch publishes)
    # creates snapshots of its own, and published ids are immutable —
    # a resumed crawl must commit past them.
    sid = catalog.next_snapshot_id()
    P = cfg.num_buckets

    def read(name: str, schema) -> DataFrame | None:
        return catalog.read_table(spark, name, schema)

    frontier = read("frontier", schemas.FRONTIER)
    url_seen = read("url_seen", schemas.URL_SEEN)
    seen_filters = read("seen_filters", schemas.SEEN_FILTERS) if cfg.use_bloom else None

    # C6 — select once (small: ≤ hosts × k rows), then one wave decides
    frontier_sel = (
        _opic_boosted_view(frontier, url_seen, cfg.opic_iters)
        if cfg.opic_priority
        else frontier
    )
    if cfg.aging_boost_milli is not None:
        frontier_sel = age_boosted_view(
            frontier_sel, batch, cfg.aging_boost_milli
        )
    sel = select_candidates(
        frontier_sel, cfg.web.select_k, salt=cfg.salt
    ).localCheckpoint(eager=True)
    w = crawl_wave(
        cfg,
        sel,
        url_seen,
        read("robots_cache", schemas.ROBOTS_CACHE),
        read("host_state", schemas.HOST_STATE),
        batch,
        base_seq,
        seen_filters=seen_filters,
        content_seen=(
            read("content_seen", schemas.CONTENT_SEEN)
            if cfg.web.content_dedup
            else None
        ),
    )
    if w.n_selected == 0:  # frontier drained: every table carries forward
        catalog.commit(
            sid,
            {},
            state={"next_seq": base_seq, "next_batch": batch + 1, "finished": True},
        )
        w.release()
        return {"batch": batch, "fetched": 0, "new_urls": 0, "finished": True}

    n_new = w.new_unique.count()

    # C5 — merge
    consumed = w.cand.filter(F.col("admitted") | ~F.col("robots_ok"))
    new_frontier_rows = w.enqueued().select(
        "*",
        F.lit(batch).alias("discovered_in_batch"),
        F.lit("enqueued").alias("state"),
    )
    frontier2 = merge_frontier(frontier, consumed, new_frontier_rows)
    filters2 = (
        update_seen_filters(seen_filters, w.url_seen, P, kind=cfg.filter_kind)
        if seen_filters is not None and w.url_seen is not None
        else None
    )

    # C16 — metrics (per batch × host; deduped = discovered − new_urls)
    sched = w.cand.groupBy("host").agg(
        F.count("*").alias("scheduled"),
        F.count_if(~F.col("robots_ok")).alias("blocked_robots"),
        F.count_if(F.col("admitted")).alias("admitted"),
        F.count_if(F.col("robots_ok") & ~F.col("admitted")).alias("deferred"),
    )
    disc = w.events.groupBy(F.col("parent_host").alias("host")).agg(
        F.count("*").alias("discovered")
    )
    new_m = w.new_unique.groupBy(F.col("parent_host").alias("host")).agg(
        F.count("*").alias("new_urls")
    )
    metrics = (
        sched.join(disc, "host", "left")
        .join(new_m, "host", "left")
        .na.fill(0, ["discovered", "new_urls"])
        .select(
            F.lit(batch).alias("batch"),
            "host",
            F.col("scheduled").cast("long"),
            F.col("blocked_robots").cast("long"),
            F.col("admitted").cast("long"),
            F.col("deferred").cast("long"),
            F.col("admitted").cast("long").alias("fetched"),
            F.col("discovered").cast("long"),
            (F.col("discovered") - F.col("new_urls")).cast("long").alias("deduped"),
            F.col("new_urls").cast("long"),
        )
    )

    catalog.commit(
        sid,
        {
            "frontier": frontier2,
            "url_seen": w.url_seen,  # append tables: deltas only
            "seen_filters": filters2,
            "robots_cache": w.robots_cache,
            "host_state": w.host_state,
            "crawl_order": w.crawl_order,
            "documents": w.documents,
            "metrics": metrics,
        }
        | ({"content_seen": w.content_seen} if cfg.web.content_dedup else {}),
        state={
            "next_seq": base_seq + w.n_admitted,
            "next_batch": batch + 1,
            "finished": False,
        },
    )
    w.release()
    return {
        "batch": batch,
        "selected": w.n_selected,
        "fetched": w.n_admitted,
        "new_urls": n_new,
        "finished": False,
    }


def run_crawl(
    spark: SparkSession,
    cfg: CrawlConfig,
    resume: bool = False,
    until_batch: int | None = None,
) -> SnapshotCatalog:
    """Full crawl: bootstrap (or resume from last committed snapshot, C15)
    and iterate batches until the frontier drains or the budget is hit."""
    catalog = SnapshotCatalog(cfg.checkpoint_dir)
    if not resume or catalog.head() is None:
        catalog = bootstrap(spark, cfg)
    limit = until_batch if until_batch is not None else cfg.batches
    while True:
        st = catalog.state()
        if st["finished"] or st["next_batch"] > limit:
            break
        run_batch(spark, cfg, catalog)
    return catalog
