"""Frontier operators: bootstrap, candidate selection (C6), merge (C5).

The frontier is hash-partitioned by host_bucket = pmod(xxhash64(host), P)
so selection windows and politeness state are partition-local after
one shuffle (SURVEY.md §4 physical layout).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from who_focus_crawler_spark import schemas
from who_focus_crawler_spark.functions.urls import host_bucket, url_hash, url_host

def host_order() -> list:
    """Deterministic per-host candidate order, frozen in SURVEY.md §5.3:
    (priority desc, depth asc, canon_url asc)."""
    return [F.desc("priority"), F.asc("depth"), F.asc("canon_url")]


def bootstrap_frontier(
    spark: SparkSession, seeds: list[str], num_buckets: int
) -> DataFrame:
    """Seed rows → frontier v0 (C1-C3 applied, depth 0, priority 0)."""
    from who_focus_crawler_spark.functions.urls import canonicalize

    raw = spark.createDataFrame(
        [(i, u) for i, u in enumerate(seeds)], ["seed_id", "url"]
    )
    return (
        raw.withColumn("canon_url", canonicalize(F.col("url")))
        .filter(F.col("canon_url").isNotNull())
        .select(
            F.col("canon_url"),
            url_hash(F.col("canon_url")).alias("url_hash"),
            url_host(F.col("canon_url")).alias("host"),
            host_bucket(url_host(F.col("canon_url")), num_buckets).alias(
                "host_bucket"
            ),
            F.lit(0.0).alias("priority"),
            F.lit(0).alias("depth"),
            F.col("seed_id").cast("int"),
            F.lit(None).cast("long").alias("parent_hash"),
            F.lit(0).alias("discovered_in_batch"),
            F.lit("enqueued").alias("state"),
        )
    )


def select_candidates(
    frontier: DataFrame, select_k: int, salt: int = 1
) -> DataFrame:
    """C6 — host-bucketed priority queue: per host, top select_k by the
    frozen order. One shuffle on host; the window is the distributed
    equivalent of a per-host priority queue (SURVEY.md §2.1 C6).

    With salt > 1, runs the C17 two-phase salted top-k instead — exactly
    the same result set, but no task ever holds a whole hot domain."""
    if salt > 1:
        from who_focus_crawler_spark.operators.salting import topk_per_host_salted

        return topk_per_host_salted(frontier, select_k, host_order(), s=salt)
    w = Window.partitionBy("host").orderBy(*host_order())
    return (
        frontier.withColumn("rn_sel", F.row_number().over(w))
        .filter(F.col("rn_sel") <= select_k)
        .drop("rn_sel")
    )


def age_boosted_view(
    frontier: DataFrame, current_batch: int, boost_milli: int
) -> DataFrame:
    """Starvation-free selection view: priority aged by wait time.

    Pure priority ordering can starve a URL forever — on a busy host
    the per-batch politeness cap admits only the top few, and a stream
    of fresher higher-priority discoveries keeps pushing old rows down
    (the classic frontier-aging problem; Mercator's per-host FIFOs are
    starvation-free by construction, priority crawlers re-add the
    guarantee with an age boost). Selection-time view only, same
    contract as the OPIC view (plans/crawl.py): stored priorities stay
    -depth, the boost never compounds, and a resumed run recomputes the
    identical view from persisted columns — determinism intact.

    effective_priority = priority
                       + waited_batches * boost_milli / 1000.0
    waited_batches = max(current_batch - 1 - discovered_in_batch, 0)
    (a row discovered in batch b is first selectable in batch b+1 —
    that baseline attempt is wait 0).

    Unlike OPIC's sub-unit bonus this deliberately CAN cross BFS depth
    levels — that is the point: with boost_milli >= 1000/d, a URL d
    levels deeper overtakes a fresh shallow arrival after waiting d/
    (boost_milli/1000) extra batches, bounding every row's queue time.
    boost_milli is integer and waited is integer, so the boost is the
    same double on every partitioning and run.
    """
    waited = F.greatest(
        F.lit(current_batch - 1) - F.col("discovered_in_batch"), F.lit(0)
    )
    return frontier.withColumn(
        "priority",
        F.col("priority") + waited * F.lit(boost_milli) / F.lit(1000.0),
    )


def merge_frontier(
    frontier: DataFrame, consumed_keys: DataFrame, new_rows: DataFrame
) -> DataFrame:
    """C5 — frontier' = (frontier ∖ consumed) ∪ new.

    ``consumed_keys`` (admitted + robots-blocked this batch) is politeness-
    bounded and therefore small → Catalyst broadcasts the anti-join build
    side, so the big frontier never shuffles here. At Iceberg scale this
    becomes a partition-scoped MERGE (copy-on-write of affected
    host_buckets only); semantics identical.
    """
    kept = frontier.join(
        F.broadcast(consumed_keys.select("canon_url")), "canon_url", "left_anti"
    )
    return kept.unionByName(new_rows.select(*[f.name for f in schemas.FRONTIER]))
