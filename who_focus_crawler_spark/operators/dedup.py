"""C4 — URL-seen membership + dedup (BASELINE.json north_star core).

Exactness is mandatory ("exact crawl-order/URL-seen match"), so every
seen-dedup form here is an exact anti-join on (url_hash, canon text): a
64-bit hash collision cannot merge two distinct URLs, and no truly new
URL is ever dropped. Two forms, same answer:

- `dedup_against_seen`: the shuffle anti-join, for candidate sets of
  any size;
- `dedup_against_seen_scanonly`: broadcasts the candidates' keys against
  a map-side scan of url_seen, so url_seen is never shuffled; only for
  a candidate set the caller has proven small.

plans/crawl.py::crawl_wave picks between them from its proven admitted
count. url_seen rows carry part_id = pmod(url_hash, P) (`part_id`).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def part_id(url_hash_col: Column, num_parts: int) -> Column:
    return F.pmod(url_hash_col, F.lit(num_parts)).cast("int")


def dedup_in_batch(events: DataFrame) -> DataFrame:
    """First-occurrence winner per discovered target inside one batch;
    frozen tie-break = (parent_seq, span offset) (SURVEY.md §5.3).

    Implemented as min-of-struct aggregation, NOT a row_number window:
    min(struct(parent_seq, offset, rest…)) per target is the identical
    deterministic winner ((parent_seq, offset) is unique per event row,
    so the lexicographic struct order never consults the tail), but an
    aggregate gets a map-side partial combine — at a million exploded
    link rows per crawl batch the shuffle carries one pre-reduced row
    per (input partition, target) instead of every duplicate link
    occurrence. A window must sort full groups and can't pre-reduce."""
    lead = ["parent_seq", "offset"]
    rest = [c for c in events.columns if c not in lead and c != "target_url"]
    packed = events.groupBy("target_url").agg(
        F.min(F.struct(*lead, *rest)).alias("_w")
    )
    return packed.select(
        "target_url", *[F.col(f"_w.{c}").alias(c) for c in lead + rest]
    ).select(*events.columns)


# ----------------------------------------------------------- the dedup op ---


def dedup_against_seen(candidates: DataFrame, url_seen: DataFrame) -> DataFrame:
    """Rows of ``candidates`` (unique target_url) that are truly new:
    the exact shuffle anti-join against url_seen on (url_hash, canon
    text)."""
    key = ["url_hash", "target_url"]
    seen = url_seen.select(
        F.col("url_hash"), F.col("canon_url").alias("target_url")
    )
    return candidates.join(seen, key, "left_anti")


def dedup_against_seen_scanonly(
    candidates: DataFrame, url_seen: DataFrame
) -> DataFrame:
    """Exact anti-join variant that never SHUFFLES the (large) seen
    side: broadcast the (small) candidate key set, semi-join it against
    a map-side SCAN of seen to recover the intersection, then broadcast
    that (even smaller) intersection back against candidates. Two
    broadcast hash joins, zero exchanges of ``url_seen`` — the right
    shape when |candidates| ≪ |seen|, which is every steady-state crawl
    epoch (an epoch's discoveries vs millions of accumulated URLs; the
    shuffle form re-exchanges the whole seen table per epoch, O(seen ×
    epochs) shuffle traffic over a crawl). The caller gates on a PROVEN
    candidate bound — broadcasting an unbounded side is how driver OOMs
    happen."""
    key = ["url_hash", "target_url"]
    seen = url_seen.select(
        F.col("url_hash"), F.col("canon_url").alias("target_url")
    )
    matched = seen.join(
        F.broadcast(candidates.select(*key)), key, "left_semi"
    )
    return candidates.join(F.broadcast(matched), key, "left_anti")
