"""Politeness dequeue: per-domain FIFO heads under a token budget.

The reference's blocking heap scheduler (crawler/frontier.py:61-87) maps
to two strategies:

* ``politeness_heads_indexed`` — the scale path (round 2). Rows carry a
  permanent per-domain FIFO position (``seq``); dequeue is the filter
  ``served < seq <= served + tokens`` against the broadcast watermark
  dim. No window, no shuffle, skew-immune.
* ``politeness_heads`` — the exact parity mode's ranked selection over
  the pending anti-join (small rounds, reference-identical ordering).

FIFO-per-domain is the deterministic discovery key ``(rk_round, rk_pop,
rk_pos)``; the politeness budget is tokens = rounds per batch (1 URL per
domain per politeness quantum, matching the 0.5 s delay floor at
frontier.py:24). Skew context (north_rule: *.ics.uci.edu holds ~23% of
URLs): a naive ``Window.partitionBy(domain)`` puts the hottest domain in
one task — the indexed path avoids per-domain partitioning entirely.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "politeness_heads",
    "politeness_heads_indexed",
    "DISCOVERY_ORDER",
    "SALT_BUCKETS",
    "salt_of",
    "salt_col",
]

# the deterministic per-domain FIFO key (SURVEY §2.6 'seq')
DISCOVERY_ORDER = ["rk_round", "rk_pop", "rk_pos"]

# skew salting (north_rule): the frontier's salt column spreads a hot
# domain's rows over this many buckets for the salted rank below
SALT_BUCKETS = 8


def salt_of(url_hash: str) -> int:
    """A URL's salt bucket: its url_hash's first 8 hex digits mod
    SALT_BUCKETS, the same in every process (unlike Python's hash())."""
    return int(url_hash[:8], 16) % SALT_BUCKETS


def salt_col(url_hash: Column) -> Column:
    """Column twin of ``salt_of``."""
    digits = F.conv(F.substring(url_hash, 1, 8), 16, 10).cast("long")
    return (digits % SALT_BUCKETS).cast("int")


# columns the exact mode's fetch/parse stage needs; ranking shuffles only
# these (url_hash included: exact rounds are tiny)
EXACT_HEAD_COLUMNS = ["url", "url_hash", "domain", "salt", *DISCOVERY_ORDER]


def politeness_heads(pending: DataFrame, tokens: int, salted: bool = True) -> DataFrame:
    """Select the first ``tokens`` pending URLs per domain in FIFO order;
    adds a ``slot`` column (1-based politeness round within this batch).
    Projects to EXACT_HEAD_COLUMNS first so the two window shuffles move only
    what fetch needs (lineage columns like parent stay behind)."""
    order = [F.col(c).asc() for c in DISCOVERY_ORDER]
    slim = pending.select(
        *[c for c in EXACT_HEAD_COLUMNS if c in pending.columns]
    )
    if salted and "salt" in slim.columns:
        local = Window.partitionBy("domain", "salt").orderBy(*order)
        pre = (
            slim.withColumn("_lrn", F.row_number().over(local))
            .where(F.col("_lrn") <= tokens)
            .drop("_lrn")
        )
    else:
        pre = slim
    per_domain = Window.partitionBy("domain").orderBy(*order)
    return (
        pre.withColumn("slot", F.row_number().over(per_domain))
        .where(F.col("slot") <= tokens)
    )


# the indexed (scale) dequeue ships only what fetch needs; no url_hash
# (the widest column): the parse stage recomputes it from the canonical url
INDEXED_HEAD_COLUMNS = ["url", "domain", "seq", *DISCOVERY_ORDER]


def politeness_heads_indexed(
    frontier: DataFrame,
    watermarks: DataFrame | None,
    tokens: int,
    max_seq_bound: int | None = None,
) -> DataFrame:
    """The scale dequeue: a pure filter, no window, no shuffle.

    Every frontier row carries ``seq`` — its permanent 1-based position in
    its domain's FIFO, assigned once at insert (cheap: a window over each
    epoch's *new-rows batch* plus a per-domain offset join; valid
    because the FIFO key's leading component is the strictly increasing
    epoch counter, so later inserts always sort after earlier ones). The
    politeness dequeue is then ``served < seq <= served + tokens`` against
    the broadcast watermark dim: embarrassingly parallel, skew-immune
    (no per-domain partitioning at all). This replaces round 1's double
    window over the full frontier — the measured top cost of every epoch.

    ``max_seq_bound`` is the scan-pruning half of the design: the
    per-domain predicate involves the joined ``served`` column and cannot
    reach the parquet reader, but ``max(served over all domains) + tokens``
    is a LITERAL upper bound implied by it (per-domain served <= global
    max), and the engine's SnapshotStore writes frontier deltas and
    compacted bases sorted by ``seq`` — so this conjunct pushes into the
    scan and prunes every row group holding only the deep tail of hot
    domains' queues. On a skewed 10^10-row frontier (north_rule:
    *.ics.uci.edu at ~23%) that tail IS most of the table; without the
    bound every epoch re-reads it."""
    slim = frontier.select(
        *[c for c in INDEXED_HEAD_COLUMNS if c in frontier.columns]
    )
    if max_seq_bound is not None:
        # literal conjunct FIRST, before the watermark join, so Catalyst
        # pushes it down to the parquet scan (PushedFilters in explain)
        slim = slim.where(F.col("seq") <= F.lit(int(max_seq_bound)))
    if watermarks is not None:
        slim = slim.join(F.broadcast(watermarks), "domain", "left")
        served = F.coalesce(F.col("served"), F.lit(0))
    else:
        served = F.lit(0)
    return (
        slim.where((F.col("seq") > served) & (F.col("seq") <= served + tokens))
        .withColumn("slot", (F.col("seq") - served).cast("int"))
        .drop("served")
    )

