"""Partitioning helper for CPU-bound explode pipelines (guide §2.3/§2.5).

A pipeline that explodes text into words/grams and then windows/groups by
``doc_id`` does its heaviest CPU work (split, explode, window sort, hash
concat) BEFORE its first natural exchange. When the input scan arrives with
few splits — the fixture tables are each ONE parquet row group, so every
scan is a single task no matter how split sizes are tuned — all of that
work runs serially while the rest of the box idles (guide §2.5 "input
skew: one huge unsplittable file … otherwise repartition immediately after
the read").

``by_key`` repartitions the COMPACT pre-explode rows by the pipeline's
window/group key. That does two things at once:

- parallelizes the explode and everything downstream of it (the window's
  required ``ClusteredDistribution(key)`` is satisfied by this exchange,
  so no further shuffle is introduced — the exchange count is unchanged);
- MOVES the exchange before the explode, so the shuffle carries one row
  per document instead of one row per token (guide §2.3: shuffle fewer
  bytes — the round-12 ``shared_gram_hits`` measurement: a corpus-sized
  doc shuffle replaces a token-sized word shuffle).

Partition count: ``max(defaultParallelism, current plan partitions)``. The
EXPLICIT count matters — a keyed ``repartition(col)`` with no count is
byte-coalesced by AQE, whose size model prices bytes, not compute, and a
1.5 MB document table coalesces to 1-2 tasks while costing minutes of CPU
once exploded. The ``max`` keeps the helper monotone on a production
many-split table: it never DEcreases the parallelism implied by input
size. Callers must pass a SCAN-STAGE DataFrame (projection/filter over the
raw read): ``df.rdd`` on a plan with exchanges would materialize AQE query
stages (runs jobs), on a scan it is free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def by_key(df: DataFrame, *cols: str) -> DataFrame:
    """Repartition scan-stage ``df`` by ``cols`` at CPU-driven parallelism."""
    sc = df.sparkSession.sparkContext
    n = max(sc.defaultParallelism, df.rdd.getNumPartitions())
    return df.repartition(n, *[F.col(c) for c in cols])
