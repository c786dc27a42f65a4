"""Size policy: the one budget every broadcast hint and driver-local
fork decides against, and frame-sized partition counts for iterative
operators.

One budget. ``LOCAL_BYTES`` bounds every frame that leaves the
distributed plan whole: a broadcast hint ships it to every executor,
and a driver-local fork (the int-Lloyd and PQ fits, logreg GD, the
tfidf query batch, PageRank's power iteration) collects it into numpy
on the driver. Callers ask
``fits(n_rows, row_bytes)`` with a COUNTED row total they already
have (never an estimate) and the width of the rows they are about to
move, so a gate fails closed on memory as well as on row counts.

Row-width convention (``row_bytes``): 8 bytes per numeric column
(long, int, double), 8·dim for an int or double vector, 16 for a
short string token. Examples: 16 for a ``(key, value)`` pair of
longs, ``8 + 8·dim`` for an ``(id, vec)`` row, ``8 + 8·rank`` for an
ALS factor row. A site that broadcasts several frames under one
count declares the widest.

Why hints at all: checkpointed loop frames scan as ExistingRDD with
unknown stats, so Catalyst/AQE never auto-broadcasts them, and every
round of an iterative operator re-shuffles the full edge frame for a
sort-merge join; an explicit hint removes that exchange. Past the
budget (at 100 TB, billions of nodes) the gate fails closed and the
plan keeps its shuffle join or distributed loop.

Why a module constant and not a session conf: callers of the
``__spark_entry__`` contract bring their own plain session, whose
``spark.sql.autoBroadcastJoinThreshold`` is Spark's 10 MB default, and
a gate that read the conf would change plans with whoever built the
session. ``session.get_spark`` sets that
threshold from ``LOCAL_BYTES`` instead, so Catalyst's automatic
broadcasts and the manual hints agree. ``fits`` reads ``LOCAL_BYTES``
at call time, so a test can lower it to drive every gated operator
down its distributed branch.

Partition counts: iterative graph/dedup loops (pagerank,
star-contraction, label propagation) re-shuffle a small working frame
many times. Paying the session-wide shuffle-partition count per round
wastes task overhead on near-empty partitions; hardcoding a small
constant (round 4's ``coalesce(<=8)``) serializes the upstream stage
and dies at scale. The right number is a function of the frame:
~rows/target_rows_per_task, clamped to the session's parallelism
range.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

LOCAL_BYTES = 64 << 20


def fits(n_rows: int, row_bytes: int) -> bool:
    """True when n_rows rows of row_bytes each fit the local budget."""
    return n_rows * row_bytes <= LOCAL_BYTES


def broadcaster(
    n_rows: int, row_bytes: int
) -> Callable[[DataFrame], DataFrame]:
    """``F.broadcast`` when n_rows rows of row_bytes fit the budget,
    else the identity (the planner's shuffle join)."""
    return F.broadcast if fits(n_rows, row_bytes) else (lambda df: df)


def frame_partitions(
    sc, n_rows: int, target_rows_per_task: int = 100_000
) -> int:
    """Partition count for an n_rows working frame: one task per
    ~target_rows_per_task rows, at least 2, at most 4x the cluster's
    core count (headroom for skew without drowning in empty tasks)."""
    want = -(-max(int(n_rows), 1) // target_rows_per_task)  # ceil div
    return max(2, min(4 * sc.defaultParallelism, want))
