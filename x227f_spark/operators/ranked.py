"""Distributed exact global row numbering.

``row_number().over(Window.orderBy(...))`` moves EVERY row into one
partition (Spark warns: "No Partition Defined for Window operation") and
serializes the stage — at 10^10-frontier round sizes that single sorted
partition is the whole round's bottleneck. The engine needs exact global
ordinals in three places per round (admission rank T1/T2, the scheduler's
global fetch rank T3, and dense node-id assignment for new pages — see
plans/rounds.py), so this module provides the standard scalable
equivalent:

1. ``repartitionByRange`` on the sort key — partition *i* holds a
   contiguous slice of the global order (parallel sample + shuffle);
2. rank *within* each partition (parallel sort, no data movement across
   the range partitions beyond the window's hash exchange);
3. shift each partition's local ranks by the total count of rows in the
   partitions before it — a prefix sum over ``num_partitions`` integers,
   expressed as a plan (metadata, not data);
4. broadcast-join the tiny offset table back.

The result is byte-identical to the single-partition window **provided
the sort key is a total order** (unique tie-break). Every engine call
site already guarantees that — (score desc, node_id), queue_pos, and
(crawl_pos, link_class, link_ord) are all unique — and the same
uniqueness was already required for the old window to be deterministic.
Range-partition boundaries come from sampling and may vary run to run,
but the assigned ordinal of a given row never does: with unique keys the
k-th row of the total order gets k regardless of where the boundaries
fall.

Reference parity: this implements the rank/ordinal semantics of the
reference's in-memory sorted structures (data.rs:271-274 queue insertion
order, data.rs:418-439 scheduler pop order, dense node-id append) — the
reference holds them in one process; at cluster scale the ordinal itself
must be computed without funneling the table through one task.
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

_PID = "__grn_pid"
_LRN = "__grn_lrn"
_OFF = "__grn_off"


def global_row_number(
    df: DataFrame,
    order_by: Sequence[Column | str],
    out_col: str,
    persist: Callable[[DataFrame], DataFrame] | None = None,
    bounds: tuple[int, int] | None = None,
) -> DataFrame:
    """Add ``out_col`` = 1-based global row number of ``df`` under the
    total order ``order_by``, without a single-partition window.

    ``order_by`` entries may be column names or Column sort expressions
    (``F.desc(...)`` works). ``persist`` is a round-scoped cache hook
    (CrawlEngine._persist); when None the harness-scoped
    ``qcache.scoped_persist`` is used.

    ``bounds=(lo, hi)``: when the (single, ascending, numeric) sort key's
    value range is already known to the caller — the scheduler maintains
    the queue-position high-water mark as a driver scalar — the order
    buckets are computed directly as ``(key - lo) * n // span`` instead of
    via ``repartitionByRange``, eliminating the RangePartitioner's
    separate boundary-sampling JOB from the stage. Bucket skew (e.g. a
    consumed prefix of the position space) costs balance, never
    correctness: ordinals come from the bucket-wise prefix sum either way.

    No action runs inside this function: the offsets materialize as a
    broadcast sub-stage of whatever job first consumes the result (the
    scheduler's lineage cut), so a caller needing the row total attaches
    an ``observe()`` to that action.

    Deadline note (r6 ADVICE): the offsets plan materializes the
    bucket-count aggregation (and, on first use, its whole upstream plan)
    inside a broadcast exchange, so it must finish within
    ``spark.sql.broadcastTimeout`` — the engine session raises the
    default (session.py) so that a slow counts job stays a slow round,
    not a TimeoutException.
    """
    num_partitions = int(df.sparkSession.conf.get(
        "spark.sql.shuffle.partitions"))
    cols = [F.col(c) if isinstance(c, str) else c for c in order_by]

    if persist is None:
        from .qcache import scoped_persist
        persist = scoped_persist  # released by the harness's scope

    if bounds is not None:
        # bounds path requires a single ascending numeric key (the column
        # itself, not a F.desc() expression)
        assert len(cols) == 1 and isinstance(order_by[0], str), order_by
        key = cols[0]
        lo, hi = bounds
        span = max(hi - lo + 1, 1)
        local = df.withColumn(_PID, F.least(
            F.lit(num_partitions - 1),
            F.greatest(F.lit(0),
                       ((key.cast("double") - F.lit(float(lo)))
                        * num_partitions / F.lit(float(span))).cast("int"))))
    else:
        # cache the INPUT before range-partitioning: RangePartitioner runs
        # a separate sampling job over the child plan to pick boundaries,
        # then the shuffle map stage evaluates the child AGAIN — for the
        # engine's call sites (queue window + budget UDF; link extraction
        # + bloom probe) that upstream is the expensive part of the stage,
        # and the cache turns the double evaluation into compute-once +
        # one cache read
        df = persist(df)
        local = (df.repartitionByRange(num_partitions, *cols)
                 .withColumn(_PID, F.spark_partition_id()))
    # cache: the bucket counts below and the caller's downstream read it
    w = W.partitionBy(_PID).orderBy(*cols)
    local = persist(local.withColumn(_LRN, F.row_number().over(w)))

    # bucket sizes + cumulative shift: the window runs over at most
    # num_partitions aggregate rows (one tiny task, metadata scale — NOT a
    # data-scale single-partition window), and the broadcast join keeps
    # the data-scale side exchange-free
    counts = local.groupBy(_PID).agg(F.count(F.lit(1)).alias("cnt"))
    # partitionBy(lit(0)) is execution-identical here (all <=
    # num_partitions aggregate rows land in one task either way) but
    # marks the single-partition window as deliberate, silencing the
    # per-round WindowExec warning in bench/driver logs
    w_off = (W.partitionBy(F.lit(0)).orderBy(_PID)
             .rowsBetween(W.unboundedPreceding, -1))
    off_df = counts.select(
        F.col(_PID),
        F.coalesce(F.sum("cnt").over(w_off), F.lit(0)).alias(_OFF))
    return (local.join(F.broadcast(off_df), _PID)
            .withColumn(out_col, (F.col(_OFF) + F.col(_LRN)).cast("long"))
            .drop(_PID, _LRN, _OFF))
