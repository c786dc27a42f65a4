"""Distributed prefix sum (running total in a global order) — the
building block for sequence packing, shard assignment, and offset
indexing in training-data pipelines.

The naive Spark spelling — ``sum().over(Window.orderBy(k))`` with no
partitionBy — collapses the whole dataset into ONE task (Spark must
see every row in order), which is exactly what dies at 100 TB. The
scale-correct shape is the classic two-phase scan:

  1. range-partition by the order key (partition i holds keys below
     partition i+1 — the range partitioner is order-preserving across
     partition ids);
  2. local running sums per partition (window within partition);
  3. per-partition totals (P tiny rows) → exclusive offsets on the
     driver → broadcast-joined back and added.

Total cost: one range shuffle + one P-row collect. The only driver
state is P numbers (a model-artifact-sized object, like broadcast
join keys)."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from zoom_spark.operators.local import local_frame


def prefix_sum(
    df: DataFrame,
    order_col: str | list[str],
    value_col: str | list[str],
    out_col: str | list[str] = "cum",
    num_partitions: int | None = None,
    known_range: tuple[int, int] | None = None,
) -> DataFrame:
    """Adds `out_col` = inclusive running sum of `value_col` in
    ascending `order_col` order (a column name or a list of names —
    the combined key must be unique: it defines the global order).

    `value_col`/`out_col` may be parallel LISTS: N running sums over
    the SAME order key share one range shuffle, one local-window pass,
    one checkpoint and one totals collect instead of N of each (r13:
    the rank-statistics family chained 2-3 prefix_sum calls, paying
    the whole two-phase machinery per column). Per-column values are
    bit-identical to N separate calls: the partitioning, each column's
    local window sum and each column's offset accumulation are
    unchanged — only the job count drops.

    ``known_range=(lo, hi)``: when the (single, integer) order key is
    known to lie in [lo, hi] roughly uniformly (1..N row-number grids,
    dense ranks), partition by the LITERAL bucket
    (key - lo) DIV ceil((hi - lo + 1) / p) instead of sampling range
    boundaries. This removes BOTH hidden costs of repartitionByRange:
    the sampling pass (which re-executes the whole child plan once)
    and the second ENSURE_REQUIREMENTS hash(_pid) exchange the window
    otherwise inserts on top of the range exchange (RangePartitioning
    does not satisfy the window's ClusteredDistribution on the derived
    _pid column, so the r13 shape paid TWO full shuffles per call).
    One hash exchange, zero extra passes; bucket order is known on the
    driver by construction. Only for keys whose distribution the
    caller knows — data-valued keys keep the sampled range path."""
    p = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    order_cols = [order_col] if isinstance(order_col, str) else list(order_col)
    vcols = [value_col] if isinstance(value_col, str) else list(value_col)
    ocols = [out_col] if isinstance(out_col, str) else list(out_col)
    assert len(vcols) == len(ocols), (vcols, ocols)
    cols = [F.col(c) for c in order_cols]
    if known_range is not None:
        assert len(order_cols) == 1, "known_range needs a single int key"
        lo, hi = known_range
        width = max(1, (hi - lo + p) // p)
        bucket = F.expr(
            f"CAST((CAST({order_cols[0]} AS BIGINT) - ({lo})) "
            f"DIV {width} AS INT)"
        )
        ranged = df.withColumn("_pid", bucket).repartition(
            p, F.col("_pid")
        )
    else:
        ranged = df.repartitionByRange(p, *cols).withColumn(
            "_pid", F.spark_partition_id()
        )
    w = Window.partitionBy("_pid").orderBy(*cols)
    # MATERIALIZE before fanning out to two consumers (the totals
    # collect and the final join): repartitionByRange samples its
    # boundaries per execution, so re-evaluating `local` in each
    # consumer can yield two DIFFERENT partitionings — offsets from
    # one applied to the other corrupt the prefix. localCheckpoint
    # freezes one partitioning for both reads (at warehouse scale:
    # persist(DISK_ONLY) or a checkpoint dir).
    # eager=False: the totals collect below is the FIRST action on the
    # frame, so it materializes the checkpoint in the same job — an
    # eager checkpoint would pay one extra full pass per call just to
    # then re-read its own cache for the totals (guide §1.2: remove
    # passes). Single materialization (and hence one frozen
    # partitioning for both consumers) is still guaranteed: blocks are
    # cached at first computation.
    local = ranged
    for i, vc in enumerate(vcols):
        local = local.withColumn(f"_local_cum{i}", F.sum(vc).over(w))
    local = local.localCheckpoint(eager=False)
    totals = (
        local.groupBy("_pid")
        .agg(*[F.sum(vc).alias(f"_tot{i}") for i, vc in enumerate(vcols)])
        .collect()
    )
    # exclusive offsets in partition-id order (range partitions are
    # ordered by construction)
    offsets: dict[int, list] = {}
    running = [0] * len(vcols)
    for r in sorted(totals, key=lambda r: r["_pid"]):
        offsets[r["_pid"]] = list(running)
        for i in range(len(vcols)):
            running[i] += r[f"_tot{i}"] or 0
    spark = df.sparkSession
    # offsets carry the value column's numeric kind: fractional value
    # columns (e.g. a running sum of ln k) need DOUBLE offsets, integer
    # columns keep exact BIGINT arithmetic, and DECIMAL columns keep the
    # widened decimal type of the local running sum (int() on a Decimal
    # partition total would silently truncate fractional offsets).
    import decimal

    from pyspark.sql.types import DecimalType, DoubleType, FloatType

    off_types, casts = [], []
    for i in range(len(vcols)):
        sum_dt = local.schema[f"_local_cum{i}"].dataType
        if isinstance(sum_dt, DecimalType):
            off_types.append(sum_dt.simpleString())
            casts.append(lambda v: decimal.Decimal(v))
        elif isinstance(sum_dt, (DoubleType, FloatType)) or isinstance(
            running[i], float
        ):
            off_types.append("double")
            casts.append(float)
        else:
            off_types.append("bigint")
            casts.append(int)
    schema = "_pid int, " + ", ".join(
        f"_offset{i} {t}" for i, t in enumerate(off_types)
    )
    off_df = local_frame(
        spark,
        [
            (pid, *[casts[i](off[i]) for i in range(len(vcols))])
            for pid, off in offsets.items()
        ],
        schema,
    )
    out = local.join(F.broadcast(off_df), on="_pid")
    for i, oc in enumerate(ocols):
        out = out.withColumn(
            oc, F.col(f"_local_cum{i}") + F.col(f"_offset{i}")
        )
    return out.drop(
        "_pid",
        *[f"_local_cum{i}" for i in range(len(vcols))],
        *[f"_offset{i}" for i in range(len(vcols))],
    )


def prefix_max(
    df: DataFrame,
    order_col: str,
    value_col: str,
    out_col: str = "run_max",
    exclusive: bool = True,
    num_partitions: int | None = None,
) -> DataFrame:
    """Adds `out_col` = running MAX of `value_col` (a BIGINT column) in
    ascending `order_col` order — the max-monoid sibling of
    :func:`prefix_sum`, with the same two-phase scan shape (range
    shuffle + local window + O(P) driver offsets) instead of the
    single-task global window. With ``exclusive=True`` the running max
    covers strictly-preceding rows only (NULL for the global first
    row), which is the shape dominance-style filters (skyline, record
    tracking) need. `order_col` values must be unique."""
    p = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    ranged = df.repartitionByRange(p, F.col(order_col)).withColumn(
        "_pid", F.spark_partition_id()
    )
    upper = -1 if exclusive else 0
    w = (
        Window.partitionBy("_pid")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, upper)
    )
    # Same double-consumer hazard as prefix_sum: freeze ONE range
    # partitioning before the totals collect and the final join.
    # eager=False: totals collect materializes the checkpoint (see
    # prefix_sum)
    local = ranged.withColumn(
        "_local_mx", F.max(value_col).over(w)
    ).localCheckpoint(eager=False)
    totals = (
        local.groupBy("_pid").agg(F.max(value_col).alias("_tot")).collect()
    )
    offsets: dict[int, int | None] = {}
    running: int | None = None
    for r in sorted(totals, key=lambda r: r["_pid"]):
        offsets[r["_pid"]] = running
        if r["_tot"] is not None:
            running = r["_tot"] if running is None else max(running, r["_tot"])
    spark = df.sparkSession
    off_df = local_frame(
        spark,
        [(pid, off) for pid, off in offsets.items()], "_pid int, _offset bigint"
    )
    # greatest() skips NULLs, so a NULL local-exclusive-max (first row
    # of a partition) falls back to the prior-partition offset and the
    # global first row stays NULL — exactly exclusive-scan semantics.
    return (
        local.join(F.broadcast(off_df), on="_pid")
        .withColumn(out_col, F.greatest("_local_mx", "_offset"))
        .drop("_pid", "_local_mx", "_offset")
    )


def global_row_number(
    df: DataFrame,
    order_cols: list[str],
    out_col: str = "rn",
    num_partitions: int | None = None,
    count_out: list | None = None,
) -> DataFrame:
    """Global 1-based row_number in ascending `order_cols` order
    WITHOUT the single-task global window: range-partition on the
    order key, local row_number per partition, then add each
    partition's exclusive count offset (O(P) driver exchange — same
    two-phase scan as prefix_sum).

    Contract: if the combined order key is UNIQUE, the row -> rn
    mapping is deterministic.  With a NON-unique key the assignment
    of rns WITHIN a tie group is arbitrary, but VALUE-AT-RANK is
    still exact and deterministic: range partitioning keeps each
    partition a contiguous key range (equal keys compare equal, so a
    boundary cannot split them onto both sides — and even if a range
    partitioner did split a tie group, the offsets would still give
    the group consecutive global rns), hence the k-th smallest VALUE
    is whatever row carries rn = k.  Callers reading values at ranks
    (medians, quantile cuts) may therefore pass value-only keys;
    callers that join rn back to rows or diff consecutive rows must
    append a unique id as the last column.

    ``count_out``: optional list; the TOTAL row count (already known
    on the driver from the per-partition offsets collect — no extra
    job) is appended to it. Iterative callers (prefix-doubling
    fixpoint tests) use this to detect convergence for free instead
    of paying a separate count() over the ranked frame."""
    p = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    cols = [F.col(c) for c in order_cols]
    ranged = df.repartitionByRange(p, *cols).withColumn(
        "_pid", F.spark_partition_id()
    )
    w = Window.partitionBy("_pid").orderBy(*cols)
    # eager=False: totals collect materializes the checkpoint (see
    # prefix_sum)
    local = ranged.withColumn(
        "_local_rn", F.row_number().over(w)
    ).localCheckpoint(eager=False)
    totals = local.groupBy("_pid").agg(F.count("*").alias("_n")).collect()
    offsets, running = {}, 0
    for r in sorted(totals, key=lambda r: r["_pid"]):
        offsets[r["_pid"]] = running
        running += r["_n"]
    if count_out is not None:
        count_out.append(running)
    off_df = local_frame(
        df.sparkSession,
        [(pid, off) for pid, off in offsets.items()], "_pid int, _offset bigint"
    )
    return (
        local.join(F.broadcast(off_df), on="_pid")
        .withColumn(
            out_col, (F.col("_local_rn") + F.col("_offset")).cast("bigint")
        )
        .drop("_pid", "_local_rn", "_offset")
    )


def global_dense_rank(
    df: DataFrame,
    order_cols: list[str],
    out_col: str = "dr",
    num_partitions: int | None = None,
    count_out: list | None = None,
) -> DataFrame:
    """Global 1-based dense_rank() in ascending `order_cols` order
    WITHOUT a single-task window AND without the distinct() +
    global_row_number + join-back detour (which pays a distinct
    shuffle of the frame, a range shuffle of the key set, and a
    join shuffle of the frame again — per call).

    One range shuffle of the frame itself: range-partition on the
    key, flag each row whose key differs from the previous row in
    partition order (the class heads), running-sum the flags locally,
    then add per-partition class-count offsets computed on the driver
    from ONE collect of (#classes, first key, last key) per partition.
    Adjacent partitions that share a boundary key merge their counts —
    the range partitioner keeps equal keys in one partition (same
    property grouped_rank relies on), but the correction is free (it
    rides the same collect), so the result is exact under ANY
    order-preserving partitioning. Rows with equal keys get equal
    ranks; ranks are consecutive from 1 — exactly dense_rank().

    ``count_out``: optional list; the TOTAL distinct-key count is
    appended (free — it is the final driver running total), the same
    convergence hook global_row_number offers."""
    p = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    cols = [F.col(c) for c in order_cols]
    ranged = df.repartitionByRange(p, *cols).withColumn(
        "_pid", F.spark_partition_id()
    )
    w = Window.partitionBy("_pid").orderBy(*cols)
    key = F.struct(*cols)
    # eqNullSafe: NULL keys form their own class instead of poisoning
    # the comparison; lag() at the partition head is NULL -> flag 1.
    flag = F.when(key.eqNullSafe(F.lag(key).over(w)), 0).otherwise(1)
    local = (
        ranged.withColumn("_flag", flag)
        .withColumn(
            "_local_dr",
            F.sum("_flag").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        # Freeze ONE partitioning for the two consumers (offsets
        # collect + final join); eager=False so the collect below
        # materializes it in the same job (see prefix_sum).
        .localCheckpoint(eager=False)
    )
    totals = (
        local.groupBy("_pid")
        .agg(
            F.sum("_flag").alias("_classes"),
            F.min(key).alias("_first"),
            F.max(key).alias("_last"),
        )
        .collect()
    )
    offsets: dict[int, int] = {}
    running = 0
    prev_last = None
    have_prev = False
    for r in sorted(totals, key=lambda r: r["_pid"]):
        # boundary merge: if this partition opens with the previous
        # partition's closing key, its head flag double-counted the
        # shared class — shift the whole partition down by one.
        adj = 1 if have_prev and r["_first"] == prev_last else 0
        offsets[r["_pid"]] = running - adj
        running = offsets[r["_pid"]] + r["_classes"]
        prev_last = r["_last"]
        have_prev = True
    if count_out is not None:
        count_out.append(running)
    off_df = local_frame(
        df.sparkSession,
        [(pid, off) for pid, off in offsets.items()], "_pid int, _offset bigint"
    )
    return (
        local.join(F.broadcast(off_df), on="_pid")
        .withColumn(
            out_col, (F.col("_local_dr") + F.col("_offset")).cast("bigint")
        )
        .drop("_pid", "_flag", "_local_dr", "_offset")
    )


def pack_by_budget(
    df: DataFrame,
    order_col: str,
    weight_col: str,
    budget: int,
    shard_col: str = "shard_id",
    num_partitions: int | None = None,
) -> DataFrame:
    """Assign rows (in `order_col` order) to consecutive shards of at
    most ~`budget` total weight: shard = floor(exclusive_prefix /
    budget). Contiguous, deterministic, single extra column — the
    sequence-packing step of a training pipeline (items larger than
    the budget get their own shard rather than splitting)."""
    with_cum = prefix_sum(
        df, order_col, weight_col, out_col="_cum", num_partitions=num_partitions
    )
    return with_cum.withColumn(
        shard_col,
        F.floor((F.col("_cum") - F.col(weight_col)) / F.lit(budget)).cast("bigint"),
    ).drop("_cum")


def grouped_rank(
    df: DataFrame,
    group_cols: list[str],
    order_col: str,
    descending: bool = False,
    rank_col: str = "rank",
    dense_rank_col: str | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """rank()/dense_rank() OVER (PARTITION BY group ORDER BY order_col)
    without one task per group — the scale-safe shape when the group
    key is low-cardinality (a 3-value status key puts 1/3 of the table
    in ONE window task at 100 TB).

    Two-phase: range-partition on (group, order) — the range
    partitioner maps EQUAL sort keys to the SAME partition, so ties
    never straddle a partition boundary and local ranks are exact
    within each partition — then add per-(partition, group) offsets:
    rank offset = rows of the group in earlier partitions, dense-rank
    offset = distinct order values of the group in earlier partitions.
    One range shuffle + an O(P x |groups|) driver exchange.
    """
    p = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    oc = F.col(order_col).desc() if descending else F.col(order_col).asc()
    gcols = [F.col(c) for c in group_cols]
    ranged = df.repartitionByRange(p, *gcols, oc).withColumn(
        "_pid", F.spark_partition_id()
    )
    w = Window.partitionBy("_pid", *group_cols).orderBy(oc)
    local_cols = [ranged[c] for c in df.columns] + [
        F.col("_pid"),
        F.rank().over(w).alias("_local_rank"),
    ]
    if dense_rank_col is not None:
        local_cols.append(F.dense_rank().over(w).alias("_local_dense"))
    # Freeze one partitioning for the two consumers (offsets collect +
    # final join) — same hazard prefix_sum documents.
    local = ranged.select(*local_cols).localCheckpoint(eager=False)
    aggs = [F.count("*").alias("_n")]
    if dense_rank_col is not None:
        # dense_rank() treats NULL as a rank value, but countDistinct
        # excludes NULLs — count it explicitly so a group whose NULL
        # order values land in an earlier partition doesn't shift every
        # later partition's dense ranks by one.
        aggs.append(
            (
                F.countDistinct(order_col)
                + F.max(
                    F.when(F.col(order_col).isNull(), 1).otherwise(0)
                )
            ).alias("_nd")
        )
    totals = local.groupBy("_pid", *group_cols).agg(*aggs).collect()
    offsets: dict[tuple, list[int]] = {}
    running: dict[tuple, list[int]] = {}
    for r in sorted(totals, key=lambda r: r["_pid"]):
        gkey = tuple(r[c] for c in group_cols)
        run = running.setdefault(gkey, [0, 0])
        offsets[(r["_pid"], *gkey)] = list(run)
        run[0] += r["_n"]
        if dense_rank_col is not None:
            run[1] += r["_nd"]
    # Build the offset frame with the ORIGINAL key values and their
    # native types (not str()-cast round-trips, which silently drop
    # NULL keys — NULL == 'None' is NULL — and never match booleans:
    # Python str(True) = 'True' vs Spark CAST = 'true').
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    src_fields = {f.name: f for f in df.schema.fields}
    off_schema = StructType(
        [StructField("_pid", IntegerType(), False)]
        + [
            StructField(
                f"{c}_k", src_fields[c].dataType, src_fields[c].nullable
            )
            for c in group_cols
        ]
        + [
            StructField("_roff", LongType(), False),
            StructField("_doff", LongType(), False),
        ]
    )
    off_df = local_frame(
        df.sparkSession,
        [(k[0], *k[1:], off[0], off[1]) for k, off in offsets.items()],
        off_schema,
    )
    cond = [local["_pid"] == off_df["_pid"]] + [
        local[c].eqNullSafe(off_df[f"{c}_k"]) for c in group_cols
    ]
    out = (
        local.join(F.broadcast(off_df), cond)
        .withColumn(
            rank_col, (F.col("_local_rank") + F.col("_roff")).cast("bigint")
        )
    )
    if dense_rank_col is not None:
        out = out.withColumn(
            dense_rank_col,
            (F.col("_local_dense") + F.col("_doff")).cast("bigint"),
        )
    drop = [local["_pid"], off_df["_pid"], "_local_rank", "_roff", "_doff"] + [
        f"{c}_k" for c in group_cols
    ]
    if dense_rank_col is not None:
        drop.append("_local_dense")
    for d in drop:
        out = out.drop(d)
    return out
