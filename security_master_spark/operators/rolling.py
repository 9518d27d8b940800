"""Skew-proof per-key ordered computations: the distributed-rank
toolkit.

Every member of this module removes the same wall — a per-key
WindowExec (or value-buffering aggregate) that runs ONE task per
partition key — by the same decomposition: range-partition by
(keys, order), reduce each range to a tiny per-(range, key) summary,
prefix-combine the summaries, and re-derive exact per-row (or
per-key) results in parallel. Members:

- ``distributed_row_number`` (+ ride-along ``counts_col``) — gap-free
  per-key ranks without the one-sort-task-per-key ceiling;
- ``distributed_cumsum`` — per-key running totals with exact SUM NULL
  semantics;
- ``rolling_rows_agg`` / ``rolling_distinct_count`` — trailing
  ROWS-frame aggregates via rank + frame-halo buckets;
- ``distributed_percentile`` — exact interpolated ``percentile(v, p)
  GROUP BY k``, bit-identical to Spark's aggregate, without its
  per-key value buffer.

All embed a load-bearing ``persist()`` released via the
``cache_registry`` parameter (see :func:`_distributed_rank`).
The original motivating case, kept below as written:

The portable spelling of a trailing-N distinct count —
``size(collect_set(v) OVER (PARTITION BY k ORDER BY ... ROWS BETWEEN
N-1 PRECEDING AND CURRENT ROW))`` (a23_rolling_distinct,
plans/aggregates5.py) — has a parallelism ceiling that no cluster
size fixes: one WindowExec task per partition KEY. With 5 event
types over 100 TB that is 5 tasks carrying 20 TB each. The per-row
work (a 100-element set per row) is frame-bounded, so memory is
fine; it is the KEY-count, not the data, that caps the speedup —
the same wall w11 removed for time-RANGE sums
(plans/windows2.py / PLANS.md "halo-parallel time window").

This module is the production spelling, two pieces working together:
(1) DISTRIBUTED RANK — per-key row positions from a range partition
plus an offset prefix-sum over per-range counts (a tiny table), so no
single task ever sorts a whole key; (2) HALO BUCKETS — chunk each
key's row sequence into ``bucket_rows`` positions and copy the last
``frame_rows − 1`` rows of every chunk into the NEXT chunk, so every
target row sees its complete trailing frame inside one (key, bucket)
partition. Parallelism becomes O(keys × rows/bucket_rows) end to end;
the halo duplicates a bounded ``(frame−1)/bucket_rows`` fraction of
the data (≈0.15% at the defaults). Both pieces are needed: bucketing
alone still ranks serially per key and measured SLOWER than the
portable form on both balanced and skewed corpora; with the
distributed rank it is 2.0× faster balanced and 7.8× at 96% skew,
flat across the two (PLANS.md round-10 halo study).

Kept OUT of the query registry by the round-9 freeze: a23 remains
the certified portable semantics reference; this is its scale
sibling, held hash-equal by tests/test_round10_fixes.py and measured
in PLANS.md (round-10 halo study), exactly the w10/w11 precedent.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.window import WindowSpec

#: Default bound on the force-broadcast side of every toolkit attach
#: (offsets / totals / target-rank tables — all O(distinct key
#: groups)). Mirrors asof.py's DEFAULT_MAX_CARRY_ROWS: 2M rows of the
#: narrow scratch tables is tens of MB — inside every sane
#: autoBroadcastJoinThreshold-class budget — while an unbounded key
#: count is a driver/executor OOM, not a slow query.
DEFAULT_MAX_BROADCAST_ROWS = 2_000_000


def _nullsafe_attach(big: DataFrame, small: DataFrame,
                     on: list[str], max_rows: int | None = None,
                     what: str = "distributed toolkit") -> DataFrame:
    """Inner-join ``small`` (broadcast) onto ``big`` with NULL-SAFE
    key equality, keeping ``big``'s key columns. A bare name-list join
    compares with ``=``, so any row whose key is NULL silently drops —
    but windows/groupBy treat NULL as a first-class group, and these
    operators must match the window form's semantics exactly (NULL
    keys included).

    ``max_rows`` (round 12): broadcastability guard, FUSED into the
    plan — the asof.py carry pattern. ``small`` here is always a
    per-key-group scratch table (offsets, totals, target ranks) whose
    row count is O(distinct key groups); nothing else bounds it, so a
    pathological key cardinality builds an OOM-class broadcast. The
    guard is a global count window over the SMALL side plus an
    in-plan ``raise_error`` wrapped around a JOIN KEY (a value column
    would be pruned — guard and all — whenever the consumer doesn't
    read it; the broadcast hash-table build always evaluates its join
    keys), so it costs one single-partition exchange + stage on the
    broadcast build's critical path — measured as a FLAT ~0.1-0.45 s
    per guarded attach at local[32] on the 6M-tick corpus
    (PLANS.md "Attach-guard cost"; a per-call constant, flat across
    corpus shape and key skew — at cluster scale it is noise, at toy
    scale it is visible) — and aborts the FIRST ACTION as a
    SparkRuntimeException wrapping the message below, before the
    broadcast is built. ``None`` (the default here; the public
    operators default to :data:`DEFAULT_MAX_BROADCAST_ROWS`)
    disables and removes the window from the plan entirely."""
    s = small
    for c in on:
        s = s.withColumnRenamed(c, f"_r_{c}")
    if max_rows is not None:
        if "_na" in s.columns:
            raise ValueError(
                f"{what}: the broadcast guard's scratch column '_na' "
                "collides with a broadcast-side column — rename it "
                "before calling"
            )
        def _wrap(col_name: str):
            return F.when(
                F.col("_na") > max_rows,
                F.raise_error(F.format_string(
                    f"{what}: broadcast-side scratch table holds "
                    "%d rows (one per distinct key group), over "
                    f"max_broadcast_rows={max_rows}; it is "
                    "force-broadcast, so this plan is an OOM risk "
                    "— at this key cardinality the portable "
                    "window/aggregate form already has ample "
                    "per-key parallelism and no broadcast; or "
                    "raise/disable max_broadcast_rows on a "
                    "big-driver cluster",
                    F.col("_na"),
                )),
            ).otherwise(F.col(col_name))
        # wrap the first JOIN KEY (always evaluated by the broadcast
        # build); with no join keys (global/keyless consumers — a
        # 1-row cross attach) wrap EVERY payload column instead, so
        # the guard survives any partial projection the consumer takes
        wrap_cols = [f"_r_{on[0]}"] if on else list(s.columns)
        s = s.withColumn("_na", F.count("*").over(Window.partitionBy()))
        for c in wrap_cols:
            s = s.withColumn(c, _wrap(c))
        s = s.drop("_na")
    cond = None
    for c in on:
        eq = big[c].eqNullSafe(s[f"_r_{c}"])
        cond = eq if cond is None else cond & eq
    out = big.join(F.broadcast(s), cond, "inner")
    return out.drop(*[f"_r_{c}" for c in on])


def _distributed_rank(
    df: DataFrame,
    keys: list[str],
    order_cols: Sequence[str | Column],
    n_ranges: int | None,
    cache_registry: list[DataFrame] | None = None,
    counts_col: str | None = None,
    max_broadcast_rows: int | None = DEFAULT_MAX_BROADCAST_ROWS,
) -> DataFrame:
    """Per-key dense row positions with NO serial pass: range-partition
    by (keys, order), count rows per (range, key) — a tiny table —
    prefix-sum those counts into per-range offsets, then add each
    row's LOCAL row_number. Every stage is parallel in ranges, so a
    key owning 96% of the rows no longer pins one task (the portable
    ``row_number() OVER (PARTITION BY key)`` does exactly that).

    The range frame is ``persist()``-ed before the counts action:
    ``repartitionByRange`` re-samples split points per job, so the
    offsets computed in action 1 must describe the SAME placement the
    final action reads (the operators/ewma.py segmented-scan lesson —
    caught as a real sf0.01 mismatch in round 5). The persist is
    load-bearing and Spark's CacheManager holds cached plans until
    EXPLICIT ``unpersist()`` — GC does NOT free them, so without a
    release the blocks pin MEMORY_AND_DISK for the whole session.
    Pass ``cache_registry`` (any list): the persisted frame is
    appended to it, and the caller unpersists each entry once the
    result is fully consumed. Without one, long-lived sessions
    composing these operators in a loop must fall back to
    ``spark.catalog.clearCache()``.

    Input columns named like the internal scratch columns (``_pid``/
    ``_c``/``_off``/``_lrn``/``_rn``, or the attach-side ``_r_…``
    spellings of the join keys) raise ``ValueError``: ``_pid`` in
    particular would be silently REPLACED by ``spark_partition_id()``
    and dropped from the result — data loss, not an error — under the
    pre-round-12 behavior.
    """
    guard = {"_pid", "_c", "_off", "_lrn", "_rn"} | {
        f"_r_{c}" for c in ("_pid", *keys)
    }
    bad = sorted(set(df.columns) & guard)
    if bad:
        raise ValueError(
            f"distributed rank toolkit: input columns collide with "
            f"internal scratch columns: {bad} — rename them before "
            f"calling"
        )
    # counts_col is an OUTPUT name but rides the totals attach as a
    # broadcast-side payload column: scratch spellings would collide
    # with the attach's renames ("_r_<key>") or the fused guard's
    # count column ("_na") — same loud-failure contract as above.
    if counts_col is not None and (
        counts_col in guard or counts_col == "_na"
    ):
        raise ValueError(
            f"distributed rank toolkit: counts_col={counts_col!r} "
            "collides with an internal scratch column — pick another "
            "name"
        )
    n = n_ranges or df.sparkSession.sparkContext.defaultParallelism
    p = (
        df.repartitionByRange(n, *keys, *order_cols)
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    if cache_registry is not None:
        cache_registry.append(p)
    counts = p.groupBy("_pid", *keys).agg(F.count("*").alias("_c"))
    off_w = (
        Window.partitionBy(*keys)
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "_pid",
        *keys,
        F.coalesce(F.sum("_c").over(off_w), F.lit(0)).alias("_off"),
    )
    local_w = Window.partitionBy("_pid", *keys).orderBy(*order_cols)
    ranked = p.withColumn("_lrn", F.row_number().over(local_w))
    # broadcast-side size: per-(range, key) pairs. Range-partitioning
    # by (keys, order) makes each key's rows CONTIGUOUS across ranges,
    # so pairs ≈ distinct keys + n_ranges — O(keys), unbounded by
    # anything else; hence the fused guard (round 12, session 2).
    out = (
        _nullsafe_attach(ranked, offsets, ["_pid", *keys],
                         max_rows=max_broadcast_rows,
                         what="distributed rank (offsets table)")
        .withColumn("_rn", F.col("_off") + F.col("_lrn"))
        .drop("_pid", "_lrn", "_off")
    )
    if counts_col is not None:
        # per-key TOTAL row counts, rolled up from the per-(range, key)
        # counts table already in hand — a consumer needing n alongside
        # rn (``count(*) OVER (PARTITION BY key)``) would otherwise
        # re-scan the input with a second aggregate + second join
        totals = counts.groupBy(*keys).agg(
            F.sum("_c").alias(counts_col)
        )
        # guarded too (round-13 ADVICE, medium): although |totals| =
        # distinct keys ≤ |offsets| rows, "the offsets guard raises
        # first" is NOT a safe ordering claim — Spark launches every
        # BroadcastExchange's collect job concurrently at prepare
        # time, so at pathological key cardinality the totals collect
        # could OOM the driver in parallel before the offsets guard's
        # raise_error propagates. Cost is the documented flat
        # ~0.2 s/attach (PLANS.md attach-guard cost study).
        out = _nullsafe_attach(
            out, totals, keys,
            max_rows=max_broadcast_rows,
            what="distributed rank (totals table)",
        )
    return out


def distributed_row_number(
    df: DataFrame,
    part_keys: Sequence[str],
    order_cols: Sequence[str | Column],
    out_col: str = "row_num",
    n_ranges: int | None = None,
    cache_registry: list[DataFrame] | None = None,
    counts_col: str | None = None,
    max_broadcast_rows: int | None = DEFAULT_MAX_BROADCAST_ROWS,
) -> DataFrame:
    """Public spelling of :func:`_distributed_rank`: gap-free 1-based
    per-key row positions by ``order_cols`` — ``row_number() OVER
    (PARTITION BY keys ORDER BY ...)`` without its one-sort-task-per-
    key ceiling. Same contract: ``order_cols`` must totally order each
    key group (ties would make positions partition-dependent), and the
    result embeds a load-bearing ``persist()`` (range placement must
    be identical between the internal counts action and the caller's
    action — repartitionByRange re-samples per job otherwise). The
    CacheManager holds that persist until explicit ``unpersist()`` —
    pass ``cache_registry`` to receive the persisted frame and release
    it after the result is consumed (see :func:`_distributed_rank`).
    Sequence ids, pagination cursors, gap-free ranks over skewed
    keys — anywhere the window form's straggler task is the
    bottleneck.

    ``counts_col``: when set, also attach each key group's TOTAL row
    count under that name — ``count(*) OVER (PARTITION BY keys)``
    without its own one-task-per-key window, rolled up from the
    per-(range, key) counts table the rank already computes (zero
    extra input scans; the d39 rank+tail consumer pattern).

    ``max_broadcast_rows``: the offsets/totals scratch tables are
    O(distinct key groups) and force-broadcast; past this bound the
    first action aborts with an in-plan raise instead of building an
    OOM-class broadcast (fused guard, a flat ~0.2 s/attach constant —
    see :func:`_nullsafe_attach` and PLANS.md). ``None`` disables."""
    out = _distributed_rank(
        df, list(part_keys), order_cols, n_ranges,
        cache_registry=cache_registry, counts_col=counts_col,
        max_broadcast_rows=max_broadcast_rows,
    )
    return out.withColumnRenamed("_rn", out_col)


def distributed_cumsum(
    df: DataFrame,
    part_keys: Sequence[str],
    order_cols: Sequence[str | Column],
    value_cols: dict[str, str],
    n_ranges: int | None = None,
    cache_registry: list[DataFrame] | None = None,
    max_broadcast_rows: int | None = DEFAULT_MAX_BROADCAST_ROWS,
) -> DataFrame:
    """Per-key running totals — ``SUM(v) OVER (PARTITION BY keys
    ORDER BY ... ROWS UNBOUNDED PRECEDING)`` — without the window
    form's one-task-per-key ceiling, by the same decomposition as
    :func:`_distributed_rank`: range-partition by (keys, order),
    reduce each range to per-(range, key) partial sums + non-null
    counts (a tiny table), prefix-sum those into per-range offsets,
    then add each row's LOCAL running total. Every stage is parallel
    in ranges.

    ``value_cols`` maps output name → input column; several running
    totals share the one pass. NULL semantics match Spark's SUM
    exactly: NULLs are ignored, and a prefix whose values are ALL
    NULL yields NULL, not 0 (tracked via the non-null counts — the
    offset addition cannot manufacture a zero; the
    operators/trailing.py convention).

    ``order_cols`` must totally order each key group: with a total
    order Spark's default RANGE-to-current cumulative frame equals
    the ROWS frame computed here, and placement ties cannot straddle
    a range boundary. The result embeds a load-bearing ``persist()``
    (the repartitionByRange re-sampling hazard — see
    :func:`_distributed_rank`), which the CacheManager holds until
    explicit ``unpersist()``; pass ``cache_registry`` to receive the
    persisted frame and release it after consumption.

    Output names in ``value_cols`` may overwrite their own source
    column in place (``{"v": "v"}``); every output is computed from
    the PRE-overwrite inputs in one ``select``, so
    ``{"v": "v", "v2": "v"}`` reads the original ``v`` for both.

    ``max_broadcast_rows``: the per-(range, key) offsets table is
    force-broadcast and O(distinct keys); past this bound the first
    action aborts with an in-plan raise instead of building an
    OOM-class broadcast (see :func:`_nullsafe_attach`). ``None``
    disables.
    Output names — and, since round 12, INPUT column names — colliding
    with the operator's internal scratch columns (``_pid``,
    ``_ps_*``/``_pc_*``/``_os_*``/``_oc_*``, attach-side ``_r_*``)
    raise ``ValueError`` instead of silently dropping or shadowing.

    Skew-path consumer note: trailing_interval_sum's cum-prefix stage
    (operators/trailing.py) is this exact computation per (key, ts) —
    wiring it through here removes that operator's per-key ceiling;
    staged as a round-11 candidate (PLANS.md round-10 halo study).
    """
    keys = list(part_keys)
    reserved = {"_pid"} | {
        f"_{p}_{o}" for o in value_cols for p in ("ps", "pc", "os", "oc")
    }
    bad = sorted(set(value_cols) & reserved)
    if bad:
        raise ValueError(
            f"value_cols output names collide with internal scratch "
            f"columns: {bad}"
        )
    # the INPUT side of the same guard (round-11 ADVICE): an input
    # column named _pid was silently replaced by spark_partition_id()
    # and then dropped from the result (it sits in `reserved`, so the
    # final select skips it) — data loss, not an error; _os_*/_oc_*
    # inputs would shadow the offset columns the _cum expressions
    # read, and _r_* inputs collide with _nullsafe_attach's renames.
    bad_in = sorted(
        set(df.columns)
        & (reserved | {f"_r_{c}" for c in ("_pid", *keys)})
    )
    if bad_in:
        raise ValueError(
            f"distributed_cumsum: input columns collide with internal "
            f"scratch columns: {bad_in} — rename them before calling"
        )
    n = n_ranges or df.sparkSession.sparkContext.defaultParallelism
    p = (
        df.repartitionByRange(n, *keys, *order_cols)
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    if cache_registry is not None:
        cache_registry.append(p)
    partial_aggs = []
    for out, src in value_cols.items():
        partial_aggs.append(F.sum(src).alias(f"_ps_{out}"))
        partial_aggs.append(F.count(src).alias(f"_pc_{out}"))
    partials = p.groupBy("_pid", *keys).agg(*partial_aggs)
    off_w = (
        Window.partitionBy(*keys)
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off_cols = []
    for out in value_cols:
        off_cols.append(
            F.sum(f"_ps_{out}").over(off_w).alias(f"_os_{out}")
        )
        off_cols.append(
            F.coalesce(F.sum(f"_pc_{out}").over(off_w), F.lit(0)).alias(
                f"_oc_{out}"
            )
        )
    offsets = partials.select("_pid", *keys, *off_cols)
    local_w = (
        Window.partitionBy("_pid", *keys)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # offsets is O(distinct keys + ranges) and force-broadcast — same
    # fused broadcastability guard as the rank's offsets table
    attached = _nullsafe_attach(p, offsets, ["_pid", *keys],
                                max_rows=max_broadcast_rows,
                                what="distributed cumsum (offsets table)")

    def _cum(out: str, src: str) -> Column:
        ls = F.sum(src).over(local_w)
        lc = F.count(src).over(local_w)
        return F.when(
            lc + F.col(f"_oc_{out}") > 0,
            F.coalesce(ls, F.lit(0))
            + F.coalesce(F.col(f"_os_{out}"), F.lit(0)),
        ).alias(out)

    # ONE select, every output computed from the pre-overwrite inputs:
    # sequential withColumn would let a later entry read an earlier
    # entry's already-overwritten output when names collide
    # (e.g. {"v": "v", "v2": "v"}) — silently wrong running totals.
    exprs: list[Column] = []
    for c in attached.columns:
        if c in reserved:
            continue
        exprs.append(_cum(c, value_cols[c]) if c in value_cols else F.col(c))
    exprs.extend(
        _cum(o, s) for o, s in value_cols.items() if o not in attached.columns
    )
    return attached.select(*exprs)


def rolling_rows_agg(
    df: DataFrame,
    part_keys: Sequence[str],
    order_cols: Sequence[str | Column],
    frame_rows: int,
    aggs: dict[str, "Callable[[WindowSpec], Column]"],
    bucket_rows: int = 65_536,
    distributed_rank: bool = True,
    n_ranges: int | None = None,
    cache_registry: list[DataFrame] | None = None,
    max_broadcast_rows: int | None = DEFAULT_MAX_BROADCAST_ROWS,
) -> DataFrame:
    """Skew-proof trailing ROWS-frame aggregation: for each row,
    evaluate every entry of ``aggs`` over the trailing ``frame_rows``
    rows (current row inclusive) within the row's ``part_keys``
    group, ordered by ``order_cols`` — semantically identical to
    ``<agg> OVER (PARTITION BY keys ORDER BY ... ROWS BETWEEN
    frame_rows−1 PRECEDING AND CURRENT ROW)`` but parallel in
    O(keys × rows/bucket_rows) tasks instead of one task per key.
    The mechanism is agg-agnostic: positions come from the
    distributed rank, rows are chunked into ``bucket_rows`` positions
    with a ``frame_rows − 1`` halo copied one chunk forward, and the
    window runs inside (key, chunk) partitions where every target
    row's frame is complete.

    ``aggs`` maps output column name → a callable producing the
    windowed Column from the frame's WindowSpec, e.g.::

        {"roll_sum": lambda w: F.sum("v").over(w),
         "roll_users": lambda w: F.size(F.collect_set("u").over(w))}

    Every entry must read only the trailing frame: frame AGGREGATES
    (sum/max/collect_set/…) or offset functions reaching back at most
    ``frame_rows − 1`` rows (``lag(n)``, n < frame_rows — offsets
    ignore the frame spec but the halo guarantees exactly that many
    predecessors inside the bucket). Anything reading further
    (unbounded frames, ``lag(frame_rows)``, lead/ntile/percent_rank)
    sees bucket-local state and silently diverges from the global
    window — use the portable window form or
    :func:`distributed_cumsum` for unbounded prefixes.

    ``order_cols`` must be a TOTAL order within each key group (same
    contract as every rolling operator here — ties make "the previous
    N rows" engine-arbitrary).

    ``bucket_rows`` trades task granularity against halo overhead:
    the halo re-ships ``(frame_rows − 1) / bucket_rows`` of the rows.
    It must be ≥ ``frame_rows`` so one halo hop suffices (asserted).

    ``distributed_rank`` (default True): row positions come from
    :func:`_distributed_rank` — range-partition + offset prefix-sum,
    fully parallel in ranges, one extra shuffle + a load-bearing
    persist the CacheManager holds until explicit ``unpersist()``
    (pass ``cache_registry`` to receive and release it — see
    :func:`_distributed_rank`).
    Measured at the 6M-tick corpus (PLANS.md round-10 halo study):
    **2.0× faster than the portable window form on balanced keys,
    7.8× on a 96%-one-key corpus — and flat across the two (6.2 vs
    6.4 s), i.e. wall clock tracks data volume, not key skew.**
    ``False`` ranks with a plain ``row_number() OVER (PARTITION BY
    key)`` instead — one sort task per KEY, which re-serializes on
    dominant keys and measured SLOWER than the portable form outright
    (the halo's extra exchange buys nothing while the rank pass still
    bottlenecks); it is kept as an independent second implementation
    for the equality tests, not as a production path.

    Returns ``df``'s columns plus one column per ``aggs`` entry.
    """
    if frame_rows < 1:
        raise ValueError(f"frame_rows must be ≥ 1, got {frame_rows}")
    if bucket_rows < frame_rows:
        raise ValueError(
            f"bucket_rows ({bucket_rows}) must be ≥ frame_rows "
            f"({frame_rows}): a frame may span at most one bucket "
            "boundary, so the halo copies rows one bucket forward only"
        )
    keys = list(part_keys)
    halo = frame_rows - 1

    if distributed_rank:
        base = _distributed_rank(
            df, keys, order_cols, n_ranges, cache_registry=cache_registry,
            max_broadcast_rows=max_broadcast_rows,
        )
    else:
        rn_w = Window.partitionBy(*keys).orderBy(*order_cols)
        base = df.withColumn("_rn", F.row_number().over(rn_w))
    own = base.withColumn(
        "_bkt", ((F.col("_rn") - 1) / bucket_rows).cast("long")
    ).withColumn("_own", F.lit(True))
    # rows in the last `halo` slots of bucket b are also frame members
    # for early rows of bucket b+1 — ship one copy forward
    spill = (
        own.filter(
            ((F.col("_rn") - 1) % bucket_rows) >= bucket_rows - halo
        )
        .withColumn("_bkt", F.col("_bkt") + 1)
        .withColumn("_own", F.lit(False))
    )
    u = own.unionByName(spill)
    # within a (key, bucket) partition the _rn sequence is contiguous
    # (bucket interior + complete halo prefix), so a ROWS frame over
    # it equals the global ROWS frame for every _own row
    frame_w = (
        Window.partitionBy(*keys, "_bkt")
        .orderBy("_rn")
        .rowsBetween(-halo, 0)
    )
    out = u
    for out_col, build in aggs.items():
        out = out.withColumn(out_col, build(frame_w))
    return out.filter(F.col("_own")).drop("_rn", "_bkt", "_own")


def rolling_distinct_count(
    df: DataFrame,
    part_keys: Sequence[str],
    order_cols: Sequence[str | Column],
    value_col: str,
    frame_rows: int,
    out_col: str = "rolling_distinct",
    bucket_rows: int = 65_536,
    distributed_rank: bool = True,
    n_ranges: int | None = None,
    cache_registry: list[DataFrame] | None = None,
    max_broadcast_rows: int | None = DEFAULT_MAX_BROADCAST_ROWS,
) -> DataFrame:
    """Per row: COUNT(DISTINCT ``value_col``) over the trailing
    ``frame_rows``-row frame — :func:`rolling_rows_agg` specialized to
    ``size(collect_set(value_col))`` (NULLs ignored, matching both
    ``collect_set`` and SQL ``COUNT(DISTINCT)``); see there for the
    contracts and the measured skew behavior.

    Returns ``df``'s columns plus ``out_col`` (bigint).
    """
    return rolling_rows_agg(
        df,
        part_keys,
        order_cols,
        frame_rows,
        {
            out_col: lambda w: F.size(
                F.collect_set(value_col).over(w)
            ).cast("bigint")
        },
        bucket_rows=bucket_rows,
        distributed_rank=distributed_rank,
        n_ranges=n_ranges,
        cache_registry=cache_registry,
        max_broadcast_rows=max_broadcast_rows,
    )


def distributed_percentile(
    df: DataFrame,
    part_keys: Sequence[str],
    value_col: str,
    ps: Sequence[float],
    out_cols: Sequence[str] | None = None,
    n_ranges: int | None = None,
    cache_registry: list[DataFrame] | None = None,
    max_broadcast_rows: int | None = DEFAULT_MAX_BROADCAST_ROWS,
) -> DataFrame:
    """EXACT interpolated percentiles per key — ``percentile(v, p)
    GROUP BY keys`` — without the aggregate's per-key wall: Spark's
    ``Percentile`` buffers EVERY value of a group on its one reduce
    task (memory O(group) and one task per key), which is the
    documented "serial half" of the d39-class exact-tail queries.
    Here the heavy work is :func:`_distributed_rank` over the non-null
    values ordered by value — parallel in ranges — after which each
    requested percentile needs only the rows at two target ranks per
    key: a broadcast rank-equi join extracts O(keys × 2·|ps|) rows and
    the interpolation runs on that tiny frame.

    Exactness: ranking by value alone is not a total order, but the
    value AT a global rank is a deterministic function of the multiset
    (ties are value-equal wherever they land), so the result is
    engine-stable. The interpolation mirrors Spark's Percentile
    formula term-for-term (``pos = p·(n−1)``; ``(hi−pos)·v_lo +
    (pos−lo)·v_hi``) so results are bit-identical to the aggregate,
    not merely close. NULL values are ignored (the aggregate's
    semantics); a key whose values are ALL NULL yields a row with
    NULL percentiles (matching ``groupBy().agg(percentile(...))``).
    NULL keys are first-class groups.

    ``ps`` are fractions in [0, 1]; ``out_cols`` names the output
    columns (default ``p_<fraction with _ for .>``). Returns one row
    per distinct key combination: keys + one double column per entry
    of ``ps``. Embeds the rank's load-bearing persist —
    ``cache_registry`` is the release path (module contract).

    ``max_broadcast_rows`` bounds every force-broadcast scratch table
    in the plan (the rank's offsets/totals AND the O(keys × 2|ps|)
    target-rank extraction); past it the first action aborts with an
    in-plan raise — see :func:`_nullsafe_attach`. ``None`` disables.
    """
    keys = list(part_keys)
    ps = [float(p) for p in ps]
    for p in ps:
        if not 0.0 <= p <= 1.0:
            raise ValueError(f"percentile fraction out of [0,1]: {p}")
    if out_cols is None:
        out_cols = [f"p_{str(p).replace('.', '_')}" for p in ps]
    out_cols = list(out_cols)
    if len(out_cols) != len(ps):
        raise ValueError("out_cols and ps must have equal length")

    nn = df.filter(F.col(value_col).isNotNull()).select(
        *keys, F.col(value_col).cast("double").alias("_v")
    )
    ranked = _distributed_rank(
        nn, keys, ["_v"], n_ranges,
        cache_registry=cache_registry, counts_col="_n",
        max_broadcast_rows=max_broadcast_rows,
    )
    keytab = ranked.groupBy(*keys).agg(F.max("_n").alias("_n"))

    pairs = F.array(
        *[
            F.struct(
                F.lit(p).alias("_p"), F.lit(i).alias("_pi")
            )
            for i, p in enumerate(ps)
        ]
    )
    tgt = (
        keytab.select(*keys, "_n", F.explode(pairs).alias("_pp"))
        .select(
            *keys,
            "_n",
            F.col("_pp._p").alias("_p"),
            F.col("_pp._pi").alias("_pi"),
        )
        .withColumn("_pos", F.col("_p") * (F.col("_n") - 1).cast("double"))
        .withColumn("_lo", F.floor("_pos").cast("long") + 1)
        .withColumn("_hi", F.ceil("_pos").cast("long") + 1)
    )
    need = (
        tgt.select(*keys, F.col("_lo").alias("_rn"))
        .unionByName(tgt.select(*keys, F.col("_hi").alias("_rn")))
        .distinct()
    )
    # rank-equi extraction: the big ranked frame sheds everything but
    # the O(keys x 2|ps|) target rows via a broadcast hash join. The
    # guard on `need` also bounds the two direct F.broadcast(lo/hi)
    # joins below: |picked| ≤ |need| (row positions are unique per
    # key, so each (key, _rn) target matches at most one ranked row).
    picked = _nullsafe_attach(
        ranked.select(*keys, "_rn", "_v"), need.withColumn("_hit", F.lit(1)),
        [*keys, "_rn"],
        max_rows=max_broadcast_rows,
        what="distributed percentile (target-rank table)",
    ).drop("_hit")
    lo_tab = picked.select(
        *[F.col(k).alias(f"_l_{k}") for k in keys],
        F.col("_rn").alias("_l_rn"),
        F.col("_v").alias("_vlo"),
    )
    hi_tab = picked.select(
        *[F.col(k).alias(f"_h_{k}") for k in keys],
        F.col("_rn").alias("_h_rn"),
        F.col("_v").alias("_vhi"),
    )
    cond_lo = F.col("_lo") == F.col("_l_rn")
    for k in keys:
        cond_lo = cond_lo & F.col(k).eqNullSafe(F.col(f"_l_{k}"))
    cond_hi = F.col("_hi") == F.col("_h_rn")
    for k in keys:
        cond_hi = cond_hi & F.col(k).eqNullSafe(F.col(f"_h_{k}"))
    j = (
        tgt.join(F.broadcast(lo_tab), cond_lo, "inner")
        .join(F.broadcast(hi_tab), cond_hi, "inner")
    )
    # Spark Percentile.getPercentile, term for term (0-based lower/
    # higher), so the result is bit-identical to the aggregate
    lower = (F.col("_lo") - 1).cast("double")
    higher = (F.col("_hi") - 1).cast("double")
    val = F.when(F.col("_lo") == F.col("_hi"), F.col("_vlo")).otherwise(
        (higher - F.col("_pos")) * F.col("_vlo")
        + (F.col("_pos") - lower) * F.col("_vhi")
    )
    per_key = j.groupBy(*keys).agg(
        *[
            F.max(F.when(F.col("_pi") == i, val)).alias(out_cols[i])
            for i in range(len(ps))
        ]
    )
    # keys whose values are ALL NULL: absent from the ranked frame but
    # present in the aggregate's output (with NULL percentiles)
    all_keys = df.select(*keys).distinct()
    ak = all_keys
    for k in keys:
        ak = ak.withColumnRenamed(k, f"_a_{k}")
    cond = None
    for k in keys:
        eq = F.col(f"_a_{k}").eqNullSafe(F.col(k))
        cond = eq if cond is None else cond & eq
    out = ak.join(F.broadcast(per_key), cond, "left").select(
        *[F.col(f"_a_{k}").alias(k) for k in keys], *out_cols
    )
    return out
