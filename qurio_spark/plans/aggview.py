"""Incremental aggregate-view maintenance — additive refresh of a
persisted rollup under streaming/batch appends.

A 100 TB events table cannot be re-aggregated per dashboard query; the
production pattern is a MATERIALIZED partial-aggregate view refreshed
per delta batch: the view stores MERGEABLE partial states (count, sum,
min, max — every state where state(A ∪ B) = state(A) ⊕ state(B)), a
new batch contributes one partial-agg over ITS rows only, and the
merge touches only the view rows whose keys the batch hit.  Finals
that are not themselves mergeable (avg = sum/count) derive at read
time from the states — never stored.

Scale shape: the refresh cost is O(|delta| + |touched view rows|),
independent of the view's (or the base table's) total size.  The view
is a SNAPSHOT table with value-clustered files on the partition
column: a refresh is one atomic `snap_replace_values` commit over the
partitions the delta touches, so a delta of recent events leaves
historical files byte-untouched (mtime-asserted in tests) and readers
mid-refresh see a whole version, never a torn mix.

The correctness contract — incremental refresh over any batch split
== one-shot aggregation of the union — is the DuckDB oracle of
`q_incremental_hourly` and the property pinned in
tests/test_aggview.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F



#: partial-state columns the view persists for one value column
STATE_COLS = ("n", "s", "mn", "mx")


#: Datasketches HLL precision for the optional distinct state — 2^12
#: registers (~2 KB dense); the sketch stays EXACT in sparse mode for
#: small per-key cardinalities and ~1.6% RSE beyond
HLL_LGK = 12


def _bucket_idx(value_col: str, bounds: tuple[float, float, int]):
    """Clamped equi-width bucket index for ``bounds = (lo, hi, B)``:
    floor((v - lo)/width) clamped into [0, B-1], so out-of-range
    values land in the edge buckets (counts never lost).  NULL values
    contribute to no bucket."""
    lo, hi, b = bounds
    width = (hi - lo) / b
    idx = F.least(
        F.greatest(
            F.floor((F.col(value_col).cast("double") - F.lit(lo)) / F.lit(width)),
            F.lit(0),
        ),
        F.lit(b - 1),
    )
    # greatest/least SKIP nulls (a NULL value would land in bucket 0);
    # gate explicitly so NULL contributes to no bucket
    return F.when(F.col(value_col).isNotNull(), idx)


def partial_states(
    delta: DataFrame,
    group_cols: list[str],
    value_col: str,
    distinct_col: str | None = None,
    hist_bounds: tuple[float, float, int] | None = None,
) -> DataFrame:
    """Delta batch -> one mergeable state row per key.

    ``distinct_col`` adds a MERGEABLE approximate-distinct state: a
    Datasketches HLL sketch of that column (``hs``, binary).  Exact
    distinct is not a mergeable state (it needs the full key set);
    the sketch is — union(state(A), state(B)) == state(A ∪ B) holds
    exactly at the sketch level, so incremental refresh stays
    split-invariant (the property pinned in tests).  The estimate
    derives at read time like avg does.

    ``hist_bounds = (lo, hi, n_buckets)`` adds a MERGEABLE quantile
    state: a fixed-bound equi-width histogram (``hb``,
    ``array<long>`` of bucket counts — the Prometheus/HDR posture:
    bounds are part of the view's definition, so bucket counts add
    exactly across any split and the state stays a pure JVM column
    expression, no sketch library and no Python).  Quantiles derive
    at read time by interpolation (:func:`quantile_estimates`) with
    error bounded by one bucket width; exact quantiles are not
    mergeable (they need the full value multiset)."""
    aggs = [
        F.count("*").alias("n"),
        # fixed state type: merge_states coalesces with lit(0.0), which
        # would promote an integer sum to double on the SECOND refresh
        # only — leaving one view with mixed long/double parquet files.
        # Casting here makes first-write and merged schemas identical.
        F.sum(value_col).cast("double").alias("s"),
        F.min(value_col).alias("mn"),
        F.max(value_col).alias("mx"),
    ]
    if distinct_col is not None:
        aggs.append(F.hll_sketch_agg(distinct_col, F.lit(HLL_LGK)).alias("hs"))
    if hist_bounds is not None:
        idx = _bucket_idx(value_col, hist_bounds)
        aggs.append(
            F.array(
                *[
                    # coalesce: an all-NULL-value group sums to NULL,
                    # but its histogram is legitimately all-zero
                    F.coalesce(
                        F.sum((idx == i).cast("long")), F.lit(0).cast("long")
                    ).alias(f"b{i}")
                    for i in range(hist_bounds[2])
                ]
            ).alias("hb")
        )
    return delta.groupBy(*group_cols).agg(*aggs)


def merge_states(
    old: DataFrame, new: DataFrame, group_cols: list[str]
) -> DataFrame:
    """state(A) ⊕ state(B): full-outer on the keys; counts/sums add
    (null = absent = identity), min/max via the null-skipping
    least/greatest.

    The join is NULL-SAFE on the keys (eqNullSafe, SQL's <=>): a NULL
    group key (null ts -> day_key) is a real group, and a plain
    column-name equi-join would never match its two sides — the old
    and new state rows would BOTH survive as duplicates instead of
    merging (hash/sort-merge joins support null-safe equality, so the
    plan shape is unchanged)."""
    import functools
    import operator

    has_hs = "hs" in old.columns
    has_hb = "hb" in old.columns
    o = old
    state = (
        list(STATE_COLS)
        + (["hs"] if has_hs else [])
        + (["hb"] if has_hb else [])
    )
    for c in list(group_cols) + state:
        o = o.withColumnRenamed(c, f"_o_{c}")
    cond = functools.reduce(
        operator.and_,
        [o[f"_o_{c}"].eqNullSafe(new[c]) for c in group_cols],
    )
    joined = o.join(new, cond, "full_outer")
    out = [
        # matched rows agree on the key (null-safe), so coalesce only
        # picks the side that exists — a both-sides-NULL key stays NULL
        *[
            F.coalesce(new[c], F.col(f"_o_{c}")).alias(c)
            for c in group_cols
        ],
        (F.coalesce("_o_n", F.lit(0)) + F.coalesce("n", F.lit(0))).alias("n"),
        (F.coalesce("_o_s", F.lit(0.0)) + F.coalesce("s", F.lit(0.0))).alias("s"),
        F.least("_o_mn", "mn").alias("mn"),
        F.greatest("_o_mx", "mx").alias("mx"),
    ]
    if has_hs:
        # sketch union is the state's ⊕; hll_union needs both sides
        # non-null, so one-sided rows pass their sketch through
        out.append(
            F.when(F.col("_o_hs").isNull(), F.col("hs"))
            .when(F.col("hs").isNull(), F.col("_o_hs"))
            .otherwise(F.hll_union("_o_hs", "hs"))
            .alias("hs")
        )
    if has_hb:
        # element-wise bucket-count add is the histogram's ⊕
        out.append(
            F.when(F.col("_o_hb").isNull(), F.col("hb"))
            .when(F.col("hb").isNull(), F.col("_o_hb"))
            .otherwise(
                F.zip_with("_o_hb", "hb", lambda a, b: a + b)
            )
            .alias("hb")
        )
    return joined.select(*out)


def refresh_agg_view(
    spark: SparkSession,
    path: str,
    delta: DataFrame | None,
    group_cols: list[str],
    value_col: str,
    partition_col: str | None = None,
    distinct_col: str | None = None,
    hist_bounds: tuple[float, float, int] | None = None,
    txn: tuple[str, int] | None = None,
    states: DataFrame | None = None,
) -> None:
    """Refresh the persisted view at ``path`` with ``delta``'s rows.

    ``txn = (app_id, batch_id)`` makes the refresh EXACTLY-ONCE under
    streaming replays (foreachBatch is at-least-once): a batch the
    view's latest manifest already records is skipped before ANY work
    runs — without it, a replayed delta would merge into the states a
    second time and silently double-count.  (`refresh_rollup` needs no
    marker: its cursor is the idempotency token — a replayed poll with
    the same cursor rebuilds the same partitions to the same values.)

    ``states`` (instead of ``delta``): the batch's partial-state frame
    PRE-BUILT by :func:`partial_states` with these exact group_cols /
    value_col / distinct_col / hist_bounds — the §2.6 overlap hook: a
    caller holding several pending batches can materialize batch N+1's
    states (an eager checkpoint) WHILE batch N's refresh commits,
    since the partial-agg of a batch depends only on its own rows,
    never on the view.  The merge/commit flow is unchanged, so the
    resulting view states are identical to the ``delta`` form; pass a
    MATERIALIZED frame (the internal diamond-cutting checkpoint is
    skipped for pre-built states).

    First call creates the view.  The view is a SNAPSHOT table
    (plans/snapshots.py, round 8): with ``partition_col`` (must be one
    of ``group_cols``) a refresh is ONE atomic ``snap_replace_values``
    commit over the partitions the delta touches — the view's files
    are value-clustered on the column, so untouched partitions' files
    are carried by name, byte-identical (mtime-pinned in tests).
    Because snapshot commits write new immutable files, the merge can
    READ the current version while writing the next — the
    materialize-before-overwrite checkpoint the dynamic-overwrite
    form needed is gone, and a reader mid-refresh sees either the old
    or the new version, never a torn mix."""
    from qurio_spark.plans.snapshots import (
        SnapConflict,
        _conflict_backoff,
        snap_txn_seen,
    )

    if txn is not None and snap_txn_seen(path, *txn):
        return  # replayed micro-batch: already merged into the view
    if hist_bounds is not None:
        _check_hist_bounds(path, hist_bounds)
    if (states is None) == (delta is None):
        raise ValueError("pass exactly one of delta / states")
    if states is not None:
        # a pre-built frame is trusted to be partial_states' output;
        # check its shape before anything commits (a missing or stray
        # state column would otherwise merge into a corrupt view)
        want = [*group_cols, "n", "s", "mn", "mx"]
        want += ["hs"] * (distinct_col is not None)
        want += ["hb"] * (hist_bounds is not None)
        if sorted(states.columns) != sorted(want):
            raise ValueError(
                f"states columns {states.columns} do not match the "
                f"partial_states shape {want} for this view definition"
            )
    new = states if states is not None else partial_states(
        delta, group_cols, value_col, distinct_col, hist_bounds
    )
    # OCC transform-rerun (the snap_mutate posture, lifted here
    # because the merge is computed OUTSIDE the commit helper): the
    # commit carries expect_version = the version the merge read; a
    # concurrent refresher moving the head raises SnapConflict and the
    # WHOLE read-merge-commit re-runs — a blind commit-retry would
    # replay a stale merge over the winner's delta (lost update), and
    # a lost creation race would append duplicate key rows
    for _attempt in range(12):
        _conflict_backoff(_attempt)
        try:
            _refresh_once(
                spark, path, new, group_cols, partition_col,
                distinct_col, hist_bounds, txn,
                pre_materialized=states is not None,
            )
            return
        except SnapConflict:
            continue
    raise RuntimeError(f"refresh contention on {path}: 12 rerounds lost")


def _refresh_once(
    spark, path, new, group_cols, partition_col, distinct_col,
    hist_bounds, txn, pre_materialized=False,
):
    from pyspark.sql import functions as F

    from qurio_spark.functions.checkpointing import checkpoint_df
    from qurio_spark.plans.snapshots import (
        _latest_version,
        snap_overwrite,
        snap_read,
        snap_replace_values,
        value_match,
    )

    v = _latest_version(path)
    expect = -1 if v is None else v
    old = None if v is None else snap_read(spark, path, v)
    if old is not None:
        # the optional states are part of the view DEFINITION: adding
        # one to an existing view would silently drop the new batch's
        # state column in merge_states (keyed off old.columns) while
        # appearing to succeed — refuse instead
        for flag, col_name, opt in (
            (distinct_col, "hs", "distinct_col"),
            (hist_bounds, "hb", "hist_bounds"),
        ):
            if flag is not None and col_name not in old.columns:
                raise ValueError(
                    f"view at {path} was created without {opt}; adding "
                    "it needs a full rebuild (old batches carry no "
                    f"{col_name} state)"
                )
            if flag is None and col_name in old.columns:
                raise ValueError(
                    f"view at {path} carries the {col_name} state; every "
                    f"refresh must pass {opt} (omitting it would merge "
                    "batches with mismatched state columns)"
                )
    if partition_col and old is not None and not pre_materialized:
        # `new` feeds BOTH the touched-values collect and the merge —
        # cut the diamond so the delta's partial-agg runs once (the
        # states frame is one small row per touched key); a caller-
        # materialized states frame is already diamond-safe
        new = checkpoint_df(new, eager=True)
    if old is None:
        if partition_col:
            snap_replace_values(spark, path, partition_col, [], new,
                                cluster=True, txn=txn,
                                expect_version=expect)
        else:
            snap_overwrite(new, path, txn=txn, expect_version=expect)
        return
    if partition_col:
        touched = [
            r[partition_col]
            for r in new.select(partition_col).distinct().collect()
        ]
        # value_match, not isin: a NULL partition key (null ts ->
        # day_key) must merge its OLD state too, or the replace would
        # drop the prior counts for the NULL partition
        old_touched = old.filter(value_match(F.col(partition_col), touched))
        merged = merge_states(old_touched, new, group_cols)
        snap_replace_values(
            spark, path, partition_col, touched, merged, cluster=True,
            txn=txn, expect_version=expect,
        )
    else:
        snap_overwrite(
            merge_states(old, new, group_cols), path, txn=txn,
            expect_version=expect,
        )


def _check_hist_bounds(path: str, hist_bounds) -> None:
    """Persist the view's histogram bounds next to its snapshot data
    (they are part of the view DEFINITION — states built under
    different bounds cannot merge) and refuse a refresh whose bounds
    differ from the recorded ones.  Routed through the table's
    COMMIT STORE (put-if-absent), so the definition record works on
    the same object-store primitives the commit protocol needs —
    no raw filesystem writes outside the store abstraction."""
    import json

    from qurio_spark.plans.commitstore import store_for

    st = store_for(path)
    rec = [float(hist_bounds[0]), float(hist_bounds[1]), int(hist_bounds[2])]
    data = json.dumps(rec).encode()
    if st.put_if_absent(path, "hist_bounds.json", data):
        return
    prev = json.loads(st.read(path, "hist_bounds.json"))
    if prev != rec:
        raise ValueError(
            f"histogram bounds {rec} differ from the view's "
            f"recorded bounds {prev}; a bounds change needs a "
            "full rebuild (bucket counts cannot be re-binned)"
        )


def read_hist_bounds(path: str) -> tuple[float, float, int]:
    import json

    from qurio_spark.plans.commitstore import store_for

    lo, hi, b = json.loads(store_for(path).read(path, "hist_bounds.json"))
    return lo, hi, int(b)


def quantile_estimates(
    spark: SparkSession,
    path: str,
    ps: list[float],
    round_digits: int = 2,
    version: int | None = None,
) -> DataFrame:
    """Read-time quantiles from the view's histogram state — pure
    column expressions (one ``aggregate`` walk of the bucket array
    per percentile, whole-stage codegen, no Python): rank = ceil(p·N)
    over the cumulative counts, linear interpolation inside the
    crossing bucket, clamped by the exact mn/mx states (which tightens
    the edge buckets).  Error ≤ one bucket width by construction.
    Output: the group columns + ``n`` + one ``p{NN}`` column per
    requested percentile."""
    from qurio_spark.functions.numeric import stable_round
    from qurio_spark.plans.snapshots import snap_read

    lo, hi, b = read_hist_bounds(path)
    width = (hi - lo) / b
    v = snap_read(spark, path, version)
    total = F.aggregate(
        "hb", F.lit(0).cast("long"), lambda a, x: a + x
    ).alias("__total")
    v = v.withColumn("__total", total)

    def est(p: float):
        target = F.greatest(
            F.lit(1).cast("long"),
            F.ceil(F.lit(float(p)) * F.col("__total")).cast("long"),
        )
        zero = F.lit(0).cast("long")
        walk = F.aggregate(
            "hb",
            F.struct(
                zero.alias("cum"),
                F.lit(0).alias("idx"),
                F.lit(-1).alias("fidx"),
                zero.alias("before"),
            ),
            lambda acc, x: F.struct(
                (acc["cum"] + x).alias("cum"),
                (acc["idx"] + 1).alias("idx"),
                F.when(
                    (acc["fidx"] < 0) & (acc["cum"] + x >= target),
                    acc["idx"],
                )
                .otherwise(acc["fidx"])
                .alias("fidx"),
                F.when(
                    (acc["fidx"] < 0) & (acc["cum"] + x >= target),
                    acc["cum"],
                )
                .otherwise(acc["before"])
                .alias("before"),
            ),
        )
        frac = (target - walk["before"]) / F.element_at(
            F.col("hb"), walk["fidx"] + 1
        )
        # edge buckets are CLAMP buckets (out-of-range values land
        # there), so their real extent is [mn, bucket_hi) / [bucket_lo,
        # mx] — interpolate against the exact mn/mx states instead of
        # the nominal bounds, or a heavy tail past hi would estimate
        # as ~hi with unbounded error
        b_lo = F.lit(lo) + walk["fidx"] * F.lit(width)
        b_hi = F.lit(lo) + (walk["fidx"] + 1) * F.lit(width)
        eff_lo = F.when(
            walk["fidx"] == 0, F.least(F.col("mn").cast("double"), b_lo)
        ).otherwise(b_lo)
        eff_hi = F.when(
            walk["fidx"] == F.lit(b - 1),
            F.greatest(F.col("mx").cast("double"), b_hi),
        ).otherwise(b_hi)
        raw = eff_lo + frac * (eff_hi - eff_lo)
        clamped = F.least(
            F.greatest(raw, F.col("mn").cast("double")),
            F.col("mx").cast("double"),
        )
        return F.when(F.col("__total") > 0, clamped)

    group_cols = [
        c
        for c in v.columns
        if c not in set(STATE_COLS) | {"hs", "hb", "__total"}
    ]
    return v.select(
        *group_cols,
        F.col("n"),
        *[
            stable_round(est(p), round_digits).alias(
                f"p{int(round(p * 100)):02d}"
            )
            for p in ps
        ],
    )


def _copy_hist_bounds(src_path: str, dst_path: str) -> None:
    """A rollup folds the fine view's histogram state, so it inherits
    the same bounds DEFINITION — copy the record so
    :func:`quantile_estimates` works on the coarse view too."""
    from qurio_spark.plans.commitstore import store_for

    src_st = store_for(src_path)
    if src_st.exists(src_path, "hist_bounds.json"):
        store_for(dst_path).put_if_absent(
            dst_path, "hist_bounds.json",
            src_st.read(src_path, "hist_bounds.json"),
        )


def rollup_states(src_states: DataFrame, dst_group_cols: list[str]) -> DataFrame:
    """Re-aggregate MERGEABLE states to a coarser key: because every
    persisted state is associative-commutative (count/sum add, min/max
    fold, HLL sketches union), a day row IS the ⊕ of its hour rows —
    no raw-event read ever happens above the first view."""
    aggs = [
        F.sum("n").cast("long").alias("n"),
        F.sum("s").cast("double").alias("s"),
        F.min("mn").alias("mn"),
        F.max("mx").alias("mx"),
    ]
    if "hs" in src_states.columns:
        aggs.append(F.hll_union_agg("hs").alias("hs"))
    if "hb" in src_states.columns:
        # histograms fold to coarser grains by element-wise add
        aggs.append(
            F.reduce(
                F.collect_list("hb"),
                F.lit(None).cast("array<long>"),
                lambda acc, x: F.when(acc.isNull(), x).otherwise(
                    F.zip_with(acc, x, lambda a, b: a + b)
                ),
            ).alias("hb")
        )
    return src_states.groupBy(*dst_group_cols).agg(*aggs)


def refresh_rollup(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    dst_group_cols: list[str],
    partition_col: str,
    cursor: int | None = None,
) -> int:
    """CASCADING materialized view (the TimescaleDB continuous-
    aggregate / Materialize hierarchy shape): maintain a COARSER
    rollup (e.g. daily) from a finer agg view (e.g. hourly) —
    consuming the fine view's CDC feed, never the raw events.

    ``cursor`` is the fine view's snapshot version this rollup has
    already consumed (``None`` = bootstrap: full re-aggregation of
    the fine view).  Each refresh polls
    :func:`~qurio_spark.plans.snapshots.snap_changes_since`: the
    change feed's rows name exactly the fine-state rows that moved,
    their ``partition_col`` values name the coarse partitions to
    rebuild, and the rebuild re-aggregates ONLY those partitions'
    fine rows — cost O(|changed fine rows| + |touched partitions| ×
    fan-in), independent of either view's total size (a day touches
    24 hour rows, never the events table).  The rebuilt partitions
    commit as one atomic value-clustered ``snap_replace_values`` (a
    partition whose fine rows all vanished empties correctly —
    replace deletes the touched values and inserts the recomputed
    rows, which for that value are none).  ``dst_group_cols`` must be
    columns of the fine view (the fine grain's keys carry their
    coarser derivations, e.g. hourly rows carry ``day_key``);
    ``partition_col`` must be one of them.  Returns the new cursor —
    store it, pass it back next poll (a cursor older than the fine
    view's retained history raises; re-bootstrap with ``None``, the
    Delta CDF contract)."""
    from qurio_spark.plans.snapshots import (
        _conflict_backoff,
        _latest_version,
        snap_changes_since,
        snap_read,
        snap_replace_values,
        value_match,
    )

    if partition_col not in dst_group_cols:
        raise ValueError(
            f"partition_col {partition_col!r} must be in dst_group_cols"
        )
    if cursor is None:
        from qurio_spark.plans.snapshots import SnapConflict

        v = _latest_version(src_path)
        if v is None:
            raise FileNotFoundError(f"no snapshot table at {src_path}")
        states = rollup_states(
            snap_read(spark, src_path, v), dst_group_cols
        )
        # RE-bootstrap onto an existing rollup (a lapsed cursor, per
        # the CDF contract) must REPLACE the old states, not append a
        # second copy: the replaced value set is every partition the
        # destination holds plus every partition the rebuild produces.
        # expect_version + rerun: a lost creation race (two processes
        # bootstrapping at once) would otherwise append a duplicate
        # copy through the values=[] fall-through
        for _battempt in range(12):
            _conflict_backoff(_battempt)
            dv = _latest_version(dst_path)
            existing = (
                None if dv is None else snap_read(spark, dst_path, dv)
            )
            values: list = []
            if existing is not None:
                values = [
                    r[partition_col]
                    for r in existing.select(partition_col)
                    .unionByName(states.select(partition_col))
                    .distinct()
                    .collect()
                ]
            try:
                snap_replace_values(
                    spark, dst_path, partition_col, values, states,
                    cluster=True,
                    expect_version=(-1 if dv is None else dv),
                )
                break
            except SnapConflict:
                continue
        else:
            raise RuntimeError(
                f"bootstrap contention on {dst_path}: 12 rerounds lost"
            )
        _copy_hist_bounds(src_path, dst_path)
        return v
    feed, new_cursor = snap_changes_since(spark, src_path, cursor)
    touched = [
        r[partition_col]
        for r in feed.select(partition_col).distinct().collect()
    ]
    if not touched:
        return new_cursor
    # pin the rebuild read to EXACTLY the version the cursor consumed:
    # a commit racing this refresh lands in the next poll, not half
    # into this rebuild
    rows = snap_read(spark, src_path, new_cursor).filter(
        value_match(F.col(partition_col), touched)
    )
    states = rollup_states(rows, dst_group_cols)
    snap_replace_values(
        spark, dst_path, partition_col, touched, states, cluster=True
    )
    _copy_hist_bounds(src_path, dst_path)
    return new_cursor


def read_agg_view(
    spark: SparkSession,
    path: str,
    round_digits: int = 2,
    version: int | None = None,
) -> DataFrame:
    """Read-time finals over the stored states: n, total (=s), avg
    (=s/n) — derived, never stored, so they are always consistent
    with the mergeable states.  ``version`` time-travels: the view is
    a snapshot table, so "the dashboard as of refresh N" is a pinned
    manifest read, not a recompute."""
    from qurio_spark.functions.numeric import stable_round
    from qurio_spark.plans.snapshots import snap_read

    v = snap_read(spark, path, version)
    state = set(STATE_COLS) | {"hs", "hb"}
    finals = [
        *[c for c in v.columns if c not in state],
        F.col("n"),
        stable_round(F.col("s"), round_digits).alias("total_value"),
        stable_round(F.col("s") / F.col("n"), round_digits).alias("avg_value"),
        stable_round(F.col("mn"), round_digits).alias("min_value"),
        stable_round(F.col("mx"), round_digits).alias("max_value"),
    ]
    if "hs" in v.columns:
        finals.append(F.hll_sketch_estimate("hs").alias("n_distinct"))
    return v.select(*finals)
