"""Point-in-time (as-of) join — the core operator the north rule adds on
top of the reference's per-row schema-normalization surface (which has no
record-to-record join at all, SURVEY.md §2.B).

Semantics
---------
For each probe row ``(entity, ts)`` attach the build-side row with the
largest ``build.ts`` such that ``build.ts <= probe.ts`` (``strict=True``
uses ``<``). Leakage-free by construction: no probe row can observe a build
row with a strictly greater timestamp; ties resolve per the strict flag.
:func:`asof_join` also takes pandas ``merge_asof``'s ``direction=``.
Every form is left-outer (a probe row with nothing visible keeps NULL
build columns), and every build side must be unique per ``(entity, ts)``
— pre-shrink with :func:`latest_per_key` (latest-wins matches the
reference oracle and pandas ``merge_asof``). An output column that already
exists on the probe side (outside the keys and ``ts``) raises
``ValueError`` instead of emitting two columns with one name.

Two bodies
----------
1. ``_union_fill`` — **union + last-non-null window**, behind
   :func:`asof_join`, :func:`asof_join_stacked` and
   :func:`asof_join_skinny`. Tag probe rows side 1 and build rows side 0
   or 2, union by name, fill each build payload struct over ``(entity)
   ORDER BY (ts, side)``, keep probe rows. Cost: ONE shuffle on entity +
   one sort over n_probe + n_build rows, whatever the number of payloads.
   Caveat (measured, BASELINE.md §7.12): that Exchange does NOT become a
   no-op over bucketed inputs — Spark does not propagate bucketing
   through a Union.
2. ``_interval_join`` — build rows become half-open validity intervals
   ``[ts, next_ts)`` via ``lead(ts)`` and a left sort-merge join matches
   each probe row to EXACTLY ONE interval, behind
   :func:`asof_join_interval` and :func:`asof_join_over_intervals`. The
   only window runs on the build side, so over a conv_id-bucketed
   ts-sorted probe the probe side needs neither Exchange nor Sort (what
   plans/bucketed.flagship_bucketed pins).

Spark has no native ASOF JOIN (as of 4.1); both bodies are plain
DataFrame rewrites — Catalyst still gets full pushdown/pruning on inputs.

Streaming: the interval forms take a streaming probe unchanged. Their one
window runs on the static build side, so the stream side is a plain
stream-static left join — no watermark, no join state (batch equivalence
pinned in tests/test_streaming.py). Spark re-executes the static side's
plan on every micro-batch, so a widened skinny log
(:func:`skinny_to_intervals`) must be ``.persist()``-ed, or written and
re-read, before :func:`asof_join_over_intervals` joins it to a stream;
otherwise the widening re-runs per micro-batch. Refresh = unpersist, widen
the new log, persist again. No hot-entity router is needed there: a
micro-batch bounds the per-entity probe count.

Scale notes: the union window partitions by entity only, so a
pathologically hot entity serializes in one task — the flagship's
chunk-and-carry path (operators/fused.py, ``hot_threshold_rows``) handles
single entities that exceed task-sized row counts.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.timeops import epoch_seconds

_B = "__asof_payload"
_SIDE = "__asof_side"
_NEXT = "__next_ts"
# per-source matched build timestamp column: ``{source}_asof_ts``
_TS = "_asof_ts"


def latest_per_key(
    df: DataFrame,
    keys: Sequence[str],
    order: Sequence[str],
    payload: Sequence[str],
) -> DataFrame:
    """Deterministically dedupe to one row per key: the row with the
    lexicographically-largest ``order`` tuple wins (max over a struct —
    a single hash aggregate with map-side partials, no window/sort).
    """
    win = F.max(F.struct(*[F.col(c) for c in order], *[F.col(c) for c in payload]))
    agg = df.groupBy(*keys).agg(win.alias("__w"))
    return agg.select(*keys, *[F.col(f"__w.{c}").alias(c) for c in [*order, *payload]])


def _keys(on: str | Sequence[str]) -> list[str]:
    return [on] if isinstance(on, str) else list(on)


def _spine(
    probe: DataFrame, keys: list[str], ts: str, added: Sequence[str]
) -> list[str]:
    """``keys, ts, <other probe columns>``: the probe part of an as-of
    output. Raises ``ValueError`` when an ``added`` output column is one
    of the other probe columns."""
    rest = [c for c in probe.columns if c not in {*keys, ts}]
    clash = [c for c in added if c in rest]
    if clash:
        raise ValueError(
            f"as-of output column(s) {clash} already exist on the probe "
            "side; rename or drop them before the join"
        )
    return [*keys, ts, *rest]


def _union_fill(
    probe: DataFrame,
    builds: Sequence[DataFrame],
    keys: list[str],
    ts: str,
    build_tag: int,
    fills: dict[str, tuple[Column, bool]],
) -> DataFrame:
    """Union the probe rows (side 1) with every frame of ``builds`` (side
    ``build_tag``), fill over ONE ``partitionBy(keys).orderBy(ts, side)``
    window, keep the probe rows. Build tag 0 sorts a build row at T
    before the probes at T (visible to them), 2 after (invisible to a
    backward fill, visible to a forward one).

    Each build frame carries only ``keys``, ``ts`` and struct columns, so
    its payload never meets a probe column of the same name;
    ``unionByName(allowMissingColumns=True)`` NULL-fills what a side
    lacks. ``fills`` maps a name to ``(expr, ahead)``: the last non-NULL
    ``expr`` at or before the row, or with ``ahead`` the first at or after
    it. All frames share the window's partitioning and order, so Catalyst
    plans one Exchange and one Sort. Returns the probe columns followed by
    one column per fill.
    """
    sides = [b.withColumn(_SIDE, F.lit(build_tag)) for b in builds]
    sides.append(probe.withColumn(_SIDE, F.lit(1)))
    unioned = reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), sides
    )
    w = Window.partitionBy(*keys).orderBy(ts, _SIDE)
    back = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    fwd = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    cols = [
        (F.first(e, ignorenulls=True).over(fwd) if ahead
         else F.last(e, ignorenulls=True).over(back)).alias(name)
        for name, (e, ahead) in fills.items()
    ]
    return (
        unioned.select("*", *cols)
        .filter(F.col(_SIDE) == 1)
        .select(*probe.columns, *fills)
    )


def _interval_join(
    probe: DataFrame,
    iv: DataFrame,
    on: str,
    ts: str,
    start_col: str,
    strict: bool,
) -> DataFrame:
    """Left-join each probe row to the one interval ``[start_col,
    __next_ts)`` of its entity that holds its ``ts``. Non-strict matches
    the interval starting AT the probe ts; strict takes the PREVIOUS
    interval (the state strictly before ts)."""
    _spine(probe, [on], ts, [c for c in iv.columns if c != on])
    b = iv.withColumnRenamed(on, f"__b_{on}")
    lo, hi, t = F.col(start_col), F.col(_NEXT), F.col(ts)
    cond = (
        (F.col(on) == F.col(f"__b_{on}"))
        & ((lo < t) if strict else (lo <= t))
        & (hi.isNull() | ((t <= hi) if strict else (t < hi)))
    )
    return probe.join(b, cond, "left").drop(f"__b_{on}", _NEXT)


def asof_join(
    probe: DataFrame,
    build: DataFrame,
    on: str | Sequence[str] = "conv_id",
    ts: str = "ts",
    build_cols: Sequence[str] | None = None,
    strict: bool = False,
    tolerance_seconds: float | None = None,
    asof_ts_col: str = "asof_ts",
    direction: str = "backward",
) -> DataFrame:
    """Union-fill as-of join with pandas ``merge_asof``'s ``direction``:

    * ``backward`` — latest build row with ``build.ts <= probe.ts``
      (``<`` when ``strict``).
    * ``forward`` — EARLIEST build row with ``build.ts >= probe.ts``
      (``>`` when ``strict``). The label-attachment direction: "first
      outcome observed at-or-after this turn".
    * ``nearest`` — whichever of the backward/forward candidates is
      closer in absolute time; exact distance ties resolve BACKWARD (the
      leakage-safe side). ``strict`` must be False — an equal-ts row is
      distance 0 by definition.

    ``tolerance_seconds`` bounds the match distance in the direction
    (nearest: applied to each candidate before choosing). Output: probe
    columns, ``asof_ts_col`` (the matched build ts) and ``build_cols``.

    Side tags: backward-visible build rows sort BEFORE equal-ts probes
    (side 0) to land in the running frame; forward-visible ones sort
    AFTER them (side 2) to land in the ``(currentRow,
    unboundedFollowing)`` frame ``first(ignorenulls)`` reads. ``strict``
    flips the tag so equal-ts rows fall outside the direction's frame.
    ``nearest`` uses 0: the backward frame catches equal-ts rows at
    distance 0, which win any comparison, so the forward frame only needs
    strictly-later rows. Both frames share one window: ONE Exchange + ONE
    Sort (pinned in
    tests/test_asof.py::test_directional_plan_single_exchange_sort).
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"unknown direction: {direction!r}")
    if direction == "nearest" and strict:
        raise ValueError("direction='nearest' requires strict=False")
    keys = _keys(on)
    if build_cols is None:
        build_cols = [c for c in build.columns if c not in {*keys, ts}]
    spine = _spine(probe, keys, ts, [asof_ts_col, *build_cols])

    tag = {
        "backward": 2 if strict else 0,
        "forward": 0 if strict else 2,
        "nearest": 0,
    }[direction]
    fills = {}
    if direction != "forward":
        fills["__fb"] = (F.col(_B), False)
    if direction != "backward":
        fills["__ff"] = (F.col(_B), True)
    payload = F.struct(F.col(ts).alias(asof_ts_col), *build_cols).alias(_B)
    filled = _union_fill(
        probe, [build.select(*keys, ts, payload)], keys, ts, tag, fills
    )

    def dist_back(f):
        return epoch_seconds(F.col(ts)) - epoch_seconds(f[asof_ts_col])

    def dist_fwd(f):
        return epoch_seconds(f[asof_ts_col]) - epoch_seconds(F.col(ts))

    fb, ff = F.col("__fb"), F.col("__ff")
    if tolerance_seconds is not None:
        fb = F.when(dist_back(fb) <= float(tolerance_seconds), fb)
        ff = F.when(dist_fwd(ff) <= float(tolerance_seconds), ff)
    if direction == "backward":
        fill = fb
    elif direction == "forward":
        fill = ff
    else:
        # closer candidate wins; equal distance -> backward; one-sided
        # NULLs fall through to the surviving side
        fill = (
            F.when(fb.isNull(), ff)
            .when(ff.isNull(), fb)
            .when(dist_fwd(ff) < dist_back(fb), ff)
            .otherwise(fb)
        )
    return filled.select(
        *spine,
        fill[asof_ts_col].alias(asof_ts_col),
        *[fill[c].alias(c) for c in build_cols],
    )


def asof_join_interval(
    probe: DataFrame,
    build: DataFrame,
    on: str = "conv_id",
    ts: str = "ts",
    build_cols: Sequence[str] | None = None,
    strict: bool = False,
    asof_ts_col: str = "asof_ts",
) -> DataFrame:
    """Interval form of the backward as-of join, built for pre-partitioned
    sorted layouts (conv_id-bucketed, ts-sorted tables): the build side
    becomes half-open validity intervals ``[ts, next_ts)`` via
    ``lead(ts)`` — an in-partition window that, over a bucketed sorted
    scan, needs NO Exchange and NO Sort — and the sort-merge join then
    matches each probe row to EXACTLY ONE interval. Same output columns as
    :func:`asof_join` (probe columns, ``asof_ts_col``, ``build_cols``).

    Why not a range join (entity equality + ``build.ts <= probe.ts``, then
    a dedup window): it enumerates every (probe x earlier build) pair per
    entity — per-entity QUADRATIC. On a 10.15M-turn input with a 3.54M-row
    build side it pushed 226.9M rows (22x the probe count) through its
    dedup window; the interval form emits 10.15M, one per probe.

    With duplicate ``(on, ts)`` build rows, ``lead`` over the tied
    timestamps is not deterministic — dedupe upstream.
    """
    if build_cols is None:
        build_cols = [c for c in build.columns if c not in {on, ts}]
    w = Window.partitionBy(on).orderBy(asof_ts_col)
    iv = build.select(
        on, F.col(ts).alias(asof_ts_col), *build_cols
    ).withColumn(_NEXT, F.lead(asof_ts_col).over(w))
    return _interval_join(probe, iv, on, ts, asof_ts_col, strict)


def asof_join_stacked(
    probe: DataFrame,
    builds: "dict[str, DataFrame]",
    on: str | Sequence[str] = "conv_id",
    ts: str = "ts",
    build_cols: "dict[str, Sequence[str]] | None" = None,
    strict: bool = False,
) -> DataFrame:
    """Single-pass multi-table point-in-time join: attach, to every probe
    row, the as-of-latest row from EACH of K feature tables, in ONE
    shuffle + ONE sort total.

    The feature-store spine-assembly shape (a label spine enriched from K
    independently-updated feature tables). Chaining K
    :func:`asof_join_interval` calls costs K Exchanges + K Sorts on an
    unbucketed layout. Here each build table carries its own payload
    struct and K ``last(..., ignorenulls=True)`` calls share ONE window:
    one Exchange over ``n_probe + sum(n_build_k)`` rows, one Sort, one
    Window, regardless of K (pinned in tests/test_asof_stacked.py). For
    bucketed or oversized probe tables use
    :func:`asof_join_skinny_intervals`, whose probe side is Exchange-free.

    Output columns: each source ``s``'s payload column ``c`` appears as
    ``{s}_{c}``, plus ``{s}_asof_ts`` (the matched build timestamp, NULL
    when no build row is as-of-visible).
    """
    keys = _keys(on)
    cols = {
        s: list(build_cols[s]) if build_cols and s in build_cols
        else [c for c in b.columns if c not in {*keys, ts}]
        for s, b in builds.items()
    }
    names = {s: [f"{s}{_TS}", *[f"{s}_{c}" for c in cols[s]]] for s in builds}
    spine = _spine(probe, keys, ts, [n for s in builds for n in names[s]])
    sides = [
        b.select(*keys, ts, F.struct(
            F.col(ts).alias(f"{s}{_TS}"),
            *[F.col(c).alias(f"{s}_{c}") for c in cols[s]],
        ).alias(f"__stk_{s}"))
        for s, b in builds.items()
    ]
    filled = _union_fill(
        probe, sides, keys, ts, 2 if strict else 0,
        {f"__f_{s}": (F.col(f"__stk_{s}"), False) for s in builds},
    )
    return filled.select(
        *spine,
        *[F.col(f"__f_{s}")[n].alias(n) for s in builds for n in names[s]],
    )


def asof_join_skinny(
    probe: DataFrame,
    build: DataFrame,
    sources: Sequence[str],
    source_col: str = "feature",
    value_col: str = "value",
    on: str | Sequence[str] = "conv_id",
    ts: str = "ts",
    strict: bool = False,
) -> DataFrame:
    """Point-in-time join against a SKINNY feature log — one table of
    ``(entity, ts, feature_name, value)`` rows, the EAV layout a feature
    store's ingestion actually lands (every feature pipeline appends to
    one log; no per-feature table exists until someone pivots one).

    Same semantics as :func:`asof_join_stacked` (for each probe row and
    each ``s`` in ``sources``, the latest visible build row with
    ``source_col == s``), but because all K features live in one table
    the plan needs no per-source branch: K ``last(when(source == s,
    payload), ignorenulls=True)`` calls share one window — ONE Exchange +
    ONE Sort + ONE Window on top of a single scan. That Exchange covers
    n_probe + n_log rows and does NOT vanish over bucketed inputs (see
    :func:`asof_join_skinny_intervals` for the form whose shuffle is
    proportional to the log only).

    ``build`` must be unique per ``(on, source_col, ts)``; rows whose
    ``source_col`` is not in ``sources`` are ignored (filter pushed into
    the scan). Output: probe columns + ``{s}_asof_ts`` and
    ``{s}_{value_col}`` per source.
    """
    keys = _keys(on)
    names = [(f"{s}{_TS}", f"{s}_{value_col}") for s in sources]
    spine = _spine(probe, keys, ts, [n for pair in names for n in pair])
    log = build.filter(F.col(source_col).isin(list(sources))).select(
        *keys, ts, F.col(source_col).alias("__src"),
        F.struct(F.col(ts).alias("a"), F.col(value_col).alias("v")).alias(_B),
    )
    filled = _union_fill(
        probe, [log], keys, ts, 2 if strict else 0,
        {
            f"__f_{i}": (F.when(F.col("__src") == s, F.col(_B)), False)
            for i, s in enumerate(sources)
        },
    )
    return filled.select(*spine, *[
        F.col(f"__f_{i}")[field].alias(n)
        for i, pair in enumerate(names) for field, n in zip("av", pair)
    ])


def skinny_to_intervals(
    log: DataFrame,
    sources: Sequence[str],
    source_col: str = "feature",
    value_col: str = "value",
    on: str = "conv_id",
    ts: str = "ts",
) -> DataFrame:
    """Collapse a skinny EAV feature log into piecewise-constant
    K-VECTOR validity intervals: one row per ``(entity, change_ts)``
    carrying the current value (and its own update ts) of EVERY source
    at that instant, valid over ``[change_ts, __next_ts)``.

    Built from the single-pass form itself — the probe side is the
    log's own distinct change points, widened by
    :func:`asof_join_skinny`, then ``lead(ts)`` closes the intervals.
    Cost: one Exchange + Sort over ~|log| rows and a K+2-column output —
    proportional to the FEATURE LOG, never the probe table. Feeds
    :func:`asof_join_over_intervals`; persist it when many probes or a
    stream reuse it (module docstring).
    """
    changes = (
        log.filter(F.col(source_col).isin(list(sources)))
        .select(on, ts)
        .distinct()
    )
    wide = asof_join_skinny(
        changes, log, sources, source_col=source_col, value_col=value_col,
        on=on, ts=ts,
    )
    w = Window.partitionBy(on).orderBy(ts)
    return wide.withColumn(_NEXT, F.lead(F.col(ts)).over(w))


def asof_join_skinny_intervals(
    probe: DataFrame,
    log: DataFrame,
    sources: Sequence[str],
    source_col: str = "feature",
    value_col: str = "value",
    on: str = "conv_id",
    ts: str = "ts",
    strict: bool = False,
) -> DataFrame:
    """K-feature point-in-time assembly from a skinny EAV log via
    PRE-WIDENED validity intervals — same output as
    :func:`asof_join_skinny`, different physical contract: the probe
    table is NEVER shuffled or sorted.

    Why it exists: the union-fill form cannot go zero-Exchange over a
    bucketed layout — Spark does not propagate bucketing through a Union,
    so even with probe AND log bucketed and sorted on the entity, the
    union's window still plans one Exchange + Sort over n_probe + n_log
    rows (pinned in
    tests/test_asof_stacked.py::test_skinny_intervals_bucketed_probe_no_exchange).
    Here the log is widened first (:func:`skinny_to_intervals` — one
    Exchange over ~|log| rows) and the probe side is a sort-merge interval
    join: over a conv_id-bucketed ts-sorted probe table the probe-side
    Exchange AND Sort both vanish, so total shuffle is proportional to
    the feature log, never the turns. At 10^12 probe turns against a
    10^9-row feature log that asymmetry IS the operator.

    Prefer :func:`asof_join_skinny` when probe and log are comparably
    sized and unbucketed (one pass, no join); prefer this form when the
    probe table is bucketed or much larger than the log.
    """
    iv = skinny_to_intervals(
        log, sources, source_col=source_col, value_col=value_col,
        on=on, ts=ts,
    )
    return asof_join_over_intervals(probe, iv, on=on, ts=ts, strict=strict)


def asof_join_over_intervals(
    probe: DataFrame,
    intervals: DataFrame,
    on: str = "conv_id",
    ts: str = "ts",
    strict: bool = False,
) -> DataFrame:
    """The STATELESS half of the interval strategy: match each probe row
    to exactly one pre-widened K-vector validity interval (the output of
    :func:`skinny_to_intervals`) via a left sort-merge interval join.
    Split out so callers that reuse one widened table across many probes
    — a stream, or a batch probe fanned over a persisted per-refresh
    interval snapshot — pay the widening once instead of per join.
    """
    iv = intervals.withColumnRenamed(ts, "__iv_ts")
    return _interval_join(probe, iv, on, ts, "__iv_ts", strict).drop("__iv_ts")


def asof_join_skinny_routed(
    probe: DataFrame,
    log: DataFrame,
    sources: Sequence[str],
    source_col: str = "feature",
    value_col: str = "value",
    on: str = "conv_id",
    ts: str = "ts",
    strict: bool = False,
    hot_threshold_changes: int = 1024,
    hot_broadcast_limit: int | None = 1_000_000,
) -> DataFrame:
    """Hot-entity-safe K-feature assembly: route each entity to the
    strategy whose cost model it fits, then union the (identically
    shaped) results.

    The interval SMJ (:func:`asof_join_skinny_intervals`) keeps the
    probe shuffle-free but pays O(p_e × b_e) band comparisons per
    entity — measured catastrophic on hot conversations (BASELINE.md
    §7.13: one 136k-probe × 45k-interval conversation ran its shard
    10× longer than its peers). The union-fill form
    (:func:`asof_join_skinny`) is O((p_e + b_e) log) per entity but
    shuffles the probe. So entities whose CHANGE-POINT count ``b_e``
    reaches ``hot_threshold_changes`` take the union path and the tail
    keeps the interval path. The router's pre-pass aggregates the LOG
    only, and the hot set is broadcast for the semi/anti splits, so
    routing costs the probe two broadcast-filtered scans, no shuffle.

    The broadcast assumes the hot set is SMALL, so the persisted key set
    is counted first (one log-agg-sized action) and the splits fall back
    to shuffle semi/anti joins above ``hot_broadcast_limit`` keys;
    ``None`` skips the count and always broadcasts.
    """
    keys = _keys(on)
    lg = log.filter(F.col(source_col).isin(list(sources)))
    hot_keys = (
        lg.groupBy(*keys)
        .agg(F.count_distinct(F.col(ts)).alias("__b"))
        .filter(F.col("__b") >= F.lit(hot_threshold_changes))
        .select(*keys)
    )
    if hot_broadcast_limit is not None:
        from ..caching import persist_tracked

        hot_keys = persist_tracked(hot_keys)
        n_hot = hot_keys.count()
        hot = hot_keys if n_hot > hot_broadcast_limit else F.broadcast(hot_keys)
    else:
        hot = F.broadcast(hot_keys)
    kw = dict(
        sources=sources, source_col=source_col, value_col=value_col,
        on=on, ts=ts, strict=strict,
    )
    out_hot = asof_join_skinny(
        probe.join(hot, keys, "left_semi"),
        lg.join(hot, keys, "left_semi"),
        **kw,
    )
    out_tail = asof_join_skinny_intervals(
        probe.join(hot, keys, "left_anti"),
        lg.join(hot, keys, "left_anti"),
        **kw,
    )
    return out_tail.unionByName(out_hot)
