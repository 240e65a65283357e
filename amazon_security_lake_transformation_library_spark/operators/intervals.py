"""General many-to-many interval-overlap join, binned for scale.

The as-of family (operators/asof.py) answers *point-in-interval* lookups;
this module answers the symmetric question — which intervals on the left
overlap which intervals on the right — without ever forming the cartesian
product. It is the time-overlap analogue of a range join (DuckDB/Trino
``l.start <= r.end AND r.start <= l.end``), and the building block for
"concurrent sessions", "job overlapped an incident window", and
eval-window × train-window temporal-contamination audits.

Scale design
------------
* **Epoch binning** (:func:`overlap_join`): each interval is exploded to
  the fixed-width time bins it touches (``sequence(floor(start/w),
  floor(end/w))``), and the join runs on ``bin`` (+ optional equi-keys) —
  a plain hash/sort-merge equi-join whose per-bin fanout is bounded by
  interval density, never |L|×|R|.
* **First-common-bin dedup, no ``distinct``**: a pair overlapping k bins
  would match k times; instead of a post-join ``distinct`` (a second
  full shuffle of the result), we keep a match only in the bin
  ``floor(max(l_start, r_start) / w)``. Overlap means
  ``max(starts) <= min(ends)``, so that bin is touched by BOTH intervals
  — every overlapping pair survives in exactly one bin, and the
  duplicate elimination costs one comparison per joined row, zero
  shuffles.
* **Bin width** is a throughput knob, not a correctness knob: too wide
  → more in-bin candidate pairs rejected by the residual predicate; too
  narrow → more explode fanout per interval. Set ``bin_seconds`` near
  the median interval length. The residual overlap predicate keeps the
  result exact for ANY width.
* Closed-interval semantics (touching endpoints overlap), matching the
  SQL oracle ``l.start <= r.end AND r.start <= l.end``.

Reference parity: the reference library (transformation_function/app.py)
has no join surface at all; this is part of the SURVEY.md §2.D
training-pipeline extension inventory.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["overlap_join", "sessions_to_intervals"]


def sessions_to_intervals(
    sessions: DataFrame,
    entity: str | Sequence[str] = "user_id",
    session_col: str = "session_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Collapse sessionized rows (features.sessionize output) to one
    ``(entity..., session_id, start_ts, end_ts, n_rows)`` interval per
    session — a single hash aggregate with map-side partial min/max."""
    keys = [entity] if isinstance(entity, str) else list(entity)
    return sessions.groupBy(*keys, session_col).agg(
        F.min(ts_col).alias("start_ts"),
        F.max(ts_col).alias("end_ts"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def _epoch(col):
    # microsecond-exact epoch seconds as double: unix_timestamp truncates
    # sub-second parts, which would make two intervals that only touch in
    # the fractional part disagree with the SQL oracle's epoch comparison.
    # The conversion is monotone and injective on microsecond timestamps
    # (ulp of an epoch-seconds double ≈ 0.5 µs), so comparisons are exact.
    # NTZ columns need the intermediate timestamp cast (NTZ → DOUBLE is
    # not a legal direct cast).
    return F.col(col).cast("timestamp").cast("double")


def overlap_join(
    left: DataFrame,
    right: DataFrame,
    l_start: str = "start_ts",
    l_end: str = "end_ts",
    r_start: str = "start_ts",
    r_end: str = "end_ts",
    bin_seconds: int = 3600,
    keys: Sequence[str] | None = None,
    anti: bool = False,
) -> DataFrame:
    """All (left, right) pairs whose closed intervals overlap
    (``l_start <= r_end AND r_start <= l_end``), optionally restricted to
    equal ``keys``. Exact for any ``bin_seconds`` (see module docstring);
    each overlapping pair is emitted exactly once (first-common-bin rule,
    no post-join distinct). Left/right column names must be disjoint
    apart from ``keys`` — rename before calling (a shared name raises
    ``ValueError``).

    ``anti=True`` returns the LEFT rows with no overlapping right
    interval (temporal decontamination form): the matched left keys are
    collected by a semi-join on the same binned plan, then anti-joined —
    the raw pair blow-up never materializes beyond the match probe.
    """
    keys = list(keys or [])
    shared = [c for c in left.columns if c in right.columns and c not in keys]
    if shared:
        raise ValueError(
            f"overlap_join: left and right share non-key column(s) {shared}; "
            "rename them before the join"
        )
    w = float(bin_seconds)

    def binned(df: DataFrame, start: str, end: str) -> DataFrame:
        s, e = _epoch(start), _epoch(end)
        return df.withColumn(
            "__bin",
            F.explode(
                F.sequence(
                    F.floor(s / F.lit(w)).cast("long"),
                    F.floor(e / F.lit(w)).cast("long"),
                )
            ),
        )

    lb = binned(left, l_start, l_end)
    rb = binned(right, r_start, r_end).withColumnRenamed("__bin", "__rbin")
    cond = lb["__bin"] == rb["__rbin"]
    for k in keys:
        cond = cond & (lb[k] == rb[k])

    joined = lb.join(rb, cond)
    # residual exact-overlap predicate + first-common-bin dedup
    first_bin = F.floor(
        F.greatest(_epoch(l_start), _epoch(r_start)) / F.lit(w)
    ).cast("long")
    pairs = joined.where(
        (_epoch(l_start) <= _epoch(r_end))
        & (_epoch(r_start) <= _epoch(l_end))
        & (lb["__bin"] == first_bin)
    )
    if anti:
        # left rows whose (keys + interval) matched nothing; the hit set
        # is one row per matched left interval (semi-style), tiny vs pairs
        probe_cols = keys + [l_start, l_end]
        hit = pairs.select(*[lb[c] for c in probe_cols]).distinct()
        return left.join(hit, probe_cols, "left_anti")
    out = pairs.drop("__bin", "__rbin")
    for k in keys:
        out = out.drop(rb[k])
    return out
