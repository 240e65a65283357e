"""Storage-partitioned flagship: conv_id-bucketed, ts-sorted tables make
the LAKEHOUSE LAYOUT do the shuffle (SURVEY.md §4.2 "shuffle-free as-of
via storage layout"; the north rule's "sort-merge over conv_id-bucketed,
ts-sorted Iceberg partitions" — ``bucketBy``/``saveAsTable`` is the
offline stand-in for Iceberg's ``bucket(N, conv_id)`` partition
transform, same physical contract: scan reports hash partitioning +
per-bucket sort order).

Why this matters at 100 TB: the fused in-memory flagship needs exactly ONE
Exchange (operators/fused.py); over bucketed-sorted storage even that one
disappears — the feature window block, the build-side interval window, and
the as-of sort-merge join all consume the scan's partitioning/ordering
directly (zero Exchange AND zero Sort in the executed plan).
The write pays the shuffle ONCE; every subsequent feature build, backfill,
or point-in-time audit over the table pays zero. Plan shape is pinned by
tests/test_plans_quality.py::test_bucketed_flagship_zero_exchange.

One file per bucket: the writer repartitions by the bucket expression
first (same murmur3-pmod hash bucketBy uses), so each task holds exactly
one bucket and Spark's scan can expose the ``sortBy`` order (multi-file
buckets lose the sorted property and re-Sort, though never re-Exchange).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.asof import asof_join_interval
from ..operators.features import build_turn_features
from ..operators.fused import _chunk_and_carry, _hot_set, _out_columns
from ..operators.salted import time_chunk


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_col: str = "conv_id",
    n_buckets: int = 8,
    sort_cols: tuple[str, ...] = ("conv_id", "ts", "turn_idx"),
    path: str | None = None,
) -> None:
    """One-shuffle bucketed-sorted write; the shuffle this pays is the one
    every downstream read skips."""
    w = (
        df.repartition(n_buckets, F.col(bucket_col))
        .write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, bucket_col)
        .sortBy(*sort_cols)
    )
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)


def register_bucketed_table(
    spark: SparkSession,
    table: str,
    path: str,
    bucket_col: str = "conv_id",
    n_buckets: int = 8,
    sort_cols: tuple[str, ...] = ("conv_id", "ts", "turn_idx"),
) -> None:
    """Re-attach an ALREADY-WRITTEN bucketed layout to a fresh session's
    catalog without rewriting a byte (the in-memory catalog forgets tables
    between sessions; the files — whose names carry the bucket ids Spark's
    bucketed writer assigned — do not). This is the offline stand-in for an
    Iceberg catalog lookup: layout metadata lives with the table, sessions
    come and go.

    The declared ``n_buckets`` is VALIDATED against the bucket ids Spark's
    bucketed writer embedded in the part-file names (``..._00003.c000``):
    registering an on-disk N-bucket layout under a different declared
    count would make the zero-Exchange SMJ silently assume a
    co-partitioning that does not hold — wrong results, not just a slow
    plan. Raises ValueError on mismatch or when the directory carries no
    bucketed part files at all."""
    import os
    import re

    bucket_ids = set()
    for f in os.listdir(path):
        m = re.match(r"part-\d+-.*_(\d{5})\.c\d+.*\.parquet$", f)
        if m:
            bucket_ids.add(int(m.group(1)))
    if not bucket_ids:
        raise ValueError(
            f"{path} holds no bucketed part files (…_NNNNN.c000…): refusing "
            f"to register a non-bucketed layout as a bucketed table"
        )
    observed = max(bucket_ids) + 1
    if observed != n_buckets:
        raise ValueError(
            f"{path} was written with {observed} buckets (max embedded bucket "
            f"id {observed - 1}) but n_buckets={n_buckets} was declared. "
            f"(A trailing empty bucket could under-report `observed`, but our "
            f"writer produces one file per non-empty bucket and hash "
            f"bucketing leaves no empty buckets at any realistic row count.)"
        )
    schema_ddl = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in spark.read.parquet(path).schema.fields
    )
    spark.sql(
        f"CREATE TABLE `{table}` ({schema_ddl}) USING parquet "
        f"CLUSTERED BY (`{bucket_col}`) "
        f"SORTED BY ({', '.join(f'`{c}`' for c in sort_cols)}) "
        f"INTO {n_buckets} BUCKETS LOCATION '{path}'"
    )


def ensure_flagship_tables(
    spark: SparkSession,
    transcripts: DataFrame,
    conv_features: DataFrame,
    t_table: str,
    cf_table: str,
    n_buckets: int = 8,
    path_root: str | None = None,
) -> None:
    """Idempotent at two levels: a table already in the catalog is left
    alone; a layout already ON DISK (path_root given, _SUCCESS marker
    present) is re-registered without rewriting; only a genuinely missing
    layout pays the write shuffle."""
    import os

    if spark.catalog.tableExists(t_table) and spark.catalog.tableExists(cf_table):
        return
    specs = [
        (transcripts, t_table, ("conv_id", "ts", "turn_idx")),
        (conv_features, cf_table, ("conv_id", "ts")),
    ]
    for df, table, sort_cols in specs:
        path = f"{path_root}/{table}" if path_root else None
        if spark.catalog.tableExists(table):
            continue
        if path and os.path.exists(f"{path}/_SUCCESS"):
            register_bucketed_table(
                spark, table, path, n_buckets=n_buckets, sort_cols=sort_cols
            )
        else:
            write_bucketed_table(
                df, table, n_buckets=n_buckets, sort_cols=sort_cols, path=path
            )


def flagship_bucketed(
    spark: SparkSession,
    t_table: str,
    cf_table: str,
    gap_seconds: int = 1800,
    hot_threshold_rows: int | None | str = "auto",
    chunk_seconds: int = 6 * 3600,
    comparisons_budget: int = 1 << 28,
    min_hot_threshold: int = 4096,
) -> DataFrame:
    """The full flagship block over bucketed-sorted tables with ZERO
    Exchange: window feature block + interval-form sort-merge as-of
    (operators/asof.asof_join_interval: build rows become [ts, next_ts)
    validity intervals via an in-partition lead(), so each probe matches
    exactly one build row — no quadratic pair enumeration, no dedup
    window) — identical output to ``fused.asof_turn_features`` on the
    same rows (column-for-column; pinned by tests/test_fused.py and
    test_plans_quality.py).

    History: this path originally used asof_join_range, whose per-entity
    (probe x earlier-builds) enumeration materialized 22x the probe rows
    on a 10M-turn input (226.9M intermediate rows) and went per-entity
    QUADRATIC on hot conversations (a 10%-hot 9k-turn conversation turned
    a 2 s job into 200+ s). The interval join removes the materialized
    blowup; the SMJ still evaluates candidate pairs per entity as cheap
    narrow comparisons, and bucketing cannot split an entity — so hot
    entities are now ROUTED, not just documented: a one-hash-agg pre-pass
    (salted.hot_entities — Exchange-free, the bucketed scan already hash-
    partitions on conv_id) finds entities above ``hot_threshold_rows``;
    the tail keeps the zero-Exchange SMJ plan (broadcast anti-join
    preserves the scan's partitioning AND ordering), the hot slice runs
    the fused block's chunk-and-carry plan, and the two branches union.
    The probe is the one ``fused.asof_turn_features`` runs.
    ``hot_threshold_rows=None`` disables the pre-pass (pure cold plan).
    With no hot entities present the returned plan is byte-identical to
    the unrouted one — the common case pays one tiny agg job, zero plan
    change.

    ``hot_threshold_rows="auto"`` (the default since r5) derives the
    threshold from the join's COST MODEL instead of a row-count
    constant. The r4 constant (1M rows) missed an 81,325-turn
    conversation that still serialized its task for ~14 s (BASELINE.md
    §7.17's 0.746 cell): the interval SMJ's per-entity cost is
    p_e x b_e pair evaluations — QUADRATIC in the entity, since
    b_e ~ rate x p_e where rate = |build| / |probe| — so the harmful
    entity size depends on the build density, not on any fixed row
    count. Auto solves rate x p_e^2 <= comparisons_budget:
    ``threshold = sqrt(budget / rate)`` (two metadata-cheap counts; the
    default 2^28 budget caps any entity's join work at ~1-2 s of one
    core — at the 81M-turn layout's rate 1/3 that lands at ~28k rows and
    catches the straggler, while mean-20-turn corpora stay untouched and
    keep the byte-identical cold plan)."""
    # Expose the per-bucket sortBy order from the scan (off by default
    # since multi-file buckets cannot guarantee it; our writer guarantees
    # one file per bucket). Scoped to bucketed scans only — no effect on
    # non-bucketed plans in the session.
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    t = spark.table(t_table)
    cf = spark.table(cf_table)

    def _cold(tc: DataFrame, cfc: DataFrame) -> DataFrame:
        # merge hint: force the sort-merge join ON THIS JOIN ONLY (a
        # broadcast would also be exchange-free here, but at 10^12 turns
        # the build side is one row per conversation — far beyond
        # broadcast; SMJ over co-bucketed scans is the plan that survives
        # scale). A hint, not spark.sql.autoBroadcastJoinThreshold, so
        # other joins in the session keep their auto-broadcast plans.
        feats = build_turn_features(tc, gap_seconds=gap_seconds)
        out = asof_join_interval(
            feats,
            cfc.hint("merge"),
            on="conv_id",
            ts="ts",
            build_cols=["feature_val"],
        )
        return out.select(
            *_out_columns(tc, "conv_id", "ts", "asof_ts", ["feature_val"])
        )

    if hot_threshold_rows == "auto":
        import math

        rate = cf.count() / max(t.count(), 1)
        hot_threshold_rows = max(
            min_hot_threshold,
            int(math.sqrt(comparisons_budget / max(rate, 1e-9))),
        )
    # one Exchange-free agg job over the bucketed scan
    hot = _hot_set(t, "conv_id", hot_threshold_rows)
    if hot is None:
        return _cold(t, cf)
    hot_b = F.broadcast(hot)
    cold_out = _cold(
        t.join(hot_b, "conv_id", "anti"), cf.join(hot_b, "conv_id", "anti")
    )
    hot_out = _chunk_and_carry(
        t.join(hot_b, "conv_id", "semi"),
        cf.join(hot_b, "conv_id", "semi"),
        time_chunk(chunk_seconds=chunk_seconds),
        gap_seconds=gap_seconds,
    )
    return cold_out.unionByName(hot_out.select(*cold_out.columns))
