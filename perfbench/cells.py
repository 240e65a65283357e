"""The frozen query_mix list: ``__spark_entry__.queries()`` cells run at
the sf0.01 tables in ``perfbench/data/sf0.01``, with the reason for each.

Each entry is (cell, expected rows, reason). The expected row count is the
``SELECT count(*)`` of the cell's DuckDB ``oracle_sql()`` entry over the
frozen tables. Set-up re-derives it from DuckDB for every cell not in
``FROZEN_ORACLE`` and fails the run if it drifted; kcore's oracle takes
48 s at sf0.01 (its peel), so its count is taken from this file.

A few cells per family are enough to move each layer; the list is short
so that the cold warm-up pass and two timed passes fit a run of under a
minute on a loaded 4-core host. ``pagerank_event_graph`` and
``dedup_clusters`` (the other eager cells, 4-9 s each) are left out for
that reason.

The order is the warm-up order: ``curriculum_docs`` runs first and
``doc_lang_trigram`` (first Python-UDF cell) second, so their warm-up
latencies are the cold-session and cold-Python-worker cases.
The writer cell ``WRITER`` runs last in the warm-up pass; timed passes
use a seeded rotation of the whole list.
"""

CELLS = [
    # cold vs warm questions
    ("curriculum_docs", 500, "first-cell warm-up bias suspect; cold vs warm answer"),
    ("doc_lang_trigram", 500, "pandas_udf (ArrowEvalPython); first Python-worker start"),
    # eager work: Spark jobs run while the DataFrame is built
    ("kcore_docs", 100, "eager: k-core peel, ~20 jobs per build"),
    # Python crossing
    ("ewma_events_grouped", 10000, "applyInPandas (FlatMapGroupsInPandas)"),
    ("kmv_distinct_users", 5, "mapInPandas sketch (KMV distinct count)"),
    # sliding-frame rolling windows
    ("rolling_1h_events", 10000, "RANGE 1h sliding frame"),
    ("rolling_median_value", 10000, "sliding-frame percentile"),
    # short pure-JVM cells: fixed per-query cost dominates
    ("gzip_line_scan", 15000, "gz text scan"),
    ("split_temporal_events", 10000, "filter + projection"),
    ("eventday_counts", 30, "group-by count"),
    ("lag_lead_events", 10000, "lag/lead window"),
    ("cumsum_events", 10000, "running-sum window"),
]

FROZEN_ORACLE = {"kcore_docs"}

# the writer cell (``workloads.Snapshots``): not a queries() cell, it checks
# its own commits, re-commits and read_at counts
WRITER = ("snapshot_append", "SnapshotWriter commit of one day slice, no-op "
          "re-commit, read_at of the previous snapshot; the writer layer")
