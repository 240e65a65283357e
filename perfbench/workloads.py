"""The two workloads. Each is a class with the hooks ``run.py`` calls:

* ``prepare(ctx, rep)``  input generation; run several times in set-up,
  the median counts toward ``setup_s``;
* ``warm_up(ctx)``       discarded warm-up operations (set-up, timed);
* ``check(ctx)``         untimed correctness against the DuckDB oracle;
* ``op(ctx, k, op_id)``  one timed operation; returns a record with
  ``rows`` and per-layer timings, ``wrong`` set on a failed check;
* ``stop(ctx, n, elapsed)``  whether the closed loop ends after n ops;
  each rule keeps the work per op the same from run to run;
* ``finish(ctx)``        end-of-run checks and the named metrics that no
  end-to-end metric already gives;
* ``ALIASES``            named metric -> (end-to-end metric it equals, unit);
  ``run.py`` reports these with the end-to-end value.

Spans wrap each call into a package layer; with tracing off they only
time. Job groups ``<op>/<phase>`` let the event log attribute stages.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time

import numpy as np

from harness import plan_phases, quantile, timing

GAP_S = 1800
CHUNK_S = 6 * 3600
# feature_build builds discarded before timing (the cold one included):
# build times keep falling for the first ~6 builds of a session while the
# JVM warms up, and timing that slope widened the run-to-run spread
WARM_UPS = 3
# timed builds per run at least, whatever --seconds says: with three (after
# two warm-ups) op_p50_s spread 0.23-0.27 of its median over ten seeds on a
# loaded host, with five (after three) 0.07
MIN_OPS = 5
MIN_PASSES = 2  # query_mix: timed passes per run at least, as MIN_OPS


def _named(ctx, name, xs, unit):
    """A named metric: median of per-op samples, with its count."""
    t = timing(xs)
    ctx.named[name] = {"value": t["p50"], "unit": unit, "n": t["n"]}


def _observe(df, with_hash=False):
    """``df`` with its row count (and an order-independent hash) observed
    on the pass that materializes it, and the Observation to read them."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    aggs = [F.count(F.lit(1)).alias("n")]
    if with_hash:
        aggs.append(F.sum(F.pmod(F.xxhash64(*df.columns), F.lit(1 << 40))).alias("h"))
    obs = Observation()
    return df.observe(obs, *aggs), obs


def _noop_write(df, with_hash=False):
    """Materialize every column through the noop sink; returns the
    observed (rows, hash)."""
    odf, obs = _observe(df, with_hash)
    odf.write.format("noop").mode("overwrite").save()
    got = obs.get
    return got["n"], got.get("h")


def _gen_turns(synth, n_convs, turns, seed):
    """``gen_transcripts`` cut to whole conversations up to ``turns`` rows.
    The Pareto tail moves the generated total by ~5% between seeds; a fixed
    amount of work keeps op latency comparable across seeds."""
    pdf = synth.gen_transcripts(n_convs=n_convs, seed=seed)
    ends = pdf.groupby("conv_id", sort=True).size().cumsum().to_numpy()
    cut = ends[min(int(np.searchsorted(ends, turns)), len(ends) - 1)]
    return pdf.iloc[:cut].reset_index(drop=True)


def _duckdb(ctx):
    """A DuckDB connection for oracle checks, spilling inside the work dir."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"SET temp_directory = '{ctx.work}/tmp/duckdb'")
    return con


def _timed_query(ctx, op_id, layer, build, with_hash=False):
    """Build a DataFrame, (traced: plan it explicitly), execute it through
    noop. Returns the op record: build/plan/exec seconds, rows, hash and
    (traced) the Catalyst phases."""
    tr = ctx.tracer
    rec = {}
    with tr.span(f"{layer}.build", group=f"{op_id}/build") as sp:
        df = build()
    rec["build_s"] = sp.elapsed
    if ctx.traced:
        with tr.span("catalyst.plan", group=f"{op_id}/plan") as sp:
            rec.update(plan_phases(df))
        rec["plan_s"] = sp.elapsed
    with tr.span("spark.exec", group=f"{op_id}/exec") as sp:
        n, h = _noop_write(df, with_hash)
    rec["exec_s"] = sp.elapsed
    rec["rows"], rec["hash"] = n, h
    return rec


# --------------------------------------------------------------- feature_build

class FeatureBuild:
    """Seeded ``gen_transcripts`` input (generator defaults: Pareto
    lengths, one hot conversation with ~10% of turns, 7% session gaps, 5%
    ts ties); each op rebuilds the ``jobs/build_features.py`` default
    strategy, ``asof_turn_features_hybrid`` at the library default
    hot threshold, into the noop sink."""

    N_CONVS = 4400  # generated; at least TURNS turns for every seed tried
    TURNS = 90_000  # kept: whole conversations up to this many turns
    ALIASES = {"build_p50_s": ("op_p50_s", "s"), "turns_per_s": ("rows_per_s", "turns/s")}

    def prepare(self, ctx, rep):
        from amazon_security_lake_transformation_library_spark.synth import transcripts as synth

        # the flagship oracle locates its fixture by scale factor
        self.sf = sf = self.N_CONVS / 40_000
        d = synth.fixture_dir(sf)  # under the redirected FIXTURE_ROOT
        os.makedirs(d, exist_ok=True)
        with ctx.tracer.span("synth.gen") as sp:
            pdf = _gen_turns(synth, self.N_CONVS, self.TURNS, ctx.seed)
            cf = synth.gen_conv_features(pdf)
        gen_s = sp.elapsed
        with ctx.tracer.span("synth.write_parquet") as sp:
            synth.write_parquet(pdf, os.path.join(d, "transcripts.parquet"))
            synth.write_parquet(cf, os.path.join(d, "conv_features.parquet"))
        with open(os.path.join(d, "_OK"), "w") as fh:
            fh.write("ok\n")
        ctx.layer.setdefault("synth.gen_s", []).append(gen_s)
        ctx.layer.setdefault("synth.write_parquet_s", []).append(sp.elapsed)
        self.dir = d
        self.turns = len(pdf)
        ctx.extra["turns"] = self.turns

    def _build(self, ctx):
        from amazon_security_lake_transformation_library_spark.operators import fused
        from amazon_security_lake_transformation_library_spark.operators.salted import time_chunk

        t = ctx.spark.read.parquet(f"{self.dir}/transcripts.parquet")
        cf = ctx.spark.read.parquet(f"{self.dir}/conv_features.parquet")
        return fused.asof_turn_features_hybrid(
            t, cf, time_chunk(chunk_seconds=CHUNK_S), gap_seconds=GAP_S
        )

    def _run(self, ctx, op_id):
        return _timed_query(ctx, op_id, "fused", lambda: self._build(ctx), with_hash=True)

    def warm_up(self, ctx):
        # the first, cold build is collected for check(), and its (rows,
        # hash), observed on the same pass, is what every later build must
        # repeat
        with ctx.tracer.span("fused.build", group="w0/build"):
            df = self._build(ctx)
        with ctx.tracer.span("spark.exec", group="w0/exec"):
            odf, obs = _observe(df, with_hash=True)
            self.first = odf.toArrow()
        got = obs.get
        self.ref = (got["n"], got["h"])
        for k in range(1, WARM_UPS):
            rec = self._run(ctx, f"w{k}")
            if (rec["rows"], rec["hash"]) != self.ref:
                ctx.fail(f"feature_build: warm-up build {k} differs from build 0")

    def check(self, ctx):
        """Whole-output equality of the first warm-up build with the DuckDB
        flagship oracle pointed at this run's fixture (untimed)."""
        import __spark_entry__ as entry

        os.environ["SPARK_GRAFT_ORACLE_SF"] = repr(self.sf)
        sql = entry._flagship_oracle_sql()
        if self.dir not in sql:
            ctx.fail("flagship oracle does not read this run's fixture")
            return
        got, self.first = self.first, None
        con = _duckdb(ctx)
        want = con.sql(sql).arrow()
        con.close()
        keys = [("conv_id", "ascending"), ("turn_idx", "ascending")]
        got = got.sort_by(keys)
        want = want.select(got.column_names).cast(got.schema).sort_by(keys)
        if got.num_rows != self.turns or not got.equals(want):
            bad = [c for c in got.column_names if not got[c].equals(want[c])]
            ctx.fail(f"feature_build: output differs from oracle in {bad or 'row count'}")
        if self.ref[0] != self.turns:
            ctx.fail(f"feature_build: first build counted {self.ref[0]} of {self.turns} turns")

    def op(self, ctx, k, op_id):
        rec = self._run(ctx, op_id)
        got = (rec["rows"], rec["hash"])
        if got != self.ref or rec["rows"] != self.turns:
            rec["wrong"] = f"(rows, hash) {got} != first build {self.ref}, {self.turns} turns"
        return rec

    def stop(self, ctx, n, elapsed):
        return elapsed >= ctx.seconds and n >= MIN_OPS

    def finish(self, ctx):
        pass  # build_p50_s and turns_per_s are aliases


# ------------------------------------------------------------ writer cell

class Snapshots:
    """The ``snapshot_append`` cell of query_mix. Set-up writes the turns
    of a seeded input once (pyarrow, no Spark) into a staging parquet
    partitioned by a synthetic day, a hash of the turn key; no feature
    operator runs, so the cell bypasses the fused layer. Each cycle commits
    the next day's slice through
    ``SnapshotWriter.commit(partition_cols=["eventday"])`` into the run's
    table, re-commits the same snapshot id (must return False) and reads
    the previous snapshot back with ``read_at``. A run commits one cycle
    per pass, and every run makes the same passes, so every run commits
    the same days into a table of the same size."""

    N_CONVS = 2200  # generated; at least TURNS turns for every seed tried
    TURNS = 45_000  # kept, as in feature_build
    N_DAYS = 64  # equal slices of ~700 turns

    def prepare(self, ctx):
        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq

        from amazon_security_lake_transformation_library_spark.synth import transcripts as synth

        with ctx.tracer.span("synth.gen") as sp:
            pdf = _gen_turns(synth, self.N_CONVS, self.TURNS, ctx.seed)
        gen_s = sp.elapsed
        # turns in hash order dealt round-robin to days: equal-size slices
        key = pd.util.hash_pandas_object(pdf[["conv_id", "turn_idx"]], index=False)
        day = np.empty(len(pdf), dtype="int64")
        day[np.argsort(key.to_numpy(), kind="stable")] = np.arange(len(pdf)) % self.N_DAYS
        days = pd.Timestamp("2024-01-01") + pd.to_timedelta(day, unit="D")
        pdf["eventday"] = np.asarray(days.strftime("%Y%m%d"))
        self.staging = os.path.join(ctx.work, "staging")
        shutil.rmtree(self.staging, ignore_errors=True)
        with ctx.tracer.span("synth.write_parquet") as sp:
            pq.write_to_dataset(pa.Table.from_pandas(pdf, preserve_index=False),
                                self.staging, partition_cols=["eventday"])
        ctx.layer.setdefault("synth.gen_s", []).append(gen_s)
        ctx.layer.setdefault("synth.write_parquet_s", []).append(sp.elapsed)
        counts = pdf["eventday"].value_counts()
        self.days = sorted(counts.index)
        self.day_rows = {d: int(n) for d, n in counts.items()}

    def start(self, ctx):
        from amazon_security_lake_transformation_library_spark.plans.writer import SnapshotWriter

        self.staged = ctx.spark.read.parquet(self.staging)
        self.table = os.path.join(ctx.work, "table")
        self.writer = SnapshotWriter(self.table)
        self.committed = [0]

    def cycle(self, ctx, op_id):
        from pyspark.sql import functions as F

        tr, spark, w = ctx.tracer, ctx.spark, self.writer
        k = len(self.committed) - 1
        sid = f"snap-{k:04d}"
        rec = {}
        df = self.staged.filter(F.col("eventday") == self.days[k])
        with tr.span("writer.commit", group=f"{op_id}/commit") as sp:
            ok = w.commit(df, snapshot_id=sid, partition_cols=["eventday"])
        rec["commit_s"] = sp.elapsed
        with tr.span("writer.noop_commit", group=f"{op_id}/noop") as sp:
            again = w.commit(df, snapshot_id=sid, partition_cols=["eventday"])
        rec["noop_commit_s"] = sp.elapsed
        n = self.day_rows[self.days[k]]
        self.committed.append(self.committed[-1] + n)
        prev = f"snap-{max(k - 1, 0):04d}"
        with tr.span("writer.read_at", group=f"{op_id}/read_at") as sp:
            seen = w.read_at(spark, prev).count()
        rec["read_at_s"] = sp.elapsed
        want_seen = self.committed[k] if k > 0 else n
        rec["rows"] = n
        snap_dir = os.path.join(w.data_path, f"snapshot_id={sid}")
        files = [os.path.join(dp, f) for dp, _, fs in os.walk(snap_dir) for f in fs
                 if f.endswith(".parquet")]
        rec["files"] = len(files)
        rec["bytes"] = sum(os.path.getsize(f) for f in files)
        errs = []
        if ok is not True:
            errs.append(f"commit({sid}) returned {ok}")
        if again is not False:
            errs.append(f"re-commit({sid}) returned {again}")
        if seen != want_seen:
            errs.append(f"read_at({prev}) saw {seen} rows, committed {want_seen}")
        if errs:
            rec["wrong"] = "; ".join(errs)
        return rec

    def finish(self, ctx, good):
        """Manifest, ``read()`` and ``committed_snapshots()`` against every
        commit of the run; the writer's named metrics over the timed
        cycles ``good``."""
        from pyspark.sql import functions as F

        spark, w = ctx.spark, self.writer
        with ctx.tracer.span("writer.manifest", op="finish"):
            mf = w.manifest(spark)
            man_rows = mf.count()
            man_total = mf.agg(F.sum("row_count")).first()[0]
        total = self.committed[-1]
        if man_total != total:
            ctx.fail(f"manifest row_count sum {man_total} != committed {total}")
        if w.read(spark).count() != total:
            ctx.fail("read() count != committed rows")
        if len(w.committed_snapshots(spark)) != len(self.committed) - 1:
            ctx.fail("committed_snapshots() does not list every commit")
        stored = sum(os.path.getsize(os.path.join(dp, f))
                     for dp, _, fs in os.walk(self.table) for f in fs)
        _named(ctx, "commit_p50_s", [r["commit_s"] for r in good], "s")
        _named(ctx, "read_at_p50_s", [r["read_at_s"] for r in good], "s")
        ctx.named["stored_bytes_per_turn"] = {
            "value": stored / total, "unit": "B", "n": len(self.committed) - 1,
        }
        ctx.extra.update(manifest_rows=man_rows, commits=len(self.committed) - 1,
                         stored_bytes=stored, committed_rows=total)


# ------------------------------------------------------------------ query_mix

class QueryMix:
    """A frozen list of ``queries()`` cells (``cells.py``) over the sf0.01
    tables frozen in ``perfbench/data``, plus the ``snapshot_append``
    writer cell; one discarded warm-up pass, then whole passes in a seeded
    rotated order. Every query's row count must equal the count of its
    DuckDB ``oracle_sql()`` entry; the writer cell checks itself."""

    ALIASES = {"query_p50_s": ("op_p50_s", "s"), "queries_per_s": ("ops_per_s", "1/s")}

    def prepare(self, ctx, rep):
        import __spark_entry__ as entry

        import cells

        self.sf_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
        # queries()/oracle_sql() materialize their fixtures on first use
        with ctx.tracer.span("entry.queries"):
            qs = entry.queries()
            self.oracles = entry.oracle_sql()
        self.queries = [c[0] for c in cells.CELLS]
        self.cells = self.queries + [cells.WRITER[0]]
        self.expect = {c[0]: c[1] for c in cells.CELLS}
        self.frozen = cells.FROZEN_ORACLE
        self.fns = {n: qs[n] for n in self.queries}
        self.snap = Snapshots()
        self.snap.prepare(ctx)

    def _run(self, ctx, name, op_id):
        from amazon_security_lake_transformation_library_spark import caching

        if name not in self.fns:
            rec = self.snap.cycle(ctx, op_id)
        else:
            rec = _timed_query(ctx, op_id, "entry", lambda: self.fns[name](ctx.spark, self.sf_dir))
            if rec["rows"] != self.expect[name]:
                rec["wrong"] = f"{name}: {rec['rows']} rows, oracle {self.expect[name]}"
        rec["cell"] = name
        # each op is timed self-contained, including its tracked persists
        with ctx.tracer.span("caching.release_all") as sp:
            caching.release_all()
        ctx.layer.setdefault("caching.release_s", []).append(sp.elapsed)
        return rec

    def check(self, ctx):
        """Re-derive each expected row count from its DuckDB oracle
        (untimed); a count that drifted from cells.py fails the run."""
        con = _duckdb(ctx)
        for t in ("region", "nation", "customer", "supplier", "part", "orders",
                  "lineitem", "events", "documents", "embeddings"):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
        t0 = time.perf_counter()
        for n in self.queries:
            if n in self.frozen:
                continue
            got = con.sql(f"SELECT count(*) FROM ({self.oracles[n]})").fetchone()[0]
            if got != self.expect[n]:
                ctx.fail(f"{n}: oracle gives {got} rows, cells.py records {self.expect[n]}")
        con.close()
        ctx.extra["oracle_s"] = time.perf_counter() - t0

    def warm_up(self, ctx):
        self.snap.start(ctx)
        cold = {}
        for i, n in enumerate(self.cells):
            t0 = time.perf_counter()
            rec = self._run(ctx, n, f"w{i}")
            cold[n] = time.perf_counter() - t0
            if rec.get("wrong"):
                ctx.fail(f"warm-up {rec['wrong']}")
        ctx.extra["cold_s"] = cold
        rng = random.Random(ctx.seed)
        self.offset = rng.randrange(len(self.cells))
        self.stride = rng.randrange(1, len(self.cells))
        ctx.extra["orders"] = []

    def _order(self, p):
        s = (self.offset + p * self.stride) % len(self.cells)
        return self.cells[s:] + self.cells[:s]

    def op(self, ctx, k, op_id):
        p, i = divmod(k, len(self.cells))
        order = self._order(p)
        if i == 0:
            ctx.extra["orders"].append(order)
        return self._run(ctx, order[i], op_id)

    def stop(self, ctx, n, elapsed):
        # whole passes only, so every run times the same multiset of cells
        # and commits the same snapshots; with one sample per cell the median
        # jumped between neighbouring cells and spread ~0.2 run to run
        passes = n // len(self.cells)
        return n % len(self.cells) == 0 and passes >= MIN_PASSES and elapsed >= ctx.seconds

    def finish(self, ctx):
        good = [r for r in ctx.ops if not r.get("wrong") and not r.get("error")]
        walls = [r["wall_s"] for r in good]
        # two passes of 13 cells: p90 has only two or three samples beyond it
        ctx.named["query_p90_s"] = {
            "value": quantile(walls, 0.9), "unit": "s", "n": len(walls),
            "beyond": sum(1 for w in walls if w > quantile(walls, 0.9)),
        }
        self.snap.finish(ctx, [r for r in good if r["cell"] not in self.fns])
        warm = {}
        for r in good:
            warm.setdefault(r["cell"], []).append(r["wall_s"])
        ctx.extra["warm_p50_s"] = {n: statistics.median(v) for n, v in warm.items()}
        ctx.extra["cold_vs_warm"] = {
            n: {"cold_s": ctx.extra["cold_s"][n],
                "warm_p50_s": ctx.extra["warm_p50_s"].get(n)}
            for n in ("curriculum_docs", "doc_lang_trigram")
        }


def get(name: str):
    return {"feature_build": FeatureBuild, "query_mix": QueryMix}[name]()
