"""Compare two benchmark result files layer by layer.

    python3 perfbench/diff.py BASE.json NEW.json

Files are the records ``run.py`` writes to ``perfbench/out``, of the same
workload and trace mode. Prints only the metrics that moved by more than
their bound:

* an end-to-end metric against its ``bound`` in ``BENCHMARK.json``;
* a named workload metric that is not an alias of an end-to-end metric
  (``commit_p50_s``, ``read_at_p50_s``, ``query_p90_s``) against the bound
  of ``op_p50_s``, and ``stored_bytes_per_turn`` against the largest bound;
  lower is better for all four;
* ``error_rate``: any increase is worse;
* a per-layer metric, a span self time or ``peak_rss_mb`` against the
  largest bound, ignoring moves smaller than ``ABS_FLOOR``. These have no
  direction and are only reported.

Exit status 1 when an end-to-end or named metric got worse beyond its
bound or ``error_rate`` rose, 2 when the files are not comparable.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))

# named metric -> the end-to-end metric whose bound it uses (None: the
# largest bound); lower is better for each
NAMED_BOUND = {
    "commit_p50_s": "op_p50_s", "read_at_p50_s": "op_p50_s",
    "query_p90_s": "op_p50_s", "stored_bytes_per_turn": None,
}
# per-layer and self-time moves below this (s, count or MB) are noise
ABS_FLOOR = 0.005


def load_bench() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        return {m["name"]: m for m in json.load(fh)["end_to_end"]}


def values(rec: dict) -> dict[str, tuple[str, float]]:
    """(kind, value) for every comparable number in a result record;
    aliases of end-to-end metrics are compared once, as those metrics."""
    out = {}
    for k, m in rec["metrics"].items():
        out[k] = ("metric", m["value"])
    for k, m in rec["report"].get("named", {}).items():
        if m.get("value") is not None and "alias_of" not in m:
            out[f"named:{k}"] = ("named", m["value"])
    for k, v in rec["report"].get("layer_self_s", {}).items():
        out[f"self:{k}"] = ("self", v)
    return out


def compare(base: dict, new: dict, bench: dict) -> tuple[list[str], bool]:
    layer_bound = max(m["bound"] for m in bench.values())
    lines, worse_any = [], False
    a, b = values(base), values(new)
    for key in sorted(set(a) & set(b)):
        kind, va = a[key]
        _, vb = b[key]
        if va is None or vb is None or va == vb:
            continue
        rel = (vb - va) / abs(va) if va else float("inf")
        name = key.split(":", 1)[-1]
        if kind == "metric" and name in bench:
            bound, higher = bench[name]["bound"], bench[name]["better"] == "higher"
        elif kind == "named" and name == "error_rate":
            bound, higher = 0.0, False
        elif kind == "named" and name in NAMED_BOUND:
            src = NAMED_BOUND[name]
            bound, higher = (bench[src]["bound"] if src else layer_bound), False
        else:
            if abs(vb - va) < ABS_FLOOR:
                continue
            bound, higher = layer_bound, None
        if abs(rel) <= bound:
            continue
        if higher is None:
            verdict = "moved"
        else:
            got_worse = rel < 0 if higher else rel > 0
            verdict = "WORSE" if got_worse else "better"
            worse_any |= got_worse
        lines.append(f"{verdict:>6}  {key:<40} {va:>14.6g} -> {vb:<14.6g} "
                     f"({rel:+.1%}, bound {bound:.0%})")
    return lines, worse_any


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if len(argv) != 2:
        print(__doc__.strip().splitlines()[2].strip(), file=sys.stderr)
        return 2
    recs = []
    for path in argv:
        with open(path) as fh:
            recs.append(json.load(fh))
    ka, kb = ((r["report"]["workload"], r["report"]["traced"]) for r in recs)
    if ka != kb:
        print(f"error: (workload, traced) differ ({ka} vs {kb})", file=sys.stderr)
        return 2
    lines, worse = compare(recs[0], recs[1], load_bench())
    print(f"{ka[0]}: {len(lines)} move(s) beyond bound")
    # the host-window bracket: a move inside a slower window is the host
    for tag, rec in zip(("base", "new"), recs):
        rep = rec["report"]
        print(f"  host {tag}: " + ", ".join(
            f"{k} {rep['probe_before'][k]:.4g} -> {rep['probe_after'][k]:.4g}"
            for k in rep["probe_before"]))
    for line in lines:
        print(line)
    return 1 if worse else 0


if __name__ == "__main__":
    sys.exit(main())
