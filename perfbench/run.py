"""The repository benchmark.

    python3 perfbench/run.py --workload {ingest,query} --seed N --seconds S --trace {0,1}

Run from the root of a checkout. It builds seeded inputs, runs one workload
closed-loop for about ``--seconds`` seconds, checks every sampled result
against the float64 BM25 oracle and prints a report. The last line of
standard output is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` -- the end-to-end metrics of BENCHMARK.json with
``--trace 0``, its per-layer metrics with ``--trace 1``. Each run also
writes its spans and per-layer table to ``.perfbench_results/``.
See perfbench/README.md for what each metric measures.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SETUP_SPANS = ("setup.session", "setup.datagen", "setup.index", "query.wand.open")
LAYER_KEYS = ("jobs", "stages", "tasks", "task_s", "python_s", "shuffle_bytes",
              "spill_bytes", "input_rows")
LEG_LAYER = ("wall_s", "driver_s", *LAYER_KEYS, "skew")
SPLIT_LEGS = 3  # legs 1-3 are Spark calls on every workload: map/reduce split
BOUNDED_LEGS = 4  # legs 1-4 are end-to-end metrics; the last is reported only
UNITS = {"wall_s": "s", "driver_s": "s", "task_s": "s", "python_s": "s",
         "map_task_s": "s", "reduce_task_s": "s", "jobs": "count",
         "stages": "count", "tasks": "count", "shuffle_bytes": "B",
         "spill_bytes": "B", "input_rows": "count", "skew": "ratio"}


def call_table(run, stats: dict) -> dict[str, dict]:
    """Per span: its wall time and, for Spark calls in a traced run, what
    its job group did (``stats`` from eventlog.reduce_groups)."""
    rows = {}
    for s in run.spans:
        st = stats.get(s.group)
        row = {"wall_s": s.dur, "cpu_s": s.cpu}
        if st is not None:
            row.update({k: getattr(st, k) for k in LAYER_KEYS})
            row.update(map_task_s=st.map_task_s, reduce_task_s=st.reduce_task_s,
                       skew=st.skew, driver_s=max(0.0, s.dur - st.covered_s(s.t0, s.t1)))
        rows.setdefault(s.name, []).append(row)
    return rows


def leg_samples(run, leg, calls: dict) -> list[dict]:
    """One row per cycle of the leg: its spans' rows summed (skew: max)."""
    per_span = [calls.get(name, []) for name in leg.spans]
    out = []
    for parts in zip(*per_span):
        row: dict = {}
        for p in parts:
            for k, v in p.items():
                row[k] = max(row.get(k, 0.0), v) if k == "skew" else row.get(k, 0) + v
        if not leg.spark:
            # no jobs: all of the call is driver-side Python work
            row.update(dict.fromkeys(LAYER_KEYS, 0), skew=1.0,
                       driver_s=row["wall_s"], task_s=row["cpu_s"],
                       python_s=row["cpu_s"])
        out.append(row)
    return out


def med(rows: list[dict], key: str) -> float:
    return statistics.median(r.get(key, 0.0) for r in rows)


def assemble(run, outcome, stats: dict) -> tuple[dict, dict, dict, dict]:
    """(end-to-end metrics, per-layer metrics, per-leg and per-call
    summaries)."""
    from perfbench.harness import summarize

    calls = call_table(run, stats)
    setup_s = sum(s.dur for s in run.spans if s.name in SETUP_SPANS)
    e2e = {"setup_s": (setup_s, "s"), "peak_rss_mb": (run.peak_rss_mb(), "MB")}
    layer = {}
    legs = {}
    for n, leg in enumerate(outcome.legs, 1):
        rows = leg_samples(run, leg, calls)
        if not rows:  # a report-only leg the run skipped
            continue
        legs[f"leg{n}_ms {leg.name}"] = summarize([1000.0 * r["wall_s"] for r in rows])
        if n <= BOUNDED_LEGS:
            e2e[f"leg{n}_ms"] = (1000.0 * med(rows, "wall_s"), "ms")
        for k in LEG_LAYER:
            layer[f"leg{n}.{k}"] = (med(rows, k), UNITS[k])
        if n <= SPLIT_LEGS:
            for k in ("map_task_s", "reduce_task_s"):
                layer[f"leg{n}.{k}"] = (med(rows, k), "s")
    for phase in ("session", "datagen", "index"):
        layer[f"setup.{phase}_s"] = (
            sum(s.dur for s in run.spans if s.name == f"setup.{phase}"), "s")
    table = {name: {k: summarize([r[k] for r in rows]) for k in rows[0]}
             for name, rows in calls.items()}
    return e2e, layer, legs, table


def _summary(s: dict) -> str:
    tail = " ".join(f"{p}={v:.6g}" for p, v in s.items() if p not in ("n", "p50"))
    return f"p50={s['p50']:.6g} {tail + ' ' if tail else ''}n={s['n']}"


def report(run, outcome, e2e: dict, legs: dict, table: dict, env: dict,
           overhead: dict) -> list[str]:
    """Human-readable lines printed before the result line."""
    lines = [f"# perfbench {run.workload} seed={run.seed} trace={int(run.trace)} "
             + " ".join(f"{k}={v}" for k, v in env.items())]
    for name, (v, unit) in e2e.items():
        lines.append(f"{name:<32} {v:>14.6g} {unit}")
    for name, s in legs.items():
        lines.append(f"{name:<48} {_summary(s)}")
    for name, v in outcome.details.items():
        lines.append(f"{name:<32} {v:>14.6g}")
    lines.append(f"{'ops_failed_frac':<32} {outcome.failed / max(outcome.attempted, 1):>14.6g}"
                 f"  ({outcome.failed}/{outcome.attempted})")
    for what in outcome.failures:
        lines.append(f"# FAILED {what}")
    for what in outcome.notes:
        lines.append(f"# SPARK LN IDF {what}")
    for name, cols in sorted(table.items()):
        for k, s in cols.items():
            lines.append(f"{name + '.' + k:<48} {_summary(s)}")
    for name, (d, share) in overhead.items():
        lines.append(f"trace overhead {name:<17} {d:+.6g} ({share:+.1%})")
    return lines


def _untraced_result(results: str, workload: str, seed: int) -> str | None:
    """The untraced result a traced run is compared with: the same seed's,
    else the workload's most recent."""
    same = os.path.join(results, f"{workload}-seed{seed}-trace0.json")
    if os.path.isfile(same):
        return same
    others = glob.glob(os.path.join(results, f"{workload}-seed*-trace0.json"))
    return max(others, key=os.path.getmtime) if others else None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "lucene_mapreduce_spark", "__init__.py")):
        print(f"perfbench: no lucene_mapreduce_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import eventlog, harness, workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    run = harness.Run.create(ROOT, args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        try:
            outcome = workloads.WORKLOADS[args.workload](run)
        finally:
            run.stop_session()  # flushes the event log
        stats = eventlog.reduce_groups(eventlog.read_events(run.eventlog_dirs))
        e2e, layer, legs, table = assemble(run, outcome, stats)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        run.close()

    results = os.path.join(ROOT, ".perfbench_results")
    overhead = {}
    untraced = _untraced_result(results, args.workload, args.seed) if args.trace else None
    if untraced:
        with open(untraced) as f:
            base = json.load(f)["end_to_end"]
        overhead = {k: (v - base[k][0], (v - base[k][0]) / base[k][0])
                    for k, (v, _) in e2e.items() if base.get(k, [0])[0]}
    env = harness.environment(ROOT, args.seed)
    harness.write_json(
        os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
        {"env": env, "end_to_end": e2e, "per_layer": layer, "details": outcome.details,
         "spark_ln_idf": outcome.notes,
         "legs": legs, "calls": table, "trace_overhead": overhead, "failures": outcome.failures,
         "spans": [vars(s) for s in run.spans], "written_at": time.time()},
    )
    for line in report(run, outcome, e2e, legs, table, env, overhead):
        print(line)
    metrics = layer if args.trace else e2e
    print(json.dumps({
        "correct": outcome.failed == 0,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
