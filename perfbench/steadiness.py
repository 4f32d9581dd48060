"""Steadiness report: run each workload with several seeds and compare
every end-to-end metric's quartile spread with its bound.

    python3 perfbench/steadiness.py [--seeds 10] [--workloads a,b] [--trace]
                                    [--out perfbench/STEADINESS.md]

Run from the repository root.  Runs are sequential, one process each, as
the benchmark's own command.  The spread of a metric is
``(Q3 - Q1) / median`` over its per-run values, quartiles as
``statistics.quantiles(values, n=4)``; the benchmark wants it below a
third of the metric's bound (``setup_s`` is exempt).  ``--trace`` also
runs every seed traced and reports the tracing overhead: the traced
run's latency and throughput against the untraced ones.  Each run's row
also shows the CPU steal share over its measured window
(``cpu_steal_share`` from the run's ``# detail`` line), so a spread that
follows host contention can be told from one the program causes.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
# Wall-clock figures every run reports on its detail line; their spread
# is shown beside the gated metrics.
UNGATED = ("latency_p50_s", "throughput_per_s")


def one_run(workload: str, seed: int, seconds: int, trace: bool) -> tuple[dict, dict, float]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload]
    cmd += ["--seed", str(seed), "--seconds", str(seconds), "--trace", str(int(trace))]
    t = time.perf_counter()
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    detail = {}
    if len(lines) > 1 and lines[-2].startswith("# detail "):
        detail = json.loads(lines[-2][len("# detail ") :])
    return json.loads(lines[-1]), detail, wall


def main() -> int:
    from perfbench.stats import quartile_spread

    bench = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    seeds = range(args.first_seed, args.first_seed + args.seeds)

    report = [
        f"Seeds {seeds.start}..{seeds.stop - 1}, `--seconds {bench['run_seconds']}`, "
        f"{os.cpu_count()} CPUs.  Spread = (Q3 - Q1) / median over the runs.",
        "",
    ]
    ok = True
    for workload in args.workloads.split(","):
        runs, details, walls, traced = [], [], [], []
        for seed in seeds:
            res, detail, wall = one_run(workload, seed, bench["run_seconds"], False)
            print(workload, seed, f"{wall:.1f}s", json.dumps(res), file=sys.stderr, flush=True)
            ok &= res["correct"] and res["failed"] == 0
            runs.append(res)
            details.append(detail)
            walls.append(wall)
            if args.trace:
                tres, _d, _w = one_run(workload, seed, bench["run_seconds"], True)
                ok &= tres["correct"] and tres["failed"] == 0
                traced.append(tres["metrics"])
        names = list(bounds)
        report += [
            f"## {workload}",
            "",
            "| seed | wall s | " + " | ".join(names) + " | steal % |",
            "|---" * (len(names) + 3) + "|",
        ]
        for seed, res, detail, wall in zip(seeds, runs, details, walls):
            cells = [f"{res['metrics'][n]['value']:.4g}" for n in names]
            steal = 100 * detail.get("cpu_steal_share", float("nan"))
            report.append(f"| {seed} | {wall:.1f} | " + " | ".join(cells) + f" | {steal:.1f} |")
        report += [
            "",
            f"{len(runs)} runs, all correct: {all(r['correct'] for r in runs)}, "
            f"failed ops: {sum(r['failed'] for r in runs)} of {sum(r['attempted'] for r in runs)}; "
            f"wall per run: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s.",
            "",
            "| metric | median | spread | bound | spread / bound |",
            "|---|---|---|---|---|",
        ]
        for name, bound in bounds.items():
            vals = [r["metrics"][name]["value"] for r in runs]
            spread = quartile_spread(vals)
            report.append(
                f"| {name} | {statistics.median(vals):.4g} | {spread:.3f} | {bound} | "
                f"{spread / bound:.2f} |"
            )
            if name != "setup_s":
                ok &= spread < bound / 3
        for name in UNGATED:
            vals = [d[name] for d in details]
            report.append(
                f"| {name} (detail, not gated) | {statistics.median(vals):.4g} | "
                f"{quartile_spread(vals):.3f} | — | — |"
            )
        keys = sorted({k for d in details for k, v in d.items() if isinstance(v, (int, float))})
        report += ["", "Workload figures (median over runs): " + ", ".join(
            f"`{k}` {statistics.median(d[k] for d in details if k in d):.4g}" for k in keys
        )]
        if traced:
            untraced = {
                "latency_p50_s": [d["latency_p50_s"] for d in details],
                "cpu_s_per_op": [r["metrics"]["cpu_s_per_op"]["value"] for r in runs],
            }
            report += ["", "Tracing overhead (median traced / median untraced): " + ", ".join(
                f"`{m}` {statistics.median(t[f'traced.{m}']['value'] for t in traced) / statistics.median(v):.3f}"
                for m, v in untraced.items()
            )]
        report.append("")
    text = "\n".join(report)
    print(text)
    if args.out:
        with open(args.out, "w") as fh:
            fh.write("# Steadiness report\n\n" + text)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.path[0] = os.path.dirname(HERE)  # import the package from the repository root
    sys.exit(main())
