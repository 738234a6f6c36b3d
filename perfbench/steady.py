"""Steadiness check: repeats runs and reports each end-to-end metric's
median, quartiles and spread against its bound, and each run's drift.

  python3 perfbench/steady.py --workload interactive --seeds 1-10
  python3 perfbench/steady.py --workload interactive batch_10x --seeds 1-10 --json out.json

Spread is (Q3 - Q1) / median over the runs, with the quartiles of
statistics.quantiles(values, n=4). A metric is steady when its spread is
below a third of its bound.

Drift, per run: each read's latency relative to its template's median over
all runs of the set, then the median of the run's last third of reads
against the median of its first third, minus one. Every run reads the
templates in the same order, so a drift shared by every run (the JIT still
warming up through the timed phase, say) cancels: a run's drift shows a run
that slowed down or sped up as it went, against the others.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(workload, seed, seconds):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       capture_output=True, text=True)
    if p.returncode != 0:
        raise SystemExit(f"{workload} seed {seed} failed:\n{p.stderr[-3000:]}")
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    wall = float(next(ln for ln in lines if " wall_s " in ln).split()[2])
    with open(os.path.join(".bench_build", f"last-{workload}.json")) as f:
        reads = [(o["template"], o["ms"]) for o in json.load(f)["ops"] if o["kind"] == "read"]
    return result, wall, reads


def drifts(runs):
    """Each run's drift, as the module docstring defines it."""
    by_tpl = {}
    for *_, reads in runs:
        for t, ms in reads:
            by_tpl.setdefault(t, []).append(ms)
    med = {t: statistics.median(v) for t, v in by_tpl.items()}
    out = []
    for *_, reads in runs:
        rel = [ms / med[t] for t, ms in reads]
        third = len(rel) // 3
        out.append(statistics.median(rel[-third:]) / statistics.median(rel[:third]) - 1.0)
    return out


def summarize(spec, workload, runs):
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    rows = []
    for name, bound in bounds.items():
        vals = [r["metrics"][name]["value"] for r, *_ in runs]
        q1, med, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med
        rows.append(dict(metric=name, unit=runs[0][0]["metrics"][name]["unit"], median=med,
                         q1=q1, q3=q3, spread=spread, bound=bound,
                         steady=spread < bound / 3, values=vals))
    failed = [r["failed"] / r["attempted"] for r, *_ in runs]
    return dict(workload=workload, metrics=rows, drift=drifts(runs),
                wall_s=[w for _, w, _ in runs], failed_share=failed,
                correct=all(r["correct"] for r, *_ in runs),
                read_ms=[ms for *_, reads in runs for _, ms in reads])


def histogram(xs, edges=(100, 150, 200, 250, 300, 400, 500, 700, 1000, 1500, 2500)):
    """Counts of read latencies (ms) per bucket, as markdown rows."""
    lo, out = 0, []
    for hi in list(edges) + [float("inf")]:
        n = sum(1 for x in xs if lo <= x < hi)
        if n:
            out.append(f"| {lo:g}-{hi:g} | {n} | {'#' * max(1, round(60 * n / len(xs)))} |")
        lo = hi
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", nargs="+", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--json")
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    seconds = a.seconds or spec["run_seconds"]
    report = []
    for w in a.workload:
        runs = []
        for s in seeds(a.seeds):
            runs.append(run_once(w, s, seconds))
            print(f"{w} seed {s}: wall {runs[-1][1]:.1f} s", file=sys.stderr)
        summary = summarize(spec, w, runs)
        report.append(summary)
        print(f"\n{w}: {len(runs)} runs, correct={summary['correct']}, failed share "
              f"{sorted(set(summary['failed_share']))}, wall median "
              f"{statistics.median(summary['wall_s']):.1f} s")
        print("| metric | unit | median | Q1 | Q3 | spread | bound | steady |")
        print("|---|---|---|---|---|---|---|---|")
        for m in summary["metrics"]:
            print(f"| {m['metric']} | {m['unit']} | {m['median']:.4g} | {m['q1']:.4g} | "
                  f"{m['q3']:.4g} | {m['spread']:.3f} | {m['bound']} | "
                  f"{'yes' if m['steady'] else 'NO'} |")
        print("drift per run: " + " ".join(f"{d:+.3f}" for d in summary["drift"]))
        print(f"\nread latency histogram, {len(summary['read_ms'])} reads:\n")
        print("| ms | reads | |\n|---|---|---|")
        print("\n".join(histogram(summary["read_ms"])))
    if a.json:
        with open(a.json, "w") as f:
            json.dump(report, f, indent=1)


if __name__ == "__main__":
    main()
