#!/usr/bin/env python3
"""Summarizes benchmark result files as a markdown table.

    python3 perfbench/report.py [results_dir] > summary.md

results_dir defaults to .bench_build/results. For every workload: each
end-to-end metric's median and quartile spread over the untraced runs
(spread = (q3 - q1) / median, with statistics.quantiles(n=4)) and per
run, with the untraced cold pass, the warm-up and warm passes (marking
those the host disturbed) and the share of host CPU time stolen by other
guests; warm item latency over
all runs, at the median and at the highest percentile with ten samples
beyond it; the per-layer metrics of the traced runs; the
tracing overhead (traced pass_s over the untraced median); and every
failed item with its error class.
"""
import json
import statistics
import sys
from collections import defaultdict
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import metrics  # noqa: E402


def load(results_dir):
    runs = defaultdict(lambda: {0: [], 1: []})
    for f in sorted(Path(results_dir).glob("*.json")):
        if f.name.endswith("-spans.json"):
            continue
        r = json.loads(f.read_text())
        runs[r["workload"]][r["trace"]].append(r)
    return runs


def spread(values):
    if len(values) < 2:
        return float("nan")
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main():
    results_dir = sys.argv[1] if len(sys.argv) > 1 else HERE.parent / ".bench_build" / "results"
    runs = load(results_dir)
    out = []
    for workload in sorted(runs):
        plain, traced = runs[workload][0], runs[workload][1]
        out.append(f"## {workload}\n")
        if plain:
            seeds = ", ".join(str(r["seed"]) for r in plain)
            out.append(f"{len(plain)} untraced runs, seeds {seeds}; items: "
                       f"{', '.join(sorted(plain[0]['items']))}\n")
            # the untraced cold pass is shown beside the gated metrics; it is
            # one sample per run, so it carries no bound
            cols = {name: [r["metrics"][name]["value"] for r in plain]
                    for name in metrics.END_TO_END}
            cols["cold pass (no bound)"] = [r["passes"][0]["wall_s"] for r in plain]
            units = {**metrics.END_TO_END, "cold pass (no bound)": "s"}
            out.append("| metric | unit | median | q1 | q3 | spread |")
            out.append("|---|---|---|---|---|---|")
            for name, v in cols.items():
                q1, _, q3 = statistics.quantiles(v, n=4) if len(v) > 1 else (v[0], 0, v[0])
                out.append(f"| {name} | {units[name]} | {statistics.median(v):.4g} | {q1:.4g} | "
                           f"{q3:.4g} | {spread(v):.3f} |")
            out.append("\n| seed | host steal | " + " | ".join(cols) +
                       " | (warm-up) and warm passes |")
            out.append("|---" * (len(cols) + 3) + "|")
            for i, r in enumerate(plain):
                steal = r["weather"]["steal_frac"]
                warm = ", ".join(
                    f"({p['wall_s']:.2f})" if p["warmup"] else
                    f"{p['wall_s']:.2f}*" if p.get("steal_frac", 0.0) > metrics.STEAL_LIMIT else
                    f"{p['wall_s']:.2f}" for p in r["passes"][1:])
                out.append(f"| {r['seed']} | {'-' if steal is None else f'{steal:.1%}'} | " +
                           " | ".join(f"{v[i]:.3f}" for v in cols.values()) + f" | {warm} |")
            out.append(f"\n\\* a pass during which the host gave more than "
                       f"{metrics.STEAL_LIMIT:.0%} of its CPU time to other guests; "
                       "the harness ran another in its place.")
            out.append("")
            samples = [i["wall_s"] for r in plain for i in r["item_runs"]
                       if not i["cold"] and not i["warmup"]]
            tail = metrics.tail_percentile(len(samples))
            if tail is not None:
                out.append(f"Warm item latency over all runs ({len(samples)} samples): "
                           f"p50 {metrics.quantile(samples, 50):.3f} s, "
                           f"p{tail} {metrics.quantile(samples, tail):.3f} s.")
            out.append("")
        if traced:
            out.append(f"{len(traced)} traced run(s), seeds "
                       f"{', '.join(str(r['seed']) for r in traced)}; per-layer values are "
                       "medians over each run's warm passes, then over runs.\n")
            out.append("| layer metric | unit | value |")
            out.append("|---|---|---|")
            for name, unit in metrics.PER_LAYER.items():
                v = statistics.median(r["metrics"][name]["value"] for r in traced)
                out.append(f"| {name} | {unit} | {v:.4g} |")
            if plain:
                base = statistics.median(r["metrics"]["pass_s"]["value"] for r in plain)
                t = statistics.median(r["metrics"]["trace.pass_s"]["value"] for r in traced)
                out.append(f"\nTracing overhead: traced pass_s {t:.3f} s over untraced median "
                           f"{base:.3f} s = {t / base:.3f}x.")
            out.append("")
        failures = [(r["seed"], f["item"], f["error"]) for r in plain + traced
                    for f in r["failures"]]
        attempted = sum(r["attempted"] for r in plain + traced)
        out.append(f"Items attempted: {attempted}; failed: {len(failures)}.")
        for seed, item, err in failures:
            out.append(f"- seed {seed}: {item}: {err}")
        out.append("")
    print("\n".join(out))


if __name__ == "__main__":
    main()
