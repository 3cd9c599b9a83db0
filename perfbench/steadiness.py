"""Steadiness report: two sets of runs of the same commit, side by side.

    python3 perfbench/steadiness.py --runs 10 [--workloads a,b] [--out report.txt] [--raw runs.jsonl]
    python3 perfbench/steadiness.py --from-raw runs.jsonl      # re-print a saved report

Run from the root of a checkout. Each set makes ``--runs`` untraced runs
per workload, each with its own seed (set 2 uses the same seeds as set 1,
as a second measurement of the same inputs). For every workload and
end-to-end metric it prints both medians, both sets' quartiles, the spread
(interquartile range as a share of the median), the drift between the two
medians and the metric's bound from BENCHMARK.json. A metric is
``steady`` when both spreads and the absolute drift are at most a third of
its bound, ``ok`` when they are at most the bound, and ``OUT`` (unresolved)
otherwise; setup_s is held to the same rule, and a drift in either
direction counts. Each set's median and largest ``host_steal_frac`` (CPU
time the hypervisor gave to other guests during a run) are printed too.
The exit code is 0 only if no metric is ``OUT``.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys


def one_run(workload: str, seed: int, seconds: int) -> dict:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        capture_output=True, text=True,
    )
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise SystemExit(f"{workload} seed {seed} failed:\n{p.stderr[-3000:]}")
    result = json.loads(lines[-1])
    for line in lines:
        if line.startswith("detail: "):
            result["detail"] = json.loads(line[len("detail: "):])
    return result


def spread(values: list[float]) -> tuple[float, float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3, (q3 - q1) / statistics.median(values)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default=None)
    ap.add_argument("--first-seed", type=int, default=101)
    ap.add_argument("--out", default=None)
    ap.add_argument("--raw", default=None, help="append every run's result line here")
    ap.add_argument("--from-raw", default=None,
                    help="print the report from a --raw file of earlier runs instead of running")
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    seeds = [a.first_seed + i for i in range(a.runs)]
    sets = {}
    if a.from_raw:
        with open(a.from_raw) as f:
            saved = [json.loads(line) for line in f]
        for r in saved:
            sets.setdefault((r["set"], r["workload"]), []).append(r["result"])
        seeds = sorted({r["seed"] for r in saved})
    for s in () if a.from_raw else (1, 2):
        for w in workloads:
            runs = []
            for seed in seeds:
                runs.append(one_run(w, seed, bench["run_seconds"]))
                if a.raw:
                    with open(a.raw, "a") as f:
                        f.write(json.dumps({"set": s, "workload": w, "seed": seed,
                                            "result": runs[-1]}) + "\n")
            bad = [r for r in runs if not r["correct"]]
            if bad:
                raise SystemExit(f"{w}: {len(bad)} incorrect runs in set {s}")
            sets[(s, w)] = runs
            print(f"set {s} {w}: done", file=sys.stderr, flush=True)

    lines = [f"steadiness: {a.runs} runs per set, seeds {seeds[0]}..{seeds[-1]}, "
             f"run_seconds {bench['run_seconds']}", ""]
    head = (f"{'workload':20} {'metric':27} {'median1':>12} {'median2':>12} "
            f"{'q1..q3 set1':>25} {'q1..q3 set2':>25} {'spread1':>8} {'spread2':>8} "
            f"{'drift':>7} {'bound':>6}  status")
    lines.append(head)
    n_out = 0
    for w in workloads:
        for m in bench["end_to_end"]:
            name, bound, higher = m["name"], m["bound"], m["better"] == "higher"
            v1 = [r["metrics"][name]["value"] for r in sets[(1, w)]]
            v2 = [r["metrics"][name]["value"] for r in sets[(2, w)]]
            a1, m1, b1, s1 = spread(v1)
            a2, m2, b2, s2 = spread(v2)
            # positive = the second set is worse
            drift = (m1 - m2) / m1 if higher else (m2 - m1) / m1
            worst = max(s1, s2, abs(drift))
            status = "steady" if worst <= bound / 3 else "ok" if worst <= bound else "OUT"
            n_out += status == "OUT"
            lines.append(
                f"{w:20} {name:27} {m1:12.4g} {m2:12.4g} "
                f"{f'{a1:.4g}..{b1:.4g}':>25} {f'{a2:.4g}..{b2:.4g}':>25} "
                f"{s1:8.3f} {s2:8.3f} {drift:7.3f} {bound:6.2f}  {status}"
            )
        for s in (1, 2):
            steal = [r["detail"]["host_steal_frac"] for r in sets[(s, w)] if "detail" in r]
            if steal:
                lines.append(f"{w:20} host_steal_frac set {s}: median "
                             f"{statistics.median(steal):.4f}, max {max(steal):.4f}")
    lines.append("")
    lines.append(f"{n_out} metrics OUT of bounds (unresolved)" if n_out
                 else "every metric within its bound")
    text = "\n".join(lines)
    print(text)
    if a.out:
        with open(a.out, "w") as f:
            f.write(text + "\n")
    return 1 if n_out else 0


if __name__ == "__main__":
    sys.exit(main())
