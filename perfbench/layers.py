"""Per-layer breakdown: one traced run per workload, as a table.

    python3 perfbench/layers.py [--seed 101] [--workloads a,b] [--out layers.txt]

Run from the root of a checkout. For every workload it makes one
``run.py --trace 1`` run and prints, per layer that ran, its self time
and that time's share of the timed wall, its Spark jobs, task CPU and
wait time, shuffle writes and wasted candidates (shuffle records per
output row). The shares are the upper bound on what a faster layer can
save on that workload's time metrics when nothing contends.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

COLUMNS = ("self_s", "jobs", "task_cpu_s", "task_wait_s", "shuffle_write_mb",
           "records_per_row_out")


def traced_run(workload: str, seed: int, seconds: int) -> tuple[dict, dict]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "1"],
        capture_output=True, text=True,
    )
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise SystemExit(f"{workload} seed {seed} failed:\n{p.stderr[-3000:]}")
    detail = next(json.loads(x[len("detail: "):]) for x in lines if x.startswith("detail: "))
    return json.loads(lines[-1]), detail


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=101)
    ap.add_argument("--workloads", default=None)
    ap.add_argument("--out", default=None)
    a = ap.parse_args()
    sys.path.insert(0, os.getcwd())
    from perfbench.trace import LAYERS

    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    out = [f"traced runs, seed {a.seed}, run_seconds {bench['run_seconds']}", ""]
    for w in workloads:
        result, detail = traced_run(w, a.seed, bench["run_seconds"])
        m = {k: v["value"] for k, v in result["metrics"].items()}
        wall = sum(detail["walls"])
        out.append(
            f"{w}: timed wall {wall:.2f} s over {len(detail['walls'])} passes or increments; "
            f"span_coverage_frac {m['span_coverage_frac']:.3f}, "
            f"trace_overhead_frac {m['trace_overhead_frac']:.3f}, correct {result['correct']}"
        )
        out.append(f"  {'layer':28} {'share':>6} " + " ".join(f"{c:>12}" for c in COLUMNS))
        for layer in LAYERS:
            if m[f"{layer}.self_s"] == 0 and m[f"{layer}.jobs"] == 0:
                continue
            share = m[f"{layer}.self_s"] / wall
            out.append(f"  {layer:28} {share:6.1%} "
                       + " ".join(f"{m[f'{layer}.{c}']:12.4g}" for c in COLUMNS))
        extra = ("session.start_s", "streaming.incremental.start_s",
                 "streaming.incremental.planning_s", "streaming.incremental.wal_commit_s",
                 "peak_rss_mb")
        out.append("  " + ", ".join(f"{k} {m[k]:.4g}" for k in extra))
        out.append("")
        print(f"{w}: done", file=sys.stderr, flush=True)
    text = "\n".join(out)
    print(text)
    if a.out:
        with open(a.out, "w") as f:
            f.write(text + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
