"""One benchmark run in a fresh process and a fresh local[nproc] JVM.

Started by ``run.py`` after the inputs exist. Sets up (session, input
registration, one discarded warm-up pass), measures whole passes for
``--seconds`` (the stream: its fixed increments), checks every pass
against its oracle and writes the result JSON to ``--result``. The parent
samples memory, stops every process the run started and prints the result.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback
import warnings


def tail(values: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest percentile with at least ten
    samples beyond it; with fewer than eleven samples, the slowest."""
    xs = sorted(values)
    if len(xs) <= 10:
        return 100.0, xs[-1]
    i = len(xs) - 11
    return 100.0 * (i + 1) / len(xs), xs[i]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--input", required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--result", required=True)
    a = ap.parse_args()
    sys.path.insert(0, os.getcwd())
    # the geography guard's advisory warning is expected on the replay check
    warnings.filterwarnings("ignore", category=UserWarning)

    from perfbench import trace as TR
    from perfbench.workloads import WORKLOADS, fresh

    with open(os.path.join(a.input, "meta.json")) as f:
        meta = json.load(f)
    tracer = TR.Tracer(enabled=bool(a.trace))
    res = {"attempted": 0, "failed": 0, "problems": []}

    t = time.perf_counter()
    from building2osm_spark.session import get_spark

    spark = get_spark(app=f"perfbench-{a.workload}", cores=os.cpu_count())
    session_s = time.perf_counter() - t
    tracer.install(spark)
    wl = WORKLOADS[a.workload](spark, tracer, a.input, meta, a.run_dir)
    wl.register()
    out = os.path.join(a.run_dir, "out")

    def record(problems: list[str]) -> None:
        res["attempted"] += 1
        if problems:
            res["failed"] += 1
            res["problems"].extend(problems[:3])

    # set-up ends after one discarded warm-up pass (the stream: one
    # increment into a scratch store), which pays the JIT and codegen
    # warm-up that would otherwise dominate the first timed pass
    t = time.perf_counter()
    if wl.streaming:
        wl.increment(wl.stream_dirs("warmup"), wl.files[0], "muni-000")
    else:
        wl.one_pass(fresh(os.path.join(a.run_dir, "warmup")))
    warmup_s = time.perf_counter() - t
    setup_s = time.monotonic() - a.t0
    tracer.recording = True
    if wl.streaming:
        walls, rows, written, problems = run_stream(wl, meta, record)
    else:
        walls, rows, written, problems = run_bulk(wl, out, a.seconds, record)
    tracer.recording = False
    if problems:
        res["failed"] = max(res["failed"], 1)
        res["problems"].extend(problems)

    wall = sum(walls)
    pct, tail_v = tail(walls) if walls else (100.0, 0.0)
    metrics = {
        "setup_s": (setup_s, "s"),
        "rows_per_s": (rows / wall if wall else 0.0, "rows/s"),
        "batch_p50_s": (statistics.median(walls) if walls else 0.0, "s"),
        "batch_tail_s": (tail_v, "s"),
        "write_bytes_per_input_byte": (written / meta["input_bytes"], "ratio"),
    }
    res["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    res["detail"] = {"walls": walls, "tail_percentile": pct, "session_s": session_s,
                     "warmup_s": warmup_s}
    if a.trace:
        overhead = overhead_probe(wl, tracer, a.run_dir)
        if wl.streaming:
            TR.wait_for_stream_events(tracer)
        spark.stop()
        res["per_layer"] = tracer.aggregate(
            os.path.join(a.run_dir, "events"), wall, overhead, session_s
        )
        tracer.dump(os.path.join(a.run_dir, "trace", "spans.json"), res["per_layer"])
    with open(a.result, "w") as f:
        json.dump(res, f)
    # the JVM is left to the parent, which stops every process under it:
    # Spark's own shutdown adds seconds and measures nothing
    sys.stdout.flush()
    os._exit(0)


MIN_PASSES = 2


def run_bulk(wl, out: str, seconds: float, record):
    """Whole passes until `seconds` of pass time, and at least MIN_PASSES
    (a pass that alone outlasts `seconds` under host contention must not
    leave a run with one sample); each pass is checked against the oracle.
    Returns (walls, rows, bytes written, problems)."""
    from perfbench.workloads import dir_bytes, fresh

    walls, written = [], []
    while sum(walls) < seconds or len(walls) < MIN_PASSES:
        fresh(out)
        t = time.perf_counter()
        try:
            wl.one_pass(out)
        except Exception:
            record([traceback.format_exc(limit=3)])
            break
        walls.append(time.perf_counter() - t)
        record(wl.check(out))
        written.append(dir_bytes(out))
    return walls, wl.rows * len(walls), statistics.median(written) if written else 0, []


def run_stream(wl, meta: dict, record):
    """Every municipality in order, one increment each; the last one also
    re-delivers the previous file. Then the stream oracle. Returns
    (latencies, rows committed, bytes written, problems)."""
    from perfbench import oracles
    from perfbench.workloads import dir_bytes

    dirs = wl.stream_dirs("stream")
    lat, landed, rows, before_last = [], [], 0, None
    for k, raw in enumerate(wl.files):
        last = k == len(wl.files) - 1
        replay = landed[-1] if last and landed else None
        if last:
            before_last = oracles.latest_snapshot(dirs["store"], wl.STAGE)
        t = time.perf_counter()
        try:
            landed.append(wl.increment(dirs, raw, f"muni-{k:03d}", replay=replay))
        except Exception:
            record([traceback.format_exc(limit=3)])
            continue
        lat.append(time.perf_counter() - t)
        rows += meta["counts"][k]
        record([])
    written = dir_bytes(dirs["store"], dirs["landing"])
    ok = len(landed) == len(wl.files)
    problems = (
        oracles.check_stream(dirs["store"], wl.STAGE, landed, before_last)
        if ok else ["an increment failed"]
    )
    return lat, rows, written, problems


def overhead_probe(wl, tracer, run_dir: str) -> float:
    """Traced wall ÷ untraced wall − 1 over three more passes (or
    increments of the first municipality into scratch stores): untraced,
    traced, untraced. The traced one is compared with the mean of the two
    around it, so the JVM's warming between passes cancels."""
    from perfbench.workloads import fresh

    walls = []
    for k, traced in enumerate((False, True, False)):
        tracer.enabled = traced
        t = time.perf_counter()
        if wl.streaming:
            wl.increment(wl.stream_dirs(f"probe{k}"), wl.files[0], "muni-000")
        else:
            wl.one_pass(fresh(os.path.join(run_dir, f"probe{k}")))
        walls.append(time.perf_counter() - t)
    tracer.enabled = True
    return walls[1] / ((walls[0] + walls[2]) / 2) - 1.0


if __name__ == "__main__":
    sys.exit(main())
