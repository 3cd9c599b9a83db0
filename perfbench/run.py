"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload district_split --seed 1 --seconds 5 --trace 0

Run from the root of a checkout of the repository. Prepares the seeded
inputs (untimed, cached per seed), clears the run's output, store,
checkpoint and Spark local directories, starts ``worker.py`` in a fresh
process (and so a fresh local[nproc] JVM), samples the peak RSS of its
JVM and Python workers from /proc, and prints the result as one JSON line
last on stdout. ``--trace 1`` reports the per-layer metrics instead of the
end-to-end ones; see perfbench/README.md.
"""

from __future__ import annotations

import argparse
import ctypes
import fcntl
import json
import os
import shutil
import signal
import subprocess
import sys
import time

DEADLINE_S = 175.0
SAMPLE_S = 0.2
WORK = ".perfbench_work"
PR_SET_CHILD_SUBREAPER = 36


def fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def _descendants(root: int) -> list[int]:
    """Every process under `root`, at any depth, zombies included."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the host's CPUs since boot."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _kind(pid: int) -> str | None:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            cmd = f.read().replace(b"\0", b" ")
    except OSError:
        return None
    if cmd.split(b" ", 1)[0].endswith(b"java"):
        return "jvm"
    if b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd:
        return "worker"
    return None


class RssSampler:
    """Peak RSS of the JVM plus the Python workers under one process:
    the JVM's VmHWM plus the largest sum of the live workers' VmHWM."""

    def __init__(self, root_pid: int):
        self.root = root_pid
        self.jvm_kb = 0
        self.workers_kb = 0

    def sample(self) -> None:
        workers = 0
        for pid in _descendants(self.root):
            kind = _kind(pid)
            if kind == "jvm":
                self.jvm_kb = max(self.jvm_kb, _status_kb(pid, "VmHWM"))
            elif kind == "worker":
                workers += _status_kb(pid, "VmHWM")
        self.workers_kb = max(self.workers_kb, workers)

    @property
    def peak_mb(self) -> float:
        return (self.jvm_kb + self.workers_kb) / 1024.0


def become_subreaper() -> None:
    """Make this process the child subreaper of everything it starts: a
    process whose parent dies is re-parented here rather than to init. The
    pyspark daemon moves itself into a process group of its own, and the
    spawn pool leaves a resource tracker, so neither the worker's process
    group nor its tree would find them after the JVM is gone."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def stop_all(child: subprocess.Popen | None = None) -> None:
    """KILL every process this one started, at any depth and in any process
    group, and reap each, until none is left, not even a zombie: a killed
    JVM takes a while to exit and is re-parented here when it does. The
    worker has written its result by then; the JVM's own shutdown only
    tidies directories the next run clears. `child` is waited for first so
    its exit code is kept."""
    deadline = time.monotonic() + 30.0
    while True:
        pids = _descendants(os.getpid())
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        if child is not None:
            child.wait()
            child = None
        while True:
            try:
                pid, _status = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                break
            if pid == 0:
                break
        if not pids or time.monotonic() > deadline:
            return
        time.sleep(0.05)


def main() -> int:
    become_subreaper()
    # a TERM still runs the clean-up below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return one_run(time.monotonic())
    finally:
        stop_all()


def one_run(t_start: float) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "building2osm_spark", "session.py")):
        return fail("no engine here: run from the root of a checkout of the repository")
    sys.path.insert(0, root)
    from perfbench import inputs
    from perfbench.trace import per_layer_names
    from perfbench.workloads import WORKLOADS

    if a.workload not in WORKLOADS:
        return fail(f"unknown workload {a.workload!r}; one of {sorted(WORKLOADS)}")

    work = os.path.join(root, WORK)
    os.makedirs(work, exist_ok=True)
    # runs share the run directory: a second concurrent run would clear it
    # under the first
    lock = open(os.path.join(work, "lock"), "w")
    try:
        fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except BlockingIOError:
        return fail("another run is active in this checkout")
    run = os.path.join(work, "run")
    shutil.rmtree(run, ignore_errors=True)
    for d in ("spark-local", "tmp", "warehouse", "events", "trace"):
        os.makedirs(os.path.join(run, d))
    os.environ["TMPDIR"] = os.path.join(run, "tmp")
    t = time.monotonic()
    input_dir, _meta = inputs.prepare(a.workload, a.seed, work, root)
    phases = {"inputs_s": time.monotonic() - t}

    submit = [f"--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={run}/tmp"]
    if a.trace:
        submit += [
            "--conf spark.eventLog.enabled=true",
            "--conf spark.eventLog.compress=false",
            "--conf spark.eventLog.rolling.enabled=false",
            f"--conf spark.eventLog.dir=file://{run}/events",
        ]
    env = dict(
        os.environ,
        SPARK_LOCAL_DIRS=os.path.join(run, "spark-local"),
        SPARK_GRAFT_WAREHOUSE=os.path.join(run, "warehouse"),
        PYSPARK_SUBMIT_ARGS=" ".join(submit + ["pyspark-shell"]),
        PYTHONPATH=os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p),
    )
    result_path = os.path.join(run, "result.json")
    cmd = [
        sys.executable, os.path.join(root, "perfbench", "worker.py"),
        "--workload", a.workload, "--input", input_dir, "--run-dir", run,
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--result", result_path,
    ]
    with open(os.path.join(run, "worker.log"), "w") as log:
        steal0, total0 = _cpu_ticks()
        t0 = time.monotonic()
        child = subprocess.Popen(
            cmd + ["--t0", repr(t0)], env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        rss = RssSampler(child.pid)
        try:
            while child.poll() is None:
                if time.monotonic() - t_start > DEADLINE_S:
                    print("perfbench: run exceeded its deadline", file=sys.stderr)
                    break
                rss.sample()
                time.sleep(SAMPLE_S)
        finally:
            phases["worker_s"] = time.monotonic() - t0
            stop_all(child)
            phases["stop_s"] = time.monotonic() - t0 - phases["worker_s"]
            # CPU time the hypervisor gave to other guests during the run:
            # the noise this benchmark cannot remove
            steal1, total1 = _cpu_ticks()
            phases["host_steal_frac"] = (steal1 - steal0) / max(1, total1 - total0)
    if child.returncode != 0 or not os.path.exists(result_path):
        with open(os.path.join(run, "worker.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        return fail(f"worker exited with {child.returncode}")

    with open(result_path) as f:
        res = json.load(f)
    # peak RSS is reported by the traced run only: JVM heap growth makes it
    # spread more between runs than any end-to-end bound allows
    phases["peak_rss_mb"] = rss.peak_mb
    if a.trace:
        res["per_layer"]["peak_rss_mb"] = {"value": rss.peak_mb, "unit": "MiB"}
        metrics = {name: res["per_layer"][name] for name, _u, _b in per_layer_names()}
    else:
        metrics = res["metrics"]
    correct = res["failed"] == 0 and res["attempted"] >= 1
    for p in res["problems"]:
        print(f"problem: {p}")
    print(f"detail: {json.dumps(dict(res['detail'], **phases))}")
    print(json.dumps({
        "correct": correct,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
