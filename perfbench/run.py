"""Benchmark of the crawl frontier: one command, one workload per run.

    python3 perfbench/run.py --workload <frontier_round|crawl_loop> --seed <n> \\
        --seconds <s> --trace <0|1>

Run from the repository root. The last line of standard output is one JSON
object with the keys ``correct``, ``attempted``, ``failed`` and ``metrics``:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. A settings line and, when traced, a layer table come first.

Each run:

- refuses to start while another run in this checkout holds its lock or
  a Spark JVM of an earlier run is still alive, and empties its work
  directory (catalog and ``SPARK_LOCAL_DIRS``) before and after;
- generates crawl_loop inputs from the seed in a separate process, cached
  under ``perfbench/.cache/inputs`` keyed by seed;
- runs the workload in one driver process (``worker.py``) at
  ``local[nproc/2]`` with a driver heap sized to the machine, waits for it
  and its JVM to end, and checks the outputs: within the run, and against
  the digests an earlier run of the same seed recorded;
- with ``--trace 1`` runs the traced process, keeps its spans under
  ``perfbench/.cache/traces`` and reports tracing overhead as traced minus
  untraced, against the median of the untraced runs this
  checkout recorded (running one untraced process after the traced one
  if there are none and the run's deadline leaves room for it).

Seed 7 is held out: use it only to confirm a claim made on other seeds.
"""

from __future__ import annotations

import argparse
import fcntl
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

T0 = time.monotonic()
ROOT = os.getcwd()
BENCH = os.path.dirname(os.path.abspath(__file__))
CACHE = os.path.join(BENCH, ".cache")
WORK = os.path.join(BENCH, ".work")
DEADLINE_S = 170

E2E_UNITS = {"items_per_s": "1/s", "setup_s": "s"}
FRONTIER_LAYERS = {
    "urls.canonicalize_s": "s",
    "urls.canonicalize_cpu_s": "s",
    "dedup.build_s": "s",
    "dedup.probe_s": "s",
    "dedup.exact_s": "s",
    "dedup.bloom_positives": "count",
    "dedup.fp_rate": "ratio",
    "dedup.shuffle_bytes": "bytes",
    "politeness.schedule_s": "s",
    "politeness.admitted": "count",
    "politeness.shuffle_bytes": "bytes",
}
CRAWL_LAYERS = {
    **{
        f"catalog.write.{t}{suffix}": unit
        for t in ("fetch_log", "extracted", "url_seen", "bloom_shards", "frontier", "round_metrics")
        for suffix, unit in (("_s", "s"), ("_cpu_s", "s"), ("_shuffle_bytes", "bytes"))
    },
    "catalog.commit_s": "s",
    "catalog.read_s": "s",
    "catalog.bytes_written": "bytes",
    "catalog.bytes_on_disk": "bytes",
    "crawl.plan_s": "s",
    "crawl.unattributed_s": "s",
    "crawl.covered_share": "ratio",
    "crawl.jobs": "count",
    "crawl.admitted": "count",
    "crawl.fetched": "count",
    "crawl.frontier_rows": "count",
    "crawl.seen_rows": "count",
}
SESSION_LAYERS = {
    "session.start_s": "s",
    "session.gc_s": "s",
    "session.spill_bytes": "bytes",
    "session.peak_rss_mb": "MB",
    "session.storage_mb": "MB",
    "trace.overhead_items_per_s": "1/s",
    "trace.overhead_setup_s": "s",
}
LAYER_UNITS = {**FRONTIER_LAYERS, **CRAWL_LAYERS, **SESSION_LAYERS}


def fail(msg: str, code: int = 2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ------------------------------------------------------------------ hygiene
def _proc_field(pid: str, name: str) -> str:
    try:
        if name == "cwd":
            return os.readlink(f"/proc/{pid}/cwd")
        with open(f"/proc/{pid}/{name}", "rb") as f:
            return f.read().decode(errors="replace")
    except OSError:
        return ""


def leftover_spark() -> list[int]:
    """Spark JVMs or PySpark daemons of earlier runs in this checkout."""
    found = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        # whole arguments, so a shell whose command line names them is no match
        args = _proc_field(pid, "cmdline").split("\0")
        spark = "org.apache.spark.deploy.SparkSubmit" in args or "pyspark.daemon" in args
        if spark and _proc_field(pid, "cwd") == ROOT:
            found.append(int(pid))
    return found


def session_members(sid: int) -> list[int]:
    """Live processes of session ``sid`` (zombies have ended)."""
    out = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        fields = _proc_field(pid, "stat").rsplit(")", 1)[-1].split()
        if len(fields) > 3 and fields[0] != "Z" and int(fields[3]) == sid:
            out.append(int(pid))
    return out


def reap_session(sid: int, grace_s: float = 30.0) -> None:
    """Wait for every process of a child's session to end; kill stragglers."""
    end = time.monotonic() + grace_s
    while session_members(sid) and time.monotonic() < end:
        time.sleep(0.2)
    for pid in session_members(sid):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while session_members(sid):
        time.sleep(0.1)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine since boot."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def fresh_dir(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)


# ---------------------------------------------------------------- processes
def settings() -> dict:
    nproc = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_gb = int(f.readline().split()[1]) / 2**20
    # a quarter of the RAM, 2g..6g: the engine's 48g default does not fit
    heap_gb = int(min(6, max(2, mem_gb // 4)))
    # half the cores: each task slot keeps a JVM thread and a Python worker
    # busy, and the driver, JIT and GC threads need the rest
    return {"nproc": nproc, "spark_cpus": max(1, nproc // 2),
            "mem_gb": round(mem_gb, 1), "driver_memory": f"{heap_gb}g"}


def child(args: list[str], env: dict, fatal: bool = True) -> bool:
    """Run one process in its own session within the run's deadline; wait
    until it and everything it started have ended. A failure ends the run,
    unless ``fatal`` is false: then it returns False."""
    left = DEADLINE_S - (time.monotonic() - T0)
    proc = subprocess.Popen(
        [sys.executable, *args], cwd=ROOT, env=env, stdout=sys.stderr, start_new_session=True
    )
    try:
        code = proc.wait(timeout=max(1.0, left))
    except BaseException as e:  # deadline passed, or this run was stopped
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        reap_session(proc.pid, 0)
        if not isinstance(e, subprocess.TimeoutExpired):
            raise
        if fatal:
            fail(f"{args[0]} did not finish within {DEADLINE_S}s", 1)
        return False
    reap_session(proc.pid)
    if code != 0 and fatal:
        fail(f"{args[0]} exited with code {code}", 1)
    return code == 0


def run_worker(workload, seed, seconds, traced, env, fatal=True) -> dict | None:
    out = os.path.join(WORK, f"result-{int(traced)}.json")
    if not child(
        [os.path.join(BENCH, "worker.py"), workload, str(seed), str(seconds),
         str(int(traced)), out, os.path.join(CACHE, "inputs")],
        env,
        fatal,
    ):
        return None
    with open(out) as f:
        return json.load(f)


# ------------------------------------------------------------------ checks
def cross_run_check(workload: str, seed: int, res: dict) -> bool:
    """Outputs of one seed repeat across runs: compare with (and extend)
    the digests the first run of this seed and input shape recorded."""
    digests = res["digests"]
    path = os.path.join(CACHE, "expect", f"{workload}-{res['shape']}-seed{seed}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    known = {}
    if os.path.exists(path):
        with open(path) as f:
            known = json.load(f)
    ok = True
    for key, val in digests.items():
        if key not in known:
            known[key] = val
        elif isinstance(val, dict):  # per-round digests; runs differ in length
            ok &= all(known[key].get(r, d) == d for r, d in val.items())
            known[key] = {**val, **known[key]}
        else:
            ok &= known[key] == val
    with open(path, "w") as f:
        json.dump(known, f)
    return ok


def untraced_history(workload: str, add: dict | None = None) -> list[dict]:
    path = os.path.join(CACHE, f"untraced-{workload}.json")
    hist = []
    if os.path.exists(path):
        with open(path) as f:
            hist = json.load(f)
    if add is not None:
        hist = (hist + [add])[-50:]
        with open(path, "w") as f:
            json.dump(hist, f)
    return hist


def layer_table(layers: dict) -> str:
    rows = [f"{'layer metric':40s} {'value':>16s}  unit"]
    for name, unit in LAYER_UNITS.items():
        val = f"{layers[name]:.6g}" if name in layers else "not run"
        rows.append(f"{name:40s} {val:>16s}  {unit}")
    return "\n".join(rows)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("crawl_loop", "frontier_round"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # SIGTERM unwinds like an error, so children and the work dir are cleaned up
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "webscraping_video_pipeline_spark", "__init__.py")):
        fail("run from the repository root: the engine package is not here")
    os.makedirs(CACHE, exist_ok=True)
    lock = open(os.path.join(CACHE, "run.lock"), "w")  # held until exit
    end = time.monotonic() + 30
    while True:
        try:
            fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
            break
        except BlockingIOError:
            if time.monotonic() > end:
                fail("another run in this checkout is still going", 3)
            time.sleep(1)
    while leftover_spark():
        if time.monotonic() > end:
            fail(f"a Spark JVM of an earlier run is still alive: {leftover_spark()}", 3)
        time.sleep(1)

    pins = settings()
    fresh_dir(WORK)
    env = {
        **os.environ,
        "SPARK_GRAFT_CPUS": str(pins["spark_cpus"]),
        "SPARK_DRIVER_MEMORY": pins["driver_memory"],
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        # keep the JVM's and Python's scratch files inside the checkout
        "TMPDIR": os.path.join(WORK, "tmp"),
        "SPARK_GRAFT_GC_OPTS": f"-XX:+UseG1GC -XX:-UsePerfData -Djava.io.tmpdir={WORK}/tmp",
        "PERFBENCH_WORK": WORK,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    }
    os.makedirs(env["SPARK_LOCAL_DIRS"])
    os.makedirs(env["TMPDIR"])
    try:
        if a.workload == "crawl_loop":
            child([os.path.join(BENCH, "inputs.py"), os.path.join(CACHE, "inputs"), str(a.seed)], env)
        steal0, total0, t_run = *cpu_ticks(), time.monotonic()
        res = run_worker(a.workload, a.seed, a.seconds, bool(a.trace), env)
        steal1, total1, t_run = *cpu_ticks(), time.monotonic() - t_run
        history = untraced_history(a.workload)
        # with no untraced run recorded yet, make one as the overhead
        # baseline when the deadline leaves room (it is faster than traced);
        # if it fails or overruns, the overhead reads 0
        left = DEADLINE_S - (time.monotonic() - T0)
        if a.trace and not history and left > 1.3 * t_run:
            base = run_worker(a.workload, a.seed, a.seconds, False, env, fatal=False)
            if base is not None and base["error"] is None:
                history = untraced_history(a.workload, base["e2e"])
        spans = os.path.join(WORK, f"spans-{a.workload}.jsonl")
        if os.path.exists(spans):  # keep the traced run's spans
            os.makedirs(os.path.join(CACHE, "traces"), exist_ok=True)
            os.replace(spans, os.path.join(CACHE, "traces", f"{a.workload}-seed{a.seed}.jsonl"))
    finally:
        shutil.rmtree(WORK, ignore_errors=True)

    failed = res["failed"]
    cross_ok = res["error"] is None and cross_run_check(a.workload, a.seed, res)
    if res["error"] is None and not cross_ok:
        failed += 1
    correct = res["error"] is None and cross_ok and all(res["checks"].values())
    print(json.dumps({"settings": {**pins, "workload": a.workload, "seed": a.seed,
                                   "seconds": a.seconds, "trace": a.trace,
                                   # CPU the hypervisor gave to other guests
                                   "steal_share": round((steal1 - steal0) / max(1, total1 - total0), 4),
                                   "checks": res["checks"], "cross_run": cross_ok}}))
    if a.trace:
        layers = dict(res["layers"])
        if not history:
            print("perfbench: no untraced run recorded; overhead reads 0", file=sys.stderr)
        for m in ("items_per_s", "setup_s"):
            base = statistics.median(h[m] for h in history) if history else res["e2e"].get(m, 0.0)
            layers[f"trace.overhead_{m}"] = res["e2e"].get(m, 0.0) - base
        print(layer_table(layers))
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in LAYER_UNITS.items()}
    else:
        if res["error"] is None:
            untraced_history(a.workload, res["e2e"])
        metrics = {k: {"value": float(res["e2e"].get(k, 0.0)), "unit": u} for k, u in E2E_UNITS.items()}
    print(json.dumps({"correct": correct, "attempted": res["attempted"], "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
