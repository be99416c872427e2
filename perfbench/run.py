"""Engine benchmark: one workload, one fresh process, one JSON result line.

Run from the root of a checkout:

    python3 perfbench/run.py --workload olap --seed 1 --seconds 5 --trace 0

It builds the fixture warehouse under ``.perfbench/`` on first use, starts
the measured run in a fresh Python process with its own ``TMPDIR`` and
``SPARK_LOCAL_DIRS``, deletes both afterwards, and prints as its last line
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``, with the names and units ``BENCHMARK.json`` lists. See
README.md for every metric and workload.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from datagen import ensure_warehouse  # noqa: E402
from workloads import WORKLOADS, spec  # noqa: E402

# Warehouse scale: lineitem has 6,000,000 x SCALE rows.
SCALE = 0.01
# Whole-run limit; the worker is killed past it and the run fails.
RUN_LIMIT_S = 170.0


def stop_group(proc: subprocess.Popen) -> None:
    """Kill what is left of the worker's process group (the JVM and Python
    workers) and wait until every member has exited."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.time() + 10
    while time.time() < deadline and _group_alive(proc.pid):
        time.sleep(0.05)


def _group_alive(pgid: int) -> bool:
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[2]) == pgid and fields[0] != "Z":
                return True
    return False


def run_worker(args, repo: str, data: str, scale: float, run_dir: str, deadline: float,
               trace_out: str | None) -> dict:
    tmp, local, work = (os.path.join(run_dir, d) for d in ("tmp", "local", "work"))
    for d in (tmp, local, work):
        os.makedirs(d, exist_ok=True)
    env = dict(os.environ)
    env.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        # Keep the JVM's own temp files (native libraries, perf data) in the run.
        "JDK_JAVA_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYTHONDONTWRITEBYTECODE": "1",
    })
    env.pop("OMP_NUM_THREADS", None)
    out = os.path.join(run_dir, "worker.json")
    log = os.path.join(run_dir, "worker.log")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--repo", repo, "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--data", data, "--scale", str(scale), "--out", out,
    ]
    if trace_out:
        cmd += ["--trace-out", trace_out]
    with open(log, "w") as logf:
        t0 = time.time()
        proc = subprocess.Popen(cmd + ["--t0", repr(t0)], cwd=work, env=env,
                                stdin=subprocess.DEVNULL, stdout=logf, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=max(deadline - time.time(), 1.0))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            stop_group(proc)
    if code != 0 or not os.path.exists(out):
        with open(log, errors="replace") as f:
            tail = f.read()[-4000:]
        raise RuntimeError(f"worker {'timed out' if code is None else f'exited {code}'}:\n{tail}")
    with open(out) as f:
        return json.load(f)


def main(argv: list[str] | None = None, scale: float = SCALE) -> int:
    """Run one workload; ``scale`` is only changed by the smoke tests."""
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args(argv)
    started = time.time()

    repo = os.getcwd()
    if not (os.path.isfile(os.path.join(repo, "rws_data_ingester_spark", "plans", "__init__.py"))
            and os.path.isfile(os.path.join(repo, "__spark_entry__.py"))):
        print("perfbench: run from the root of an rws-engine checkout "
              "(rws_data_ingester_spark/ and __spark_entry__.py not found)", file=sys.stderr)
        return 2
    bench = spec(repo)

    state = os.path.join(repo, ".perfbench")
    data = ensure_warehouse(os.path.join(state, "data"), scale)
    # The package's file-stream source links the events table into a fixed
    # directory under /tmp; remove it afterwards if this run created it.
    stream_dir = f"/tmp/rws_stream_events_{hashlib.md5(data.encode()).hexdigest()[:8]}"
    stream_dir_existed = os.path.exists(stream_dir)
    trace_out = None
    if args.trace:
        os.makedirs(os.path.join(state, "traces"), exist_ok=True)
        trace_out = os.path.join(state, "traces", f"{args.workload}-seed{args.seed}.json")
    run_dir = tempfile.mkdtemp(prefix="run-", dir=state)
    try:
        res = run_worker(args, repo, data, scale, run_dir, started + RUN_LIMIT_S, trace_out)
    except RuntimeError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        if not stream_dir_existed:
            shutil.rmtree(stream_dir, ignore_errors=True)

    for failure in res["failures"]:
        print(f"perfbench: wrong or failed: {failure}")
    print("perfbench: environment " + json.dumps({
        "cpu_control_s": round(res["env.cpu_control_s"], 4),
        "cpus": len(os.sched_getaffinity(0)),
        "scale": scale,
        "warm_passes": res["warm_passes"],
        "warm_pass_median_s": round(res["warm_pass_median_s"], 4),
        "warm_pass_max_s": round(res["warm_pass_max_s"], 4),
        "check_s": round(res["check_s"], 3),
        "run_s": round(time.time() - started, 3),
    }))
    print("perfbench: warm_samples_s " + json.dumps(
        {n: [round(x, 3) for x in v] for n, v in res["query_samples"].items()}))
    if args.trace:
        # A query outside this workload reads 0 on its per-query metrics.
        metrics = {m["name"]: {"value": float(res["layers"].get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in bench["per_layer"]}
    else:
        metrics = {m["name"]: {"value": float(res[m["name"]]), "unit": m["unit"]}
                   for m in bench["end_to_end"]}
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    # On SIGTERM, unwind through the finally blocks that stop the worker's
    # processes and delete the run's directories.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    raise SystemExit(main())
