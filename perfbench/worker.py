"""One benchmark run inside a fresh process, the way a cron run starts.

Started by ``run.py`` with the run's own ``TMPDIR`` and ``SPARK_LOCAL_DIRS``.
It times set-up, one cold pass and warm passes of the workload's queries,
each ending in ``df.write.format("noop")``. Outside the timed region it
collects the cold pass's DataFrames right after that pass, and the last warm
pass's after the warm passes, for the correctness gate. It writes its
figures as JSON to ``--out``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

# Pinned CPU-only control probe: a fixed xxhash64 chain over a fixed row
# count, one codegen stage with no I/O. It moves only if per-core speed moved,
# so it tells machine contention apart from program changes.
CONTROL_ROWS = 2_000_000
CONTROL_ROUNDS = 16
# Fewest warm passes of an untraced run; each query's median is taken over
# them and the passes go on until ``--seconds`` have passed. A third pass
# makes every ``pipeline`` run about 10 s longer.
MIN_WARM_PASSES = 2


def proc_tree(root: int) -> dict[int, dict]:
    """``/proc`` readings of ``root`` and its live descendants: command name,
    own CPU seconds, and CPU seconds of reaped children (cutime+cstime)."""
    tck = os.sysconf("SC_CLK_TCK")
    procs = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                raw = f.read()
        except OSError:  # exited while listing
            continue
        fields = raw[raw.rindex(")") + 2:].split()
        procs[int(entry)] = {
            "comm": raw[raw.index("(") + 1:raw.rindex(")")],
            "ppid": int(fields[1]),
            "own": (int(fields[11]) + int(fields[12])) / tck,
            "reaped": (int(fields[13]) + int(fields[14])) / tck,
        }
    children: dict[int, list[int]] = {}
    for pid, p in procs.items():
        children.setdefault(p["ppid"], []).append(pid)
    tree, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in procs:
            tree[pid] = procs[pid]
            todo.extend(children.get(pid, ()))
    return tree


def cpu_split() -> dict[str, float]:
    """CPU seconds so far of the Python driver, the driver JVM and the
    Python/Arrow workers under it; workers that exited count through the
    JVM's or the worker daemon's cutime/cstime."""
    me = os.getpid()
    out = {"driver": 0.0, "jvm": 0.0, "workers": 0.0}
    for pid, p in proc_tree(me).items():
        if pid == me:
            out["driver"] += p["own"]
        elif p["comm"] == "java":
            out["jvm"] += p["own"]
            out["workers"] += p["reaped"]
        else:
            out["workers"] += p["own"] + p["reaped"]
    return out


def peak_rss_mb() -> dict[str, float]:
    """Peak RSS (VmHWM) of the driver, the JVM and the Python workers."""
    out = {"driver": 0.0, "jvm": 0.0, "workers": 0.0}
    me = os.getpid()
    for pid, p in proc_tree(me).items():
        try:
            with open(f"/proc/{pid}/status") as f:
                hwm = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
        except (OSError, StopIteration):
            continue
        kind = "driver" if pid == me else "jvm" if p["comm"] == "java" else "workers"
        out[kind] += hwm / 1024.0
    return out


def disk_bytes(*roots: str) -> int:
    total = 0
    for root in roots:
        for dirpath, _dirs, files in os.walk(root):
            for name in files:
                try:
                    st = os.lstat(os.path.join(dirpath, name))
                except OSError:
                    continue
                total += st.st_size
    return total


def cpu_control(spark) -> float:
    from pyspark.sql import functions as F

    col = F.col("id")
    for j in range(CONTROL_ROUNDS):
        col = F.xxhash64(col.bitwiseXOR(F.lit(j)))
    t0 = time.perf_counter()
    spark.range(CONTROL_ROWS).select(col.alias("h")).agg(F.expr("bit_xor(h)")).first()
    return time.perf_counter() - t0


def failed_executions(raised: dict[str, int], wrong_cold: set[str], wrong_warm: set[str],
                      warm_ok: dict[str, int]) -> int:
    """Failed query executions: every one that raised, the cold execution of
    a query whose cold rows were wrong, and every warm execution that did
    not raise of a query whose last warm rows were wrong (the warm passes
    run the same code on the same state, so the last one stands for all)."""
    return (sum(raised.values()) + len(wrong_cold)
            + sum(warm_ok.get(n, 0) for n in wrong_warm))


class Run:
    def __init__(self, args, spark, registry, layer_names):
        from workloads import WORKLOADS

        self.args = args
        self.spark = spark
        self.registry = registry
        self.qualified = {q.rsplit(".", 1)[1]: q for q in WORKLOADS[args.workload]}
        self.names = tuple(self.qualified)
        # Heads whose construct and execute times are split out.
        self.split = {n for n, q in self.qualified.items() if f"{q}.construct_s" in layer_names}
        self.tracer = None
        self.failed: dict[str, int] = {}
        self.warm_ok: dict[str, int] = {}
        self.attempted = 0
        # Per-query walls and pass walls of the warm passes, untraced (False)
        # and traced (True).
        self.walls = {k: {n: [] for n in self.names} for k in (False, True)}
        self.passes: dict[bool, list[float]] = {False: [], True: []}
        self.layer_passes: list[dict[str, float]] = []
        # The current pass's DataFrames; the correctness gate collects them.
        self.frames: dict[str, object] = {}

    def run_query(self, name: str, warm: bool) -> float:
        """Construct, (traced: plan,) and execute one query; wall seconds."""
        fn = self.registry[name].fn
        self.attempted += 1
        tr = self.tracer if self.tracer is not None and self.tracer.on else None
        t0 = time.perf_counter()
        try:
            if tr is None:
                df = fn(self.spark, self.args.data)
                df.write.format("noop").mode("overwrite").save()
                self.frames[name] = df
                self.warm_ok[name] = self.warm_ok.get(name, 0) + warm
                return time.perf_counter() - t0
            tr.query = name
            windows = {}
            top = tr.begin("query")
            for phase in ("construct", "plan", "execute"):
                idx = tr.begin(phase)
                try:
                    if phase == "construct":
                        df = fn(self.spark, self.args.data)
                    elif phase == "plan":
                        df._jdf.queryExecution().executedPlan()
                    else:
                        df.write.format("noop").mode("overwrite").save()
                finally:
                    took = tr.end(idx)
                windows[phase] = (tr.spans[idx]["start"], tr.spans[idx]["end"])
                tr.acc[f"{phase}_s"] += took
                if name in self.split and phase != "plan":
                    tr.acc[f"{self.qualified[name]}.{phase}_s"] += took
            wall = tr.end(top)
            self.frames[name] = df
            self.warm_ok[name] = self.warm_ok.get(name, 0) + warm
            tr.collect(windows, self.qualified[name] if name in self.split else None)
            return wall
        except Exception as exc:  # a failing query is counted, the run goes on
            self.failed[name] = self.failed.get(name, 0) + 1
            print(f"perfbench: {name} failed: {exc!r}"[:500], file=sys.stderr)
            if tr is not None:
                tr.unwind()
            return time.perf_counter() - t0

    def run_pass(self, index: int, traced: bool) -> float:
        from workloads import pass_order

        self.frames = {}
        if self.tracer is not None:
            self.tracer.on = traced
            self.tracer.pass_index = index
            self.tracer.acc.clear()
            self.tracer.sync()
        t0 = time.perf_counter()
        for name in pass_order(self.args.workload, self.args.seed, index):
            wall = self.run_query(name, warm=index > 0)
            if index > 0:
                self.walls[traced][name].append(wall)
        total = time.perf_counter() - t0
        if index > 0:
            self.passes[traced].append(total)
        if self.tracer is not None and traced:
            acc = dict(self.tracer.acc)
            acc["pass_s"] = total
            self.layer_passes.append(acc)
        return total

    def warm_pass_s(self, traced: bool) -> float:
        """A warm pass's wall time: the sum of each query's median over the
        warm passes, so one slow moment on a shared machine moves one sample."""
        return sum(statistics.median(w) for w in self.walls[traced].values() if w)


def check_rows(run: Run, checker) -> dict[str, str]:
    """Collect the current pass's DataFrame of each query, untimed, and
    compare its rows with the gate; query name -> why its rows are wrong."""
    if run.tracer is not None:
        run.tracer.on = False
    wrong = {}
    for name, sdf in run.frames.items():
        try:
            rows = [tuple(r) for r in sdf.collect()]
            why = checker.mismatch(name, sdf.columns, rows)
        except Exception as exc:  # counted as a wrong result
            why = f"check run failed: {exc!r}"[:300]
        if why:
            wrong[name] = why
    run.frames = {}
    return wrong


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--repo", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--scale", type=float, required=True)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--trace-out")
    args = ap.parse_args()
    sys.path[:0] = [args.repo, os.path.join(args.repo, "tests"), os.path.dirname(__file__)]

    from check import Checker
    from rws_data_ingester_spark.plans import REGISTRY
    from workloads import spec

    t_import = time.time()
    from rws_data_ingester_spark.session import get_spark

    spark = get_spark(app_name="perfbench")
    spark.range(1).count()
    t_ready = time.time()
    out: dict = {
        "setup_s": t_ready - args.t0,
        "session.import_s": t_import - args.t0,
        "session.start_s": t_ready - t_import,
    }

    layer_names = {m["name"] for m in spec(args.repo)["per_layer"]}
    run = Run(args, spark, REGISTRY, layer_names)
    if args.trace:
        from layers import Tracer

        run.tracer = Tracer(spark)

    out["cold_pass_s"] = run.run_pass(0, traced=bool(args.trace))
    checker = Checker(args.data, args.scale)
    t_check = time.time()
    wrong_cold = check_rows(run, checker)
    check_s = time.time() - t_check
    # A traced run alternates traced and untraced warm passes, so the
    # difference between the two is the tracing overhead.
    kinds = (False, True) if args.trace else (False,)
    min_passes = {True: 2, False: 2} if args.trace else {False: MIN_WARM_PASSES}
    cpu0 = cpu_split()
    index, t_warm = 1, time.perf_counter()
    while (time.perf_counter() - t_warm < args.seconds
           or any(len(run.passes[k]) < n for k, n in min_passes.items())):
        run.run_pass(index, traced=kinds[index % len(kinds)])
        index += 1
    cpu1 = cpu_split()
    cpu = {k: (cpu1[k] - cpu0[k]) / (index - 1) for k in cpu0}
    measured = bool(args.trace)
    out["warm_pass_s"] = run.warm_pass_s(measured)
    out["warm_passes"] = len(run.passes[measured])
    out["cpu_s"] = sum(cpu.values())
    mem_tables = sum(t.name.startswith("mem_") for t in spark.catalog.listTables()) / index
    out["env.cpu_control_s"] = statistics.median(cpu_control(spark) for _ in range(3))

    t_check = time.time()
    wrong_warm = check_rows(run, checker)
    checker.close()
    out["check_s"] = check_s + time.time() - t_check
    rss = peak_rss_mb()
    passes = run.passes[measured]
    out.update(
        attempted=run.attempted,
        failed=failed_executions(run.failed, set(wrong_cold), set(wrong_warm), run.warm_ok),
        failures=[f"{n}: raised {k} times" for n, k in run.failed.items()]
        + [f"{n}: cold pass: {why}" for n, why in wrong_cold.items()]
        + [f"{n}: last warm pass: {why}" for n, why in wrong_warm.items()],
        query_samples=run.walls[measured],
        warm_pass_median_s=statistics.median(passes),
        warm_pass_max_s=max(passes),
    )
    if args.trace:
        layer_passes = run.layer_passes[1:]
        layers = {k: statistics.median(p.get(k, 0.0) for p in layer_passes)
                  for k in set().union(*layer_passes)}
        cold = run.layer_passes[0]
        calls = sum(p.get("catalog.calls", 0.0) for p in run.layer_passes)
        hits = sum(p.get("catalog.hits", 0.0) for p in run.layer_passes)
        layers.update({
            "session.import_s": out["session.import_s"],
            "session.start_s": out["session.start_s"],
            "catalog.hit_ratio": hits / calls if calls else 0.0,
            "cold.construct_s": cold.get("construct_s", 0.0),
            "cold.plan_s": cold.get("plan_s", 0.0),
            "cold.execute_s": cold.get("execute_s", 0.0),
            "cold.catalog.load_s": cold.get("catalog.load_s", 0.0),
            "cold.catalog.jobs": cold.get("catalog.jobs", 0.0),
            "plans.construct_self_s": layers.get("construct_s", 0.0) - layers.get("catalog.load_s", 0.0),
            "python_worker_cpu_s": cpu["workers"],
            "cpu.jvm_s": cpu["jvm"],
            "cpu.driver_s": cpu["driver"],
            "peak_rss_mb": sum(rss.values()),
            "mem.jvm_peak_mb": rss["jvm"],
            "mem.workers_peak_mb": rss["workers"],
            "streaming.mem_tables_left": mem_tables,
            "trace.untraced_pass_s": run.warm_pass_s(False),
            "trace.overhead_s": out["warm_pass_s"] - run.warm_pass_s(False),
        })
        for name, q in run.qualified.items():
            walls = run.walls[False][name]
            layers[f"{q}.wall_s"] = statistics.median(walls) if walls else 0.0
        out["layers"] = layers
        if args.trace_out:
            run.tracer.write(args.trace_out)

    spark.stop()
    if args.trace:
        left = disk_bytes(os.environ["TMPDIR"], os.environ["SPARK_LOCAL_DIRS"])
        out["layers"]["disk_left_mb"] = left / 2**20 / index
    with open(args.out, "w") as f:
        json.dump(out, f)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
