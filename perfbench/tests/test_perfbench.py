"""Tests of the benchmark itself. Run from the repository root:

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

The smoke tests run each workload end to end on a tiny warehouse
(``lineitem`` 6,000 rows), about a minute each.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
REPO = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, REPO]

import datagen  # noqa: E402
import run  # noqa: E402
from worker import failed_executions  # noqa: E402
from workloads import WORKLOADS, pass_order, queries, spec  # noqa: E402

TINY = 0.001
BENCH_SPEC = spec(REPO)


def test_queries_resolve_in_registry_with_their_module():
    from rws_data_ingester_spark.plans import REGISTRY

    assert sorted(w["name"] for w in BENCH_SPEC["workloads"]) == sorted(WORKLOADS)
    for workload, qualified in WORKLOADS.items():
        for q in qualified:
            module, name = q.rsplit(".", 1)
            assert name in REGISTRY, q
            assert REGISTRY[name].fn.__module__ == f"rws_data_ingester_spark.{module}", q


def test_rows_only_queries_have_pins_at_both_scales():
    import __spark_entry__
    from check import load_pins

    oracles = __spark_entry__.oracle_sql()
    rows_only = {n for w in WORKLOADS for n in queries(w) if n not in oracles}
    for scale in (run.SCALE, TINY):
        assert rows_only <= set(load_pins(scale)), scale


def test_seed_permutes_order_only():
    for workload in WORKLOADS:
        names = sorted(queries(workload))
        orders = {tuple(pass_order(workload, seed, i)) for seed in range(5) for i in range(3)}
        assert all(sorted(o) == names for o in orders)
        assert len(orders) > 1
        assert pass_order(workload, 7, 2) == pass_order(workload, 7, 2)


def test_warehouse_rows_do_not_depend_on_anything_but_scale(tmp_path):
    a = datagen.build_tables(TINY)
    b = datagen.build_tables(TINY)
    assert set(a) == set(datagen.TABLES)
    assert all(a[t].equals(b[t]) for t in a)
    # The fixture warehouses' row counts at sf0.001.
    assert {t: a[t].num_rows for t in ("lineitem", "events", "documents", "embeddings")} == {
        "lineitem": 6000, "events": 1000, "documents": 500, "embeddings": 500}
    assert str(a["events"].schema.field("ts").type) == "timestamp[us]"
    out = datagen.ensure_warehouse(str(tmp_path), TINY)
    assert sorted(os.listdir(out)) == sorted(f"{t}.parquet" for t in datagen.TABLES)
    assert datagen.ensure_warehouse(str(tmp_path), TINY) == out
    assert not [p for p in os.listdir(tmp_path) if p.startswith(".gen-")]


def test_wrong_rows_on_either_pass_count_as_failed():
    # Wrong cold rows fail the one cold execution; wrong last-warm rows fail
    # every warm execution of that query that did not raise.
    warm_ok = {"q1": 3, "q2": 3}
    assert failed_executions({}, set(), set(), warm_ok) == 0
    assert failed_executions({}, {"q1"}, set(), warm_ok) == 1
    assert failed_executions({}, set(), {"q2"}, warm_ok) == 3
    assert failed_executions({"q1": 1}, {"q2"}, {"q2"}, warm_ok) == 5


def test_checker_flags_changed_rows():
    from check import Checker

    sys.path.insert(0, os.path.join(REPO, "tests"))
    data = datagen.ensure_warehouse(os.path.join(REPO, ".perfbench", "data"), TINY)
    checker = Checker(data, TINY)
    res = checker.con.execute(checker.oracles["q1_pricing_summary"])
    cols = [d[0] for d in res.description]
    rows = [tuple(r) for r in res.fetchall()]
    assert checker.mismatch("q1_pricing_summary", cols, rows) is None
    assert checker.mismatch("q1_pricing_summary", cols, rows[1:])
    changed = [tuple(v * 2 if isinstance(v, float) else v for v in rows[0])] + rows[1:]
    assert checker.mismatch("q1_pricing_summary", cols, changed)
    assert checker.mismatch("pipeline_training_data", ["x"], [(1,)])
    checker.close()


def test_parse_metric():
    from layers import parse_metric

    assert parse_metric("64.0 MiB") == 64 * 2**20
    assert parse_metric("18,063") == 18063
    assert parse_metric("1.1 s") == 1100
    assert parse_metric("total (min, med, max (stageId: taskId))\n21 ms (7 ms, 14 ms, 14 ms (stage 1.0: task 3))") == 21
    assert parse_metric(None) == 0.0


def _run(workload: str, trace: int) -> dict:
    buf = io.StringIO()
    cwd = os.getcwd()
    os.chdir(REPO)
    try:
        with contextlib.redirect_stdout(buf):
            code = run.main(["--workload", workload, "--seed", "3", "--seconds", "0",
                             "--trace", str(trace)], scale=TINY)
    finally:
        os.chdir(cwd)
    assert code == 0, buf.getvalue()
    return json.loads(buf.getvalue().strip().splitlines()[-1])


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_smoke_run_passes_the_gate_and_reports_every_end_to_end_metric(workload):
    res = _run(workload, trace=0)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in BENCH_SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(v["value"] > 0 for v in res["metrics"].values())


def test_traced_smoke_run_reports_every_per_layer_metric():
    res = _run("pipeline", trace=1)
    assert res["correct"]
    want = {m["name"]: m["unit"] for m in BENCH_SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert m["construct_jobs"] > 0 and m["python_worker_cpu_s"] > 0
    assert m["operators.training.pipeline_training_data.construct_jobs"] > 0
    assert m["streaming.batches"] > 0 and m["sink.files_written"] > 0
