"""Pin the row digests of the workloads' rows-only queries.

Rows-only queries have no DuckDB oracle, so the correctness gate compares
their rows with a digest pinned in ``digests.json``, one set per warehouse
scale. Run from the root of a checkout whose results are known good:

    python3 perfbench/pin_digests.py 0.01 0.001

Each query runs twice, in forward and then reverse order, and its digest
is pinned only if both runs agree.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main(scales: list[float]) -> int:
    repo = os.getcwd()
    sys.path[:0] = [repo, os.path.join(repo, "tests"), HERE]
    from check import DIGESTS, digest
    from datagen import ensure_warehouse
    from workloads import WORKLOADS, queries

    import __spark_entry__
    from rws_data_ingester_spark.plans import REGISTRY
    from rws_data_ingester_spark.session import get_spark

    spark = get_spark(app_name="perfbench-pin")
    oracles = __spark_entry__.oracle_sql()
    with open(DIGESTS) as f:
        pins = json.load(f)
    for scale in scales:
        data = ensure_warehouse(os.path.join(repo, ".perfbench", "data"), scale)
        names = [n for w in WORKLOADS for n in queries(w) if n not in oracles]
        got = {}
        for rnd in range(2):
            for name in (names if rnd == 0 else reversed(names)):
                df = REGISTRY[name].fn(spark, data)
                d = digest(df.columns, [tuple(r) for r in df.collect()])
                if got.setdefault(name, d) != d:
                    print(f"{name}: rows differ between runs at scale {scale:g}; not pinned")
                    got[name] = None
        pins[f"{scale:g}"] = {n: d for n, d in sorted(got.items()) if d is not None}
    with open(DIGESTS, "w") as f:
        json.dump(pins, f, indent=1, sort_keys=True)
        f.write("\n")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main([float(a) for a in sys.argv[1:]]))
