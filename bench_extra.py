#!/usr/bin/env python3
"""Round-6 optimization measurement harness (guide §1: measure first).

NOT part of the frozen driver contract (bench.py is the graded harness);
this file exists so individual declared queries can be isolated, timed
with the noop sink, and their formatted plans captured without touching
bench.py. Per-stage pipeline attribution comes from `run_pipeline` itself:
`perfbench/run.py --trace 1` (S0-S7 wall, CPU, tasks, shuffle, spill) and
`bench.py --phase-scaling`.

Usage:
    python bench_extra.py queries [name ...]   # time queries 3x + plans
    python bench_extra.py plans [name ...]     # only dump plans (fast)
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
PLAN_DIR = os.path.join(REPO, "plans", "r06")
PLAN_TAG = os.environ.get("SPARK_GRAFT_PLAN_TAG", "before")


def make_spark():
    from bench import make_spark as mk

    return mk(CPUS)


def _plan_text(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def time_queries(names: list[str], with_plans: bool = True):
    spark = make_spark()
    import __spark_entry__ as entry_mod

    from lsh_for_source_code_spark.caching import release_all

    qs = entry_mod.queries()
    os.makedirs(PLAN_DIR, exist_ok=True)
    out = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"r06: {name}")
        walls = []
        for i in range(3):
            t0 = time.monotonic()
            qs[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
            walls.append(round(time.monotonic() - t0, 3))
            release_all()
        if with_plans:
            df = qs[name](spark, SF_DIR)
            with open(os.path.join(PLAN_DIR, f"{name}_{PLAN_TAG}.txt"), "w") as f:
                f.write(_plan_text(df))
            release_all()
        out[name] = walls
        print(f"WALLS {name} {walls}", flush=True)
    print("RESULT " + json.dumps(out))


def dump_plans(names: list[str]):
    spark = make_spark()
    import __spark_entry__ as entry_mod

    from lsh_for_source_code_spark.caching import release_all

    qs = entry_mod.queries()
    os.makedirs(PLAN_DIR, exist_ok=True)
    for name in names:
        df = qs[name](spark, SF_DIR)
        with open(os.path.join(PLAN_DIR, f"{name}_{PLAN_TAG}.txt"), "w") as f:
            f.write(_plan_text(df))
        release_all()
        print(f"PLAN {name} written", flush=True)


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "queries"
    names = sys.argv[2:]
    if mode == "plans":
        dump_plans(names)
    else:
        if not names:
            from bench import HEADLINE

            names = HEADLINE
        time_queries(names)
