"""First-use cost of a benchmark workload: run its operations N times in ONE
Spark process and print each operation's seconds per repetition.

    python3 tools/cold_warm.py --workload meta --reps 3 [--seed 1]

Run from the root of a checkout. The operations, the input tree and the
lookup keys are the ones ``perfbench/run.py --workload ... --seed ...``
times (the tree is planted under ``.perfbench/`` on first use), and the
session gets the same pinned environment and the same warm-up job over
every task slot. Repetition 1 pays what a one-shot CLI process pays
(first-use of each code path, JIT, Python worker imports); later
repetitions show the warm cost, so the difference is the share of
``wall_s`` that is first-use cost rather than work.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [_ROOT, os.path.join(_ROOT, "perfbench")]

import common  # noqa: E402
from child import _run_op  # noqa: E402
from run import WORKLOADS, ensure_input, workload_ops  # noqa: E402


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=WORKLOADS, required=True)
    p.add_argument("--reps", type=int, default=3)
    p.add_argument("--seed", type=int, default=1,
                   help="picks the lookup keys, as perfbench's --seed does")
    args = p.parse_args(argv)

    spec = common.load_spec()
    paths = common.work_paths(_ROOT)
    for k in ("work", "cache", "local", "tmp", "runs"):
        os.makedirs(paths[k], exist_ok=True)
    with open(common.GOLDEN_PATH) as f:
        golden = json.load(f)
    env = common.child_env(_ROOT, spec)
    os.environ.update(env)
    manifest = ensure_input(_ROOT, spec, golden, env)
    tree = paths["tree"]
    point, key_range = common.sample_keys(
        manifest["keys"], args.seed, spec["lookup"]["keys"],
        spec["lookup"]["range_width"],
    )
    ops = workload_ops(args.workload, tree, point, key_range)

    from cassandra_sstable_tools_spark.session import get_spark

    t0 = time.time()
    spark = get_spark(app_name=f"cold-warm-{args.workload}")
    n = spark.sparkContext.defaultParallelism
    spark.sparkContext.parallelize(range(n), n).map(lambda x: x).count()
    print(f"session + warm-up job: {time.time() - t0:.2f} s")
    secs: dict[str, list[float]] = {op["name"]: [] for op in ops}
    try:
        for _ in range(args.reps):
            for op in ops:
                t = time.time()
                _run_op(spark, op)
                secs[op["name"]].append(time.time() - t)
    finally:
        spark.stop()
    width = max(len(name) for name in [*secs, "total"])
    print(f"{'op':<{width}}  " + "  ".join(
        f"{f'rep {i + 1}':>8}" for i in range(args.reps)))
    for name, s in [*secs.items(), ("total", [sum(r) for r in zip(*secs.values())])]:
        print(f"{name:<{width}}  " + "  ".join(f"{x:8.2f}" for x in s))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
