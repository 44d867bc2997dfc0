"""Shared pieces of the cold end-to-end benchmark: work-dir layout, the
pinned child environment, the input generator, the seeded key sample and
the output checks. Importing this module starts nothing and opens nothing.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import re

HERE = os.path.dirname(os.path.abspath(__file__))
SPEC_PATH = os.path.join(HERE, "spec.json")
BENCHMARK_PATH = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
GOLDEN_PATH = os.path.join(HERE, "golden.json")
PACKAGE = "cassandra_sstable_tools_spark"
METRIC_NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def load_spec() -> dict:
    with open(SPEC_PATH) as f:
        return json.load(f)


def load_benchmark() -> dict:
    with open(BENCHMARK_PATH) as f:
        return json.load(f)


def work_paths(checkout: str) -> dict:
    """Everything the benchmark writes lives under ``<checkout>/.perfbench``."""
    w = os.path.join(checkout, ".perfbench")
    return {
        "work": w,
        "parquet": os.path.join(w, "input"),
        "tree": os.path.join(w, "tree"),
        "manifest": os.path.join(w, "manifest.json"),
        "cache": os.path.join(w, "cache"),
        "local": os.path.join(w, "spark-local"),
        "tmp": os.path.join(w, "tmp"),
        "runs": os.path.join(w, "runs"),
    }


def child_env(checkout: str, spec: dict) -> dict:
    """The pinned environment of every Spark process the benchmark starts:
    all cores, a driver heap that fits the box, and every scratch location
    (the Spark local dir, the cellwalk .so cache, temp files) inside the
    checkout. The local dir goes through the program's own knob, which
    otherwise picks /dev/shm, outside the checkout."""
    p = work_paths(checkout)
    env = dict(os.environ)
    for k in ("SPARK_GRAFT_NO_CELLWALK", "SPARK_LOCAL_DIRS"):
        env.pop(k, None)
    env.update(spec["env"])
    env.update(
        {
            "SPARK_GRAFT_CPUS": str(os.cpu_count() or 1),
            "PYTHONPATH": checkout,
            "XDG_CACHE_HOME": p["cache"],
            "SPARK_GRAFT_LOCAL_DIR": p["local"],
            "TMPDIR": p["tmp"],
            # no hsperfdata files in /tmp, JVM temp files in the checkout
            "JAVA_TOOL_OPTIONS": " ".join(filter(None, [
                env.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData",
                f"-Djava.io.tmpdir={p['tmp']}",
            ])),
        }
    )
    return env


# --------------------------------------------------------------------------
# Input: a TPC-H-shaped lineitem table. The program's fixture planter
# derives every sstable component (Index, Data, Statistics, Summary,
# Filter, CompressionInfo, ...) from it, so the tree is fixed by GEN_SEED
# and the row count alone; the run seed never changes it.
# --------------------------------------------------------------------------


def write_lineitem(out_dir: str, rows: int, gen_seed: int) -> str:
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(gen_seed)
    sf = rows / 6_000_000
    n_orders = max(1, int(1_500_000 * sf))
    n_parts = max(1, int(200_000 * sf))
    n_supp = max(1, int(10_000 * sf))
    day0 = np.datetime64("1995-01-02", "D")
    days = (np.datetime64("2001-11-04", "D") - day0).astype(int)
    df = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n_orders, rows, dtype=np.int64),
            "l_partkey": rng.integers(0, n_parts, rows, dtype=np.int64),
            "l_suppkey": rng.integers(0, n_supp, rows, dtype=np.int64),
            "l_linenumber": rng.integers(1, 8, rows).astype(np.int32),
            "l_quantity": rng.integers(1, 51, rows).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, rows), 2),
            "l_discount": rng.integers(0, 11, rows) / 100.0,
            "l_tax": rng.integers(0, 9, rows) / 100.0,
            "l_returnflag": rng.choice(np.array(["R", "A", "N"]), rows),
            "l_linestatus": rng.choice(np.array(["O", "F"]), rows),
            "l_shipdate": (
                day0 + rng.integers(0, days + 1, rows).astype("timedelta64[D]")
            ).astype("datetime64[us]"),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "lineitem.parquet")
    df.to_parquet(path + ".tmp", index=False)
    os.replace(path + ".tmp", path)
    return path


# --------------------------------------------------------------------------
# Tree listing and the seeded key sample
# --------------------------------------------------------------------------


def list_tree(tree: str) -> list[dict]:
    """The sstables of a ``<root>/<keyspace>/<table>/`` tree in file order."""
    out = []
    for ks in sorted(os.listdir(tree)):
        kd = os.path.join(tree, ks)
        if not os.path.isdir(kd):
            continue
        for tb in sorted(os.listdir(kd)):
            td = os.path.join(kd, tb)
            for name in sorted(os.listdir(td)):
                if not name.endswith("-big-Index.db"):
                    continue
                ver, ss = name.split("-")[:2]
                stem = os.path.join(td, name[: -len("Index.db")])
                out.append(
                    {
                        "keyspace": ks, "table": tb, "sstable_id": ss,
                        "version": ver, "stem": stem,
                        "compressed": os.path.exists(stem + "CompressionInfo.db"),
                    }
                )
    return out


def sample_keys(all_keys: list[str], seed: int, n_keys: int, range_width: int):
    """(point keys, (range lo, range hi)) drawn from the sorted distinct
    Index.db key set. Only the seed picks them; the same seed gives the
    same sample on every call."""
    keys = sorted(set(all_keys))
    rnd = random.Random(seed)
    point = sorted(rnd.sample(keys, min(n_keys, len(keys))))
    width = min(range_width, len(keys))
    lo = rnd.randrange(0, len(keys) - width + 1)
    return point, (keys[lo], keys[lo + width - 1])


# --------------------------------------------------------------------------
# Output checks. Each returns a list of failure strings (empty = passed).
# --------------------------------------------------------------------------


def report_digest(text: str, tree: str) -> str:
    """sha256 of a CLI report with the tree's absolute path masked, so a
    golden pinned in one checkout holds in another."""
    return hashlib.sha256(text.replace(tree, "<tree>").encode()).hexdigest()


def check_digest(op: str, text: str, tree: str, golden: dict) -> list[str]:
    want = golden.get(op)
    if want is None:
        return [f"{op}: no golden digest pinned"]
    got = report_digest(text, tree)
    return [] if got == want else [f"{op}: report digest {got[:12]} != golden {want[:12]}"]


def check_equal(what: str, got, want) -> list[str]:
    return [] if got == want else [f"{what}: got {got!r}, expected {want!r}"]
