"""Cold end-to-end benchmark of the sstable tools over a planted Cassandra
data directory.

Run from the root of a checkout:

    python3 perfbench/run.py --workload scan --seed 1 --seconds 30 --trace 0

The first run generates the input (a seeded lineitem table) and plants the
data directory through the program's own fixture planter under
``.perfbench/`` in the checkout. Every run then starts fresh Spark
processes (one per workload pass, closed loop, one client) and times
session set-up and each operation; ``--trace 1`` also collects each
operation's Spark signature and runs the single-thread layer ledger. The
last line of stdout is the result JSON; the full record goes to
``.perfbench/runs/``. ``--pin-golden`` re-pins ``perfbench/golden.json``
from the checkout's own outputs.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

import common
from common import PACKAGE

CHILD = os.path.join(common.HERE, "child.py")
WORKLOADS = ("scan", "meta")


# --------------------------------------------------------------------------
# Workloads: the operations of one pass, each a CLI command or a V2 read
# --------------------------------------------------------------------------


def workload_ops(name: str, tree: str, point: list[str], key_range) -> list[dict]:
    def cli(op, *argv):
        return {"name": op, "kind": "cli",
                "argv": [argv[0], "--cassandra-dir", tree, "-b", *argv[1:]]}

    if name == "scan":
        return [cli("purge", "purge"), {"name": "v2_scan", "kind": "v2_count", "root": tree}]
    keys = [a for k in point for a in ("-k", k)]
    return [
        cli("summary", "summary"), cli("pstats", "pstats"),
        cli("lookup_keys", "lookup", *keys),
        cli("lookup_range", "lookup", "--from", key_range[0], "--to", key_range[1]),
    ]


# --------------------------------------------------------------------------
# Processes
# --------------------------------------------------------------------------


def _tree_rss(root_pid: int) -> int:
    """Summed RSS bytes of a process and all its descendants."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    total, todo = 0, [root_pid]
    page = os.sysconf("SC_PAGE_SIZE")
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            pass
    return total


def _wait_group_gone(pgid: int, timeout: float = 10.0) -> None:
    """Kill what is left of a child's process group and wait until every
    member has ended."""
    deadline = time.time() + timeout
    sig = signal.SIGTERM
    while True:
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        if time.time() > deadline:
            sig = signal.SIGKILL
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        time.sleep(0.2)


def spawn(mode: str, job: dict, env: dict, checkout: str, log: str, timeout: float):
    """Run one child to completion; returns (result dict, peak tree RSS)."""
    job_path = job["result"] + ".job.json"
    if os.path.exists(job["result"]):
        os.remove(job["result"])
    peak = [0]
    done = threading.Event()
    with open(log, "w") as err:
        job["t0"] = time.time()  # set-up is timed from here
        with open(job_path, "w") as f:
            json.dump(job, f)
        proc = subprocess.Popen(
            [sys.executable, CHILD, mode, job_path], env=env, cwd=checkout,
            stdout=err, stderr=err, start_new_session=True,
        )

        def sample():
            while not done.wait(0.25):
                peak[0] = max(peak[0], _tree_rss(proc.pid))

        sampler = threading.Thread(target=sample, daemon=True)
        sampler.start()
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            done.set()
            sampler.join()
            _wait_group_gone(proc.pid)
            proc.wait()
    os.remove(job_path)
    if rc != 0 or not os.path.exists(job["result"]):
        with open(log) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"{mode} process failed (rc={rc}); log tail:\n{tail}")
    with open(job["result"]) as f:
        res = json.load(f)
    os.remove(job["result"])
    return res, peak[0]


# --------------------------------------------------------------------------
# Input
# --------------------------------------------------------------------------


def ensure_input(checkout: str, spec: dict, golden: dict, env: dict) -> dict:
    """Generate and plant the tree once per checkout (untimed); return the
    manifest: the tree's shape and its distinct partition keys."""
    p = common.work_paths(checkout)
    if os.path.exists(p["manifest"]):
        with open(p["manifest"]) as f:
            return json.load(f)
    shutil.rmtree(p["tree"], ignore_errors=True)
    common.write_lineitem(p["parquet"], spec["rows"], spec["gen_seed"])
    spawn("plant", {"parquet": p["parquet"], "tree": p["tree"],
                    "result": os.path.join(p["runs"], "plant.json")},
          env, checkout, os.path.join(p["runs"], "plant.log"), timeout=800)
    # the sstables report shows file mtimes: pin them, so reports and their
    # golden digests do not depend on when the tree was planted
    for d, _, files in os.walk(p["tree"]):
        for name in files:
            os.utime(os.path.join(d, name), (spec["mtime"], spec["mtime"]))
    sstables = common.list_tree(p["tree"])
    keys = set()
    from cassandra_sstable_tools_spark.sources.sstable_binary import stream_parse_index_db

    for s in sstables:
        with open(s["stem"] + "Index.db", "rb") as f:
            keys.update(k.decode("utf-8") for k, _ in stream_parse_index_db(f, version=s["version"]))
    manifest = {
        "tables": sorted({s["table"] for s in sstables}),
        "sstables": len(sstables),
        "compressed": sum(s["compressed"] for s in sstables),
        "keys": sorted(keys),
    }
    shape = {k: manifest[k] for k in ("tables", "sstables", "compressed")}
    if golden and shape != golden["shape"]:
        raise SystemExit(f"planted tree has shape {shape}; expected {golden['shape']}")
    with open(p["manifest"], "w") as f:
        json.dump(manifest, f)
    return manifest


def prime(tree: str) -> None:
    """Warm the page cache with every file of the tree."""
    for d, _, files in os.walk(tree):
        for name in files:
            with open(os.path.join(d, name), "rb") as f:
                while f.read(8 << 20):
                    pass


# --------------------------------------------------------------------------
# Output checks
# --------------------------------------------------------------------------


def parse_records(text: str, title: str) -> dict[tuple, int]:
    """Record counts per (table, sstable, key) from a lookup report's
    ``title`` table."""
    counts: dict[tuple, int] = {}
    lines = text.splitlines()
    if title not in lines:
        return counts
    i = lines.index(title) + 1
    seen_header = False
    for line in lines[i:]:
        if not line.strip():
            break
        if not line.startswith("|"):
            continue
        cols = [c.strip() for c in line.strip("|").split("|")]
        if not seen_header:
            seen_header = True
            continue
        ident = (cols[1], cols[2], cols[3])
        counts[ident] = counts.get(ident, 0) + 1
    return counts


def check_pass(res: dict, golden: dict, kernels: dict | None, tree: str,
               expected: tuple | None) -> dict[str, list[str]]:
    """Failures per operation name for one pass. ``kernels`` holds this
    checkout's per-table cell counts by kernel (scan only); they and the V2
    counts must all equal the pinned per-table counts."""
    fails: dict[str, list[str]] = {}
    for op in res["ops"]:
        name = op["name"]
        if "error" in op:
            fails[name] = [f"{name}: {op['error'].strip().splitlines()[-1]}"]
            continue
        out = op["out"]
        f: list[str] = []
        if name in ("purge", "summary", "pstats"):
            f += common.check_digest(name, out["stdout"], tree, golden.get("digests", {}))
        if name == "v2_scan":
            f += common.check_equal("v2 counts vs golden", out["counts"], golden.get("tables"))
            for kernel, counts in kernels.items():
                f += common.check_equal(f"{kernel} counts vs golden", counts, golden.get("tables"))
        if name == "lookup_keys":
            f += common.check_equal(
                "lookup -k records", parse_records(out["stdout"], "Per-SSTable records"),
                expected[0])
        if name == "lookup_range":
            f += common.check_equal(
                "lookup range records", parse_records(out["stdout"], "Range records"),
                expected[1])
        if f:
            fails[name] = f
    return fails


# --------------------------------------------------------------------------
# Main
# --------------------------------------------------------------------------


def run(args, checkout: str, spec: dict, golden: dict) -> dict:
    p = common.work_paths(checkout)
    env = common.child_env(checkout, spec)
    manifest = ensure_input(checkout, spec, golden, env)

    from cassandra_sstable_tools_spark.sources import cellwalk

    if cellwalk.available() != spec["kernel"]["cellwalk_available"]:
        raise SystemExit(
            f"cellwalk.available() is {cellwalk.available()}, the pinned record "
            f"says {spec['kernel']['cellwalk_available']}: refusing to report"
        )
    prime(p["tree"])
    point, key_range = common.sample_keys(
        manifest["keys"], args.seed, spec["lookup"]["keys"], spec["lookup"]["range_width"])
    kernels = expected = None
    if args.workload == "scan":
        from ledger import kernel_counts

        kernels = kernel_counts(p["tree"])
    else:
        from ledger import expected_records

        expected = expected_records(p["tree"], point, key_range)

    # passes run back to back while the next one is projected to end
    # within --seconds; the first always runs
    passes = []
    start = time.time()
    while True:
        t_pass = time.time()
        ops = workload_ops(args.workload, p["tree"], point, key_range)
        tag = f"{args.workload}-{args.seed}-{args.trace}-{len(passes)}"
        res, peak = spawn(
            "ops",
            {"workload": args.workload, "trace": args.trace, "ops": ops,
             "result": os.path.join(p["runs"], tag + ".json")},
            env, checkout, os.path.join(p["runs"], tag + ".log"), timeout=140)
        res["peak_rss_bytes"] = peak
        res["fails"] = check_pass(res, golden, kernels, p["tree"], expected)
        passes.append(res)
        now = time.time()
        if now - start + (now - t_pass) > args.seconds:
            break

    attempted = sum(len(r["ops"]) for r in passes)
    failed = sum(len(r["fails"]) for r in passes)
    op_names = [o["name"] for o in passes[0]["ops"]]
    per_op = {n: statistics.median([o["s"] for r in passes for o in r["ops"] if o["name"] == n])
              for n in op_names}
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "passes": len(passes), "per_op_s": per_op,
        "fails": [f for r in passes for fs in r["fails"].values() for f in fs],
        "point_keys": point, "key_range": key_range, "kernel_counts": kernels,
        "ops": [[{k: v for k, v in o.items() if k != "out"} for o in r["ops"]] for r in passes],
    }
    if not args.trace:
        values = {
            "setup_s": statistics.median([r["setup_s"] for r in passes]),
            "wall_s": statistics.median([sum(o["s"] for o in r["ops"]) for r in passes]),
            "peak_rss_mb": max(r["peak_rss_bytes"] for r in passes) / 2**20,
        }
    else:
        values = traced_metrics(passes, p, point, record)
    declared = common.load_benchmark()["per_layer" if args.trace else "end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared}
    record["metrics"] = values
    os.makedirs(p["runs"], exist_ok=True)
    with open(os.path.join(p["runs"], f"{args.workload}-{args.seed}-{args.trace}.record.json"), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps({"per_op_s": per_op, "fails": record["fails"]}))
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
        "_passes": passes,
    }


_SIG_FIELDS = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
               "shuffle_write_mb")


def traced_metrics(passes: list[dict], p: dict, point: list[str], record: dict) -> dict:
    from ledger import run_ledger

    m: dict[str, float] = {}
    sigs = [o["signature"] for r in passes for o in r["ops"]]
    record["signatures"] = {
        o["name"]: [o["signature"][k] for k in ("jobs", "stages", "tasks", "shuffle_write_mb")]
        for o in passes[0]["ops"]
    }
    for field in _SIG_FIELDS:
        m[f"spark.{field}"] = sum(s[field] for s in sigs) / len(passes)
    tasks = sum(s["tasks"] for s in sigs)
    m["spark.task_ok_ratio"] = (tasks - sum(s["failed_tasks"] for s in sigs)) / max(1, tasks)
    m["session.start_s"] = statistics.median([r["session_start_s"] for r in passes])
    m["session.first_job_s"] = statistics.median([r["session_first_job_s"] for r in passes])
    m["trace.overhead_s"] = statistics.median([r["trace_overhead_s"] for r in passes])
    ledger_m, tr = run_ledger(p["tree"], point, os.path.join(p["work"], "ledger-out"))
    m.update(ledger_m)
    with open(os.path.join(p["runs"], f"{record['workload']}-{record['seed']}.spans.json"), "w") as f:
        json.dump(tr.spans, f)
    return m


def pin_golden(checkout: str, spec: dict) -> None:
    """Pin the goldens from this checkout's own outputs (seed 0)."""
    from ledger import kernel_counts

    golden: dict = {"digests": {}}
    p = common.work_paths(checkout)
    manifest = ensure_input(checkout, spec, {}, common.child_env(checkout, spec))
    golden["shape"] = {k: manifest[k] for k in ("tables", "sstables", "compressed")}
    kernels = kernel_counts(p["tree"])
    if kernels["C walk"] != kernels["interpreted"]:
        raise SystemExit(f"C walk and interpreted kernel disagree: {kernels}; not pinning")
    golden["tables"] = kernels["interpreted"]
    for w in WORKLOADS:
        args = argparse.Namespace(workload=w, seed=0, seconds=0, trace=0)
        res = run(args, checkout, spec, golden)
        for op in res["_passes"][0]["ops"]:
            if "stdout" in op.get("out", {}):
                golden["digests"][op["name"]] = common.report_digest(op["out"]["stdout"], p["tree"])
    for k in ("lookup_keys", "lookup_range"):
        golden["digests"].pop(k, None)
    with open(common.GOLDEN_PATH, "w") as f:
        json.dump(golden, f, indent=1, sort_keys=True)
        f.write("\n")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--pin-golden", action="store_true")
    args = ap.parse_args(argv)

    checkout = os.getcwd()
    if not os.path.isfile(os.path.join(checkout, PACKAGE, "__main__.py")):
        sys.stderr.write(f"no {PACKAGE} package under {checkout}: run from the repository root\n")
        return 2
    spec = common.load_spec()
    p = common.work_paths(checkout)
    for k in ("work", "cache", "local", "tmp", "runs"):
        os.makedirs(p[k], exist_ok=True)
    # the parent imports the package too (kernel check, ledger): same
    # cache and temp locations as the children
    os.environ.update({k: common.child_env(checkout, spec)[k]
                       for k in ("XDG_CACHE_HOME", "TMPDIR", "SPARK_GRAFT_CPUS")})
    os.environ.pop("SPARK_GRAFT_NO_CELLWALK", None)
    sys.path.insert(0, checkout)
    if args.pin_golden:
        pin_golden(checkout, spec)
        return 0
    if args.workload is None:
        ap.error("--workload is required")
    with open(common.GOLDEN_PATH) as f:
        golden = json.load(f)
    result = run(args, checkout, spec, golden)
    result.pop("_passes")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
