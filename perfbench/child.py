"""One Spark process of the benchmark. Never imported by run.py; started
as ``python3 perfbench/child.py <mode> <job.json>`` with the pinned
environment from ``common.child_env``.

Modes:
  plant  build the input tree from the generated lineitem parquet (untimed)
  ops    time session set-up, then run each operation of one workload pass
         and write per-operation times, outputs and (traced) Spark
         signatures to the job's result file
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import sys
import time
import traceback


def _session(app: str):
    from cassandra_sstable_tools_spark.session import get_spark

    return get_spark(app_name=app)


def plant(job: dict) -> dict:
    from cassandra_sstable_tools_spark.sources.sstable_binary import (
        materialize_index_files,
    )

    spark = _session("perfbench-plant")
    try:
        root = materialize_index_files(spark, job["parquet"], root=job["tree"])
    finally:
        spark.stop()
    return {"tree": root}


class _Signatures:
    """Per-operation Spark signature from the status REST API: the jobs,
    stages and tasks an operation ran, and what its stages report for run
    time, CPU, GC and shuffle. The seconds spent reading the API are kept
    as the tracing overhead."""

    def __init__(self, spark):
        sc = spark.sparkContext
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
        self.overhead_s = 0.0
        self.jobs, self.stages = self._ids()

    def _get(self, path: str):
        import urllib.request

        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as r:
            return json.loads(r.read())

    def _ids(self):
        t = time.perf_counter()
        jobs = {j["jobId"] for j in self._get("jobs")}
        stages = {(s["stageId"], s["attemptId"]): s for s in self._get("stages")}
        self.overhead_s += time.perf_counter() - t
        return jobs, stages

    def take(self) -> dict:
        t = time.perf_counter()
        jobs, stages = self._ids()
        new_jobs = jobs - self.jobs
        new = [s for k, s in stages.items() if k not in self.stages]
        self.jobs, self.stages = jobs, stages
        self.overhead_s += time.perf_counter() - t
        done = [s for s in new if s.get("status") in ("COMPLETE", "FAILED")]
        return {
            "jobs": len(new_jobs),
            "stages": len(done),
            "tasks": sum(s.get("numCompleteTasks", 0) + s.get("numFailedTasks", 0) for s in done),
            "failed_tasks": sum(s.get("numFailedTasks", 0) for s in done),
            "executor_run_s": sum(s.get("executorRunTime", 0) for s in done) / 1e3,
            "executor_cpu_s": sum(s.get("executorCpuTime", 0) for s in done) / 1e9,
            "gc_s": sum(s.get("jvmGcTime", 0) for s in done) / 1e3,
            "shuffle_write_mb": sum(s.get("shuffleWriteBytes", 0) for s in done) / 2**20,
        }


def _run_op(spark, op: dict) -> dict:
    """Run one operation; return its stdout-equivalent output."""
    kind = op["kind"]
    if kind == "cli":
        from cassandra_sstable_tools_spark.__main__ import main

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            rc = main(op["argv"], spark=spark)
        if rc != 0:
            raise RuntimeError(f"exit code {rc}")
        return {"stdout": buf.getvalue()}
    if kind == "v2_count":
        from cassandra_sstable_tools_spark.sources.pyds import FORMAT_NAME, register

        register(spark)
        rows = (
            spark.read.format(FORMAT_NAME).load(op["root"])
            .groupBy("table_name").count().collect()
        )
        return {"counts": {r["table_name"]: int(r["count"]) for r in rows}}
    raise ValueError(f"unknown op kind {kind!r}")


def ops(job: dict) -> dict:
    t0 = job["t0"]  # wall clock at spawn, taken by the parent
    spark = _session("perfbench-" + job["workload"])
    t_session = time.time()
    n = spark.sparkContext.defaultParallelism
    spark.sparkContext.parallelize(range(n), n).map(lambda x: x).count()
    t_ready = time.time()
    res = {
        "setup_s": t_ready - t0,
        "session_start_s": t_session - t0,
        "session_first_job_s": t_ready - t_session,
        "ops": [],
    }
    sig = _Signatures(spark) if job["trace"] else None
    try:
        for op in job["ops"]:
            rec = {"name": op["name"]}
            t = time.perf_counter()
            try:
                rec["out"] = _run_op(spark, op)
                rec["s"] = time.perf_counter() - t
            except Exception:  # noqa: BLE001 -- one failed op is counted, the pass goes on
                rec["s"] = time.perf_counter() - t
                rec["error"] = traceback.format_exc(limit=5)
            if sig is not None:
                rec["signature"] = sig.take()
            res["ops"].append(rec)
        if sig is not None:
            res["trace_overhead_s"] = sig.overhead_s
    finally:
        spark.stop()
    return res


if __name__ == "__main__":
    mode, job_path = sys.argv[1], sys.argv[2]
    with open(job_path) as f:
        job = json.load(f)
    out = {"plant": plant, "ops": ops}[mode](job)
    with open(job["result"] + ".tmp", "w") as f:
        json.dump(out, f)
    os.replace(job["result"] + ".tmp", job["result"])
