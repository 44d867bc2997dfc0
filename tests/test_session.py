"""The session factory (session.py): every Python task of a session runs
in one worker pool."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Run in a fresh process: the test session's own JVM has run every kind
# of Python task of the suite before this test.
_PROBE = textwrap.dedent("""
    import os

    from cassandra_sstable_tools_spark.session import get_spark

    spark = get_spark(app_name="one-pool", master="local[2]")
    sc = spark.sparkContext
    assert sc.parallelize(range(4), 2).map(lambda x: x + 1).sum() == 10
    assert spark.range(8).mapInArrow(lambda it: it, "id long").count() == 8

    def cmdline(pid):
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\\0", b" ").decode()

    jvm = sc._gateway.proc.pid
    daemons = 0
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            daemons += ppid == jvm and "pyspark.daemon" in cmdline(pid)
        except OSError:  # exited while listed
            pass
    spark.stop()
    print("daemons", daemons)
""")


def test_rdd_and_sql_python_tasks_share_one_daemon():
    """After one RDD job and one ``mapInArrow`` job, the JVM has exactly
    one ``pyspark.daemon`` child: both kinds of task draw workers from
    one pool."""
    env = {
        **os.environ, "PYTHONPATH": _REPO, "SPARK_GRAFT_DRIVER_MEM": "1g",
    }
    got = subprocess.run(
        [sys.executable, "-c", _PROBE], env=env, capture_output=True,
        text=True, timeout=300,
    )
    assert got.returncode == 0, got.stderr[-2000:]
    assert "daemons 1" in got.stdout.splitlines()
