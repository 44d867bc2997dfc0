"""The benchmark's own tests: no Spark, no planted tree.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import common  # noqa: E402
import run  # noqa: E402

KEYS = [f"{i:012d}" for i in range(0, 5000, 3)]
TREE = "/data/tree"


def test_same_seed_same_sample():
    a = common.sample_keys(KEYS, 7, 64, 64)
    assert a == common.sample_keys(list(reversed(KEYS)), 7, 64, 64)
    assert a != common.sample_keys(KEYS, 8, 64, 64)
    point, (lo, hi) = a
    assert len(point) == len(set(point)) == 64
    assert KEYS.index(hi) - KEYS.index(lo) == 63


def test_benchmark_json_contract():
    b = common.load_benchmark()
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    names = [m["name"] for m in b["end_to_end"] + b["per_layer"]]
    names += [w["name"] for w in b["workloads"]]
    assert len(names) == len(set(names))
    assert all(common.METRIC_NAME.match(n) for n in names), names
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in b["workloads"])
    assert all(0 < m["bound"] <= 0.25 for m in b["end_to_end"])
    setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"]
    assert setup == [{"name": "setup_s", "unit": "s", "better": "lower",
                      "bound": max(m["bound"] for m in b["end_to_end"])}]
    assert {w["name"] for w in b["workloads"]} == set(common.load_spec()["workloads"])


def _golden():
    return {
        "digests": {"purge": common.report_digest(f"purge {TREE}\n", TREE)},
        "tables": {"t": 3},
    }


def _scan_pass(purge_out: str, counts: dict) -> dict:
    return {"ops": [
        {"name": "purge", "out": {"stdout": purge_out}},
        {"name": "v2_scan", "out": {"counts": counts}},
    ]}


KERNELS = {"C walk": {"t": 3}, "interpreted": {"t": 3}}


def test_correct_outputs_pass():
    # the digest masks the tree path, so a golden holds in any checkout
    res = _scan_pass("purge /data/tree\n", {"t": 3})
    assert run.check_pass(res, _golden(), KERNELS, TREE, None) == {}


def test_wrong_golden_or_count_fails():
    g = _golden()
    g["digests"]["purge"] = "0" * 64
    fails = run.check_pass(_scan_pass(f"purge {TREE}\n", {"t": 3}), g, KERNELS, TREE, None)
    assert list(fails) == ["purge"]
    fails = run.check_pass(_scan_pass(f"purge {TREE}\n", {"t": 4}), _golden(), KERNELS, TREE,
                           None)
    assert fails == {"v2_scan": ["v2 counts vs golden: got {'t': 4}, expected {'t': 3}"]}


def test_wrong_kernel_count_fails():
    # a kernel of the checkout under test that miscounts fails the pass
    # even when the V2 source still counts right
    kernels = {"C walk": {"t": 3}, "interpreted": {"t": 2}}
    fails = run.check_pass(_scan_pass(f"purge {TREE}\n", {"t": 3}), _golden(), kernels, TREE,
                           None)
    assert fails == {"v2_scan": ["interpreted counts vs golden: got {'t': 2}, expected {'t': 3}"]}


def test_failed_operation_counts():
    res = {"ops": [{"name": "summary", "error": "Traceback\nValueError: boom\n"}]}
    assert run.check_pass(res, _golden(), KERNELS, TREE, None) == {
        "summary": ["summary: ValueError: boom"]}


def test_lookup_records_parse_and_compare():
    text = "\n".join([
        "Per-SSTable records",
        "+----+----+----+----+",
        "| keyspace | table_name | sstable_id | partition_key | kind |",
        "+----+----+----+----+",
        "| ks1 | t | 00001 | 000000000003 | CELL |",
        "| ks1 | t | 00001 | 000000000003 | ROW_DELETE |",
        "| ks1 | t | 00002 | 000000000003 | CELL |",
        "+----+----+----+----+",
        "",
        "Range records",
    ])
    got = run.parse_records(text, "Per-SSTable records")
    assert got == {("t", "00001", "000000000003"): 2, ("t", "00002", "000000000003"): 1}
    res = {"ops": [{"name": "lookup_keys", "out": {"stdout": text}}]}
    expected = ({("t", "00001", "000000000003"): 2}, {})
    fails = run.check_pass(res, {}, KERNELS, TREE, expected)
    assert "lookup_keys" in fails

