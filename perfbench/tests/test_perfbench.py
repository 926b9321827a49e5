"""Tests of the benchmark itself (not of the engine).

    python3 -m pytest perfbench/tests -q

The generator and feed tests are pure Python. The smoke tests run
``perfbench/run.py`` as a subprocess at sf0.001 — each starts its own
JVM — and check the printed result against ``BENCHMARK.json``.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, ROOT)

from perfbench import datagen, feeds  # noqa: E402


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_generator_is_deterministic_for_a_seed():
    a = datagen.generate(0.001, 7)
    b = datagen.generate(0.001, 7)
    c = datagen.generate(0.001, 8)
    assert set(a) == set(datagen.TABLES)
    for name in datagen.TABLES:
        assert a[name].equals(b[name]), name
    assert not a["orders"].equals(c["orders"])
    assert not a["documents"].equals(c["documents"])


def test_generator_sizes_and_domains():
    t = datagen.generate(0.01, 42)
    for name, n in datagen.row_counts(0.01).items():
        assert t[name].num_rows == n, name
    o = t["orders"].to_pandas()
    assert o["o_orderkey"].is_unique
    assert o["o_orderdate"].min().year == 1995
    emb = np.stack(t["embeddings"].column("embedding").to_numpy(zero_copy_only=False))
    assert emb.shape[1] == 64
    assert np.allclose(np.linalg.norm(emb, axis=1), 1.0, atol=1e-5)
    docs = t["documents"].to_pandas()
    assert (docs["text"].str.len() == docs["n_chars"]).all()
    assert docs["text"].str.endswith(" dup").sum() == len(docs) // 20


def _orders(n: int, months: list[int], keys=None, prices=None, custs=None, days=None):
    import pyarrow as pa

    from datetime import datetime

    keys = list(range(n)) if keys is None else keys
    custs = [k % 7 for k in keys] if custs is None else custs
    days = [1 + k % 28 for k in keys] if days is None else days
    return pa.table(
        {
            "o_orderkey": pa.array(keys, pa.int64()),
            "o_custkey": pa.array(custs, pa.int64()),
            "o_totalprice": [float(p) for p in (prices or [1000 + k for k in keys])],
            "o_orderdate": pa.array(
                [datetime(1995, m, d) for d, m in zip(days, months)],
                pa.timestamp("us"),
            ),
        }
    )


def test_expected_counts_without_duplicates_or_early_arrivals():
    months = [1, 1, 1, 2, 2, 3]
    plan = feeds.FeedPlan((3,), (1, 2), copies=3)
    exp = feeds.expected(plan, _orders(6, months))
    assert exp.loaded == {1: 9, 2: 6, 3: 3}
    assert exp.silver_after == {1: 9, 2: 15, 3: 18}
    assert exp.added == {1: 9, 2: 6, 3: 3}
    assert exp.dead_lettered == {1: 0, 2: 0, 3: 0}


def test_expected_counts_dirty_feed_by_hand():
    # 400 orders, orderkey k in month 1 + k % 4 (all 1995), so location
    # k % 200 holds exactly two orders of one month
    keys = list(range(400))
    orders = _orders(400, [1 + k % 4 for k in keys], keys=keys)
    plan = feeds.make_plan((3, 4), (1, 2), copies=2, seed=11)
    exp = feeds.expected(plan, orders)
    loc_month = {}
    for k in keys:
        loc_month.setdefault((1 + k % 4, k % 200), []).append(k)

    def rows(month, locs):
        return sum(len(loc_month.get((month, loc), [])) for loc in locs) * 2

    for m in (1, 2, 3, 4):
        assert exp.loaded[m] == 100 * 2 + rows(m, plan.dup_locations[m])
    assert exp.silver_after[4] == 400 * 2
    # month 1 carries months 2 and 3 first; every later month adds one new
    first = {1: [2, 3], 2: [4], 3: [5], 4: [6]}
    for m, ks in first.items():
        assert exp.dead_lettered[m] == sum(rows(k, plan.early_locations[k]) for k in ks)
        assert exp.early_offered[m] == sum(
            rows(k, plan.early_locations[k]) for k in plan.early_months(m)
        )


def test_equal_orders_count_once():
    # two orders on one day whose keys agree mod 12600 and with equal
    # price and custkey%200 map to the same taxi row
    orders = _orders(2, [1, 1], keys=[5, 5 + 12600 * 5], prices=[1500, 1500], custs=[3, 203])
    plan = feeds.FeedPlan((1,), (), copies=1)
    assert feeds.expected(plan, orders).silver_after == {1: 1}
    # custkeys equal mod 5 (passenger_count) but not mod 200 (dolocationid)
    orders = _orders(2, [1, 1], keys=[5, 5 + 12600 * 5], prices=[1500, 1500], custs=[3, 8])
    assert feeds.expected(plan, orders).silver_after == {1: 2}


def test_dead_letter_counts_distinct_keys_not_rows():
    # keys 1800 apart differ only in columns the dead-letter key leaves
    # out (o_orderkey % 6 and % 7): two silver rows, one dead-lettered
    orders = _orders(
        2, [2, 2], keys=[5, 1805], prices=[1500, 1500], custs=[3, 3], days=[6, 6]
    )
    plan = feeds.FeedPlan((2,), (1,), copies=1, early_locations={2: (5,)})
    exp = feeds.expected(plan, orders)
    assert exp.silver_after == {1: 0, 2: 2}
    assert exp.dead_lettered == {1: 1, 2: 0}
    assert exp.early_offered == {1: 2, 2: 0}


def test_plan_is_seeded():
    a = feeds.make_plan((4,), (1, 2, 3), 2, 5)
    b = feeds.make_plan((4,), (1, 2, 3), 2, 5)
    c = feeds.make_plan((4,), (1, 2, 3), 2, 6)
    assert a == b
    assert a.early_locations != c.early_locations
    assert sorted(a.early_locations) == [2, 3, 4, 5, 6]


def test_fold_event_log_attributes_scan_bytes_to_the_span(tmp_path):
    from perfbench import trace

    sql = "org.apache.spark.sql.execution.ui.SparkListener"
    plan = {
        "nodeName": "Write",
        "metrics": [{"name": "number of written files", "accumulatorId": 1}],
        "children": [
            {"nodeName": "Scan parquet", "children": [], "metrics": [
                {"name": "size of files read", "accumulatorId": 2},
            ]},
        ],
    }
    events = [
        {"Event": f"{sql}SQLExecutionStart", "executionId": 7, "sparkPlanInfo": plan},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Properties": {
            "spark.jobGroup.id": "span-3", "spark.sql.execution.id": "7"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0},
         "Properties": {"spark.jobGroup.id": "span-3"}},
        {"Event": f"{sql}DriverAccumUpdates", "executionId": 7,
         "accumUpdates": [[1, 4], [2, 1000]]},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 50},
            "Memory Bytes Spilled": 5, "Disk Bytes Spilled": 1}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Properties": {}},
    ]
    log = tmp_path / "events_1"
    log.write_text("".join(json.dumps(e, separators=(",", ":")) + "\n" for e in events))
    counts = trace.fold_event_log([str(log)])
    assert counts[3] == {
        "jobs": 1, "stages": 1, "tasks": 1, "scan_bytes": 1000,
        "shuffle_write_bytes": 50, "spill_bytes": 6,
    }
    assert counts[-1]["jobs"] == 1


def _tagged(tag: str) -> list[int]:
    """Processes whose environment carries ``PERFBENCH_TEST_TAG=tag``:
    whatever a run started, even once it has moved to another parent."""
    needle = f"PERFBENCH_TEST_TAG={tag}".encode()
    found = []
    for name in os.listdir("/proc"):
        try:
            with open(f"/proc/{name}/environ", "rb") as f:
                if needle in f.read().split(b"\0"):
                    found.append(int(name))
        except (OSError, ValueError):
            pass
    return found


def _run(workload: str, trace: int, cwd: str = ROOT, sf: str = "0.001"):
    """Run the benchmark and fail if any process it started outlives it."""
    tag = f"{os.getpid()}-{workload}-{trace}"
    cmd = [
        sys.executable, os.path.join(cwd, "perfbench", "run.py"),
        "--workload", workload, "--seed", "3", "--seconds", "1",
        "--trace", str(trace),
    ]
    if sf:
        cmd += ["--sf", sf]
    # files, not pipes: reading a pipe to its end would wait for every
    # process that inherited it, and hide the ones left running
    with tempfile.TemporaryFile("w+") as out, tempfile.TemporaryFile("w+") as err:
        p = subprocess.run(cmd, cwd=cwd, stdout=out, stderr=err, text=True, timeout=600,
                           env={**os.environ, "PERFBENCH_TEST_TAG": tag})
        assert _tagged(tag) == [], "processes left running after the benchmark exited"
        out.seek(0)
        err.seek(0)
        p.stdout, p.stderr = out.read(), err.read()
    return p


@pytest.mark.parametrize(
    "workload,trace",
    [
        ("medallion_monthly", 0),
        ("medallion_monthly", 1),
        ("query_mix", 0),
        ("query_mix", 1),
    ],
)
def test_smoke_pass_prints_declared_metrics_and_no_failures(workload, trace):
    s = spec()
    assert workload in {w["name"] for w in s["workloads"]}
    p = _run(workload, trace)
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    declared = s["per_layer" if trace else "end_to_end"]
    assert set(out["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        assert out["metrics"][m["name"]]["unit"] == m["unit"], m["name"]
    if not trace:
        assert all(v["value"] > 0 for v in out["metrics"].values())


def test_benchmark_json_declares_what_the_harness_prints():
    from perfbench import metrics, run

    s = spec()
    assert [w["name"] for w in s["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in s["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in s["per_layer"]} == metrics.PER_LAYER


def test_refuses_to_run_without_the_program():
    bare = os.path.join(ROOT, ".perfbench", f"bare-{os.getpid()}")
    shutil.rmtree(bare, ignore_errors=True)
    try:
        shutil.copytree(BENCH, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        p = _run("query_mix", 0, cwd=bare, sf="")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
