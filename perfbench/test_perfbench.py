"""Tests of the benchmark itself: seeded op order, the oracle gate and the
per-layer row schema. Run from the repository root:

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

import pytest

from perfbench import run
from perfbench.layers import OP_LAYER_METRICS, SESSION_METRICS, parse_sql_metric
from perfbench.workloads import WORKLOADS, Workload, pass_order


def test_seeds_run_the_same_multiset_of_ops():
    for w in WORKLOADS.values():
        orders = [pass_order(w, seed, p) for seed in (1, 2) for p in range(3)]
        for order in orders:
            assert sorted(order) == sorted(w.ops)
        # the seed is the only source of the order
        assert pass_order(w, 7, 1) == pass_order(w, 7, 1)
        if len(w.ops) > 3:
            assert len({tuple(o) for o in orders}) > 1


def test_traced_halves_are_balanced_over_four_passes():
    for seed in (1, 2):
        for op in range(3):
            traced = [p for p in range(1, 5) if run.traced_half(op, seed, p)]
            # A B B A: traced in the outer or in the inner two passes
            assert traced in ([1, 4], [2, 3])
        # neighbouring ops are in opposite halves
        assert run.traced_half(0, seed, 1) != run.traced_half(1, seed, 1)


def test_traced_run_ends_on_a_balanced_block():
    for passes in (1, 4, 5, 6, 8, 9):
        n = run.traced_passes(passes)
        assert n >= max(passes, 6) and n % 2 == 0
        for op in range(3):
            halves = [run.traced_half(op, 1, p) for p in range(n - 3, n + 1)]
            # A B B A or B A A B over the last four passes
            assert halves[0] == halves[3] != halves[1] == halves[2]


def test_end_processes_reaps_orphaned_descendants():
    # a child starts a sleeper and exits at once, orphaning the sleeper;
    # the sweep of a subreaper must still find it and end it
    script = textwrap.dedent(
        """
        import os, subprocess, sys
        from perfbench import run
        run.become_subreaper()
        out = subprocess.run(
            [sys.executable, "-c", "import subprocess; "
             "print(subprocess.Popen(['sleep', '300'], stdout=subprocess.DEVNULL, "
             "stderr=subprocess.DEVNULL).pid)"],
            capture_output=True, text=True, check=True,
        ).stdout
        pid = int(out)
        assert os.path.exists(f"/proc/{pid}")
        run.end_processes(grace_s=2)
        print(pid, os.path.exists(f"/proc/{pid}"))
        """
    )
    done = subprocess.run(
        [sys.executable, "-c", script], cwd=run.ROOT, capture_output=True, text=True, timeout=60
    )
    assert done.returncode == 0, done.stderr
    assert done.stdout.split()[1] == "False"


def test_tail_is_highest_percentile_with_ten_beyond():
    walls = {"a": [float(i) for i in range(1, 21)], "b": [float(i) for i in range(21, 41)]}
    value, rule = run.tail(walls)
    assert value == 30.0 and rule == "p75.0 of 40"
    # too few executions for a percentile above the median
    assert run.tail({"a": [1.0, 2.0, 9.0], "b": [3.0, 4.0, 5.0]}) == (4.0, "slowest op median")


def test_parse_sql_metric():
    assert parse_sql_metric("2.7 s") == pytest.approx(2.7)
    assert parse_sql_metric("total (min, med, max (stageId: taskId))\n260 ms (7 ms, 45 ms)") == pytest.approx(0.26)
    assert parse_sql_metric("total (min, med, max)\n2.5 KiB (280.0 B, 320.0 B)") == pytest.approx(2.5 / 1024)
    assert parse_sql_metric("1.5 m") == pytest.approx(90.0)


def test_benchmark_spec_names_every_layer():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    per_layer = {m["name"] for m in spec["per_layer"]}
    assert set(SESSION_METRICS) | set(OP_LAYER_METRICS) | {"trace.overhead_frac"} <= per_layer
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)


@pytest.fixture(scope="module")
def bench_env():
    run.isolate_environment()
    from disco_spark import registry
    from disco_spark.session import get_spark

    from perfbench.oracle import Oracles

    registry.load_all()
    spark = get_spark("perfbench_tests", master="local[2]")
    oracles = Oracles(run.DATA, os.path.join(run.WORK, "oracle"))
    yield spark, oracles
    oracles.close()
    spark.stop()


def test_corrupted_row_raises_failed_ops_frac(bench_env, monkeypatch):
    from disco_spark import registry
    from pyspark.sql import functions as F

    spark, oracles = bench_env
    w = Workload("probe", ("q6_forecast_revenue",), "test", passes=1)
    clean = run.Bench(spark, w, 1, oracles, trace=False)
    clean.run(trace=False)
    assert clean.attempted >= 2 and not clean.failures

    real = registry.QUERIES["q6_forecast_revenue"]

    def corrupted(spark_, sf_dir):
        df = real(spark_, sf_dir)
        col = df.columns[0]
        return df.withColumn(col, F.col(col) + F.lit(1))

    monkeypatch.setitem(registry.QUERIES, "q6_forecast_revenue", corrupted)
    bad = run.Bench(spark, w, 1, oracles, trace=False)
    bad.run(trace=False)
    assert bad.failures and len(bad.failures) / bad.attempted > 0
    assert bad.failures[0]["error"] == "values differ"


def test_trace_schema_every_layer_for_every_op(bench_env):
    spark, oracles = bench_env
    w = Workload("probe", ("q6_forecast_revenue", "classic_wordcount"), "test")
    bench = run.Bench(spark, w, 3, oracles, trace=True)
    try:
        result = bench.run(trace=True)
    finally:
        bench.close()
    assert not bench.failures
    summary = run.summarize(w, result, 1.0, 1.0, bench.cores, trace=True)
    for op in w.ops:
        assert set(summary["per_op_layers"][op]) == set(OP_LAYER_METRICS), op
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        names = [m["name"] for m in json.load(f)["per_layer"]]
    assert set(names) <= set(summary["per_layer"])
    assert "trace.overhead_frac" in summary["per_layer"]
    # the predicted contrast inside one run: the pandas-UDF op uses Python
    # workers, the JVM-only query does not
    assert summary["per_op_layers"]["classic_wordcount"]["python_workers.run_s"] > 0
    assert summary["per_op_layers"]["q6_forecast_revenue"]["python_workers.run_s"] == 0
