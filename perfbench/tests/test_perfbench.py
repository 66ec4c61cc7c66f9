"""Tests of the benchmark itself (not of the engine).

    python3 -m pytest perfbench/tests -q

The last test runs ``etl_cycles`` end to end twice, so the file takes a
few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, ROOT)
sys.path.insert(0, BENCH)

import run  # noqa: E402
from spans import Span, Tracer, self_times, tail_percentile  # noqa: E402


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("work"))
    os.environ["SPARK_GRAFT_CPUS"] = "2"
    run.host_fit(work)
    os.environ["SPARK_GRAFT_CPUS"] = "2"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    from aws_sql_server_to_s3_datalake_etl_migration_spark.session import (
        get_spark,
    )

    s = get_spark(app_name="perfbench-test")
    assert s.conf.get("spark.ui.enabled") == "false"
    yield s
    s.stop()


def test_status_store_reports_stages_with_ui_off(spark):
    tr = Tracer(spark, "t1", enabled=True)
    with tr.span("work") as sp:
        spark.range(50_000).selectExpr("id % 7 AS k").groupBy("k").count(
        ).collect()
    assert sp.counters["jobs"] >= 1
    assert sp.counters["stages"] >= 2  # map side and reduce side
    assert sp.counters["tasks"] >= 2
    assert sp.counters["executor_run_s"] >= 0
    assert sp.counters["shuffle_write_mb"] > 0
    # a later span does not see the earlier span's jobs
    with tr.span("idle") as idle:
        pass
    assert idle.counters["jobs"] == 0


def test_spans_nest_and_self_times_sum_to_parent(spark):
    tr = Tracer(spark, "t2", enabled=True)
    with tr.span("outer") as outer:
        time.sleep(0.02)
        with tr.span("inner") as a:
            spark.range(10).count()
        with tr.span("inner") as b:
            time.sleep(0.01)
    assert a.parent == outer.id and b.parent == outer.id
    assert outer.parent is None
    assert {s.run_id for s in tr.spans} == {"t2"}
    selfs = self_times(tr.spans)
    total = selfs[outer.id] + selfs[a.id] + selfs[b.id]
    assert total == pytest.approx(outer.seconds, abs=1e-9)
    # the job group is restored to the parent's, then cleared
    sc = spark.sparkContext
    assert sc.getLocalProperty("spark.jobGroup.id") is None


def test_self_time_does_not_double_count_parallel_children():
    parent = Span(1, "p", None, "r", 0.0, 10.0)
    kids = [Span(2, "c", 1, "r", 1.0, 5.0), Span(3, "c", 1, "r", 3.0, 7.0),
            Span(4, "c", 1, "r", 9.0, 12.0)]
    selfs = self_times([parent] + kids)
    assert selfs[1] == pytest.approx(10.0 - 6.0 - 1.0)


def test_disabled_tracer_records_nothing(spark):
    tr = Tracer(spark, "t3", enabled=False)
    with tr.span("x") as sp:
        pass
    assert sp is None and tr.spans == []


def test_tail_percentile_leaves_ten_samples_beyond():
    assert tail_percentile(5) == 100  # too few samples: the maximum
    assert tail_percentile(10) == 100
    assert tail_percentile(20) == 50
    assert tail_percentile(100) == 90
    for n in (11, 37, 60, 250):
        p = tail_percentile(n)
        assert n - n * p / 100 >= 10


def test_seed_changes_batches_and_query_order(tmp_path):
    from etl import Batches
    from queries import ITERATIVE, QueryWorkload

    a = Batches(run.DATA_DIR, str(tmp_path / "a"), seed=1)
    b = Batches(run.DATA_DIR, str(tmp_path / "b"), seed=2)
    assert a.bytes != b.bytes
    assert a.expect["orders_rows0"] != b.expect["orders_rows0"] or (
        a.expect["orders_append0"] != b.expect["orders_append0"])
    same = Batches(run.DATA_DIR, str(tmp_path / "c"), seed=1)
    assert same.bytes == a.bytes

    class Ctx:
        pass

    orders = []
    for seed in (1, 2):
        ctx = Ctx()
        ctx.seed = seed
        wl = QueryWorkload(ctx)
        order = list(ITERATIVE)
        wl.order_rng.shuffle(order)
        orders.append(order)
    assert orders[0] != orders[1]


@pytest.mark.parametrize("seed", [1, 2])
def test_etl_cycles_correct_for_any_seed(seed):
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload",
         "etl_cycles", "--seed", str(seed), "--seconds", "1",
         "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert res["correct"] is True and res["failed"] == 0
    assert set(res["metrics"]) == set(run.END_TO_END)
