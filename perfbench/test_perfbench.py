"""Tests of the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import statistics
import sys
from types import SimpleNamespace

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import datagen, run, workloads as wl  # noqa: E402
from spark_lineage_spark.plans.model import (  # noqa: E402
    DatasetRef,
    LineageReport,
    RunMetadata,
)

def report(func="write.save", fmt="noop", inputs=1, columns=()):
    return LineageReport(
        inputs=[DatasetRef(kind="path", name=f"t{i}") for i in range(inputs)],
        output=None if fmt is None else DatasetRef(kind="path", format=fmt),
        columns=list(columns),
        run=RunMetadata(func_name=func),
    )


# -- seeds ------------------------------------------------------------------
def test_same_seed_same_order():
    from bench import HEADLINE

    ops = [SimpleNamespace(name=n) for n in HEADLINE]
    order = [o.name for o in wl.pass_order(ops, 7, "headline_sf0.1", 3)]
    assert order == [o.name for o in wl.pass_order(ops, 7, "headline_sf0.1", 3)]
    assert sorted(order) == sorted(HEADLINE)
    assert order != [o.name for o in wl.pass_order(ops, 7, "headline_sf0.1", 4)]
    assert order != [o.name for o in wl.pass_order(ops, 8, "headline_sf0.1", 3)]


def test_etl_constants_follow_the_seed():
    assert wl.EtlConstants.from_seed(3) == wl.EtlConstants.from_seed(3)
    assert wl.EtlConstants.from_seed(3) != wl.EtlConstants.from_seed(4)


def test_tables_are_a_function_of_scale_and_seed():
    a, b = datagen.tables(0.001, 42), datagen.tables(0.001, 42)
    assert all(a[t].equals(b[t]) for t in a)
    assert a["lineitem"].num_rows == 6000 and a["orders"].num_rows == 1500
    assert not a["lineitem"].equals(datagen.tables(0.001, 43)["lineitem"])


# -- tail percentile -----------------------------------------------------------
@pytest.mark.parametrize(
    "n,p",
    [(5, 50.0), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0), (100, 90.0),
     (199, 90.0), (200, 95.0), (1000, 99.0), (9999, 99.0), (10000, 99.9)],
)
def test_tail_percentile_follows_sample_count(n, p):
    assert run.tail_percentile(n) == p


def test_quantile_reads_the_ladder_step():
    values = [float(v) for v in range(1, 101)]
    assert run.quantile(values, 50.0) == pytest.approx(statistics.median(values))
    assert run.quantile(values, 75.0) == pytest.approx(statistics.quantiles(values, n=4)[2])
    assert run.quantile(values, 90.0) == pytest.approx(statistics.quantiles(values, n=10)[8])


# -- output checks -------------------------------------------------------------
@pytest.fixture()
def query_op(tmp_path):
    sf_dir = datagen.write(str(tmp_path / "sf"), 0.001, 42)
    ctx = wl.Ctx(None, None, None, None, sf_dir, str(tmp_path), 1, "t")
    spec = SimpleNamespace(name="regions", builder=None, oracle="SELECT count(*) AS n FROM region")
    return wl.query_op(ctx, spec)


def test_checker_flags_a_wrong_result(query_op):
    one = [report(func="toPandas", fmt=None)]
    assert query_op.collect_verify(pd.DataFrame({"n": [5]}), one) == []
    assert query_op.collect_verify(pd.DataFrame({"n": [4]}), one)


def test_checker_flags_missing_and_duplicate_reports(query_op):
    assert query_op.verify(None, [report()]) == []
    assert query_op.verify(None, []) == ["0 reports, expected 1"]
    assert query_op.verify(None, [report(), report()]) == ["2 reports, expected 1"]
    assert query_op.verify(None, [report(inputs=0)])  # no inputs
    assert query_op.verify(None, [report(fmt="parquet")])  # not the noop target


def test_catalog_checks_compare_with_executions():
    save = SimpleNamespace(emits={"write.save": 1}, price_output=False)
    ctas = SimpleNamespace(emits={"sql.command": 1}, price_output=True)
    insert = SimpleNamespace(emits={"sql.command": 1}, price_output=None)
    execs = [
        {"op": save, "seq": 1, "error": None, "result": None},
        {"op": save, "seq": 2, "error": None, "result": None},
        {"op": ctas, "seq": 3, "error": None, "result": "etl_discounted_t_0"},
        {"op": insert, "seq": 4, "error": "Boom", "result": None},  # failed: logs nothing expected
        {"op": ctas, "seq": 6, "error": None, "result": "etl_discounted_t_1"},  # after the query
    ]
    ctx = SimpleNamespace(execs=execs, tracer=SimpleNamespace(span=None, op_seq=5))
    by_func, from_price = wl.catalog_ops(ctx)
    assert by_func.verify((5, {"write.save": 2, "sql.command": 1, "microbatch:0": 1}), []) == []
    assert by_func.verify((5, {"write.save": 3, "sql.command": 1}), [])
    assert by_func.verify((5, {"write.save": 2, "sql.command": 1}), [report()])
    assert from_price.verify((5, {"spark_catalog.default.etl_discounted_t_0"}), []) == []
    # column lineage lost: the query finds nothing, the written table is still expected
    assert from_price.verify((5, set()), [])
    assert from_price.verify((5, {"etl_discounted_t_0", "etl_discounted_t_1"}), [])
    execs[3].update(error=None, result="spark_catalog.default.etl_revenue_t")
    assert by_func.verify((5, {"write.save": 2, "sql.command": 2}), []) == []
    # the INSERT target may or may not carry column lineage
    assert from_price.verify((5, {"etl_discounted_t_0"}), []) == []
    assert from_price.verify((5, {"etl_discounted_t_0", "etl_revenue_t"}), []) == []


def test_short_name_of_paths_and_tables():
    assert wl.short_name("/w/catalog_etl_sf0.01-x/out/lineitem_recent_3") == "lineitem_recent_3"
    assert wl.short_name("spark_catalog.default.etl_revenue_ab12") == "etl_revenue_ab12"
