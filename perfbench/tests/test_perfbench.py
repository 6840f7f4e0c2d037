"""Checks on the benchmark itself: its generated snapshots differ only
by the intended churn, a freshly loaded database matches its snapshot,
the noop sink keeps every analytics query's projected work, and the
tracer's self times add up.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import numpy as np
import pandas as pd

import datagen
import workloads
from spans import OpTrace, Span


def test_snapshots_differ_only_by_churn():
    df = datagen.date_text(datagen.orders_lineitem(5, 0.001)["orders"])
    pair = datagen.churn_pair(np.random.default_rng(0), df, "o_totalprice", 0.05)
    a = pair.a.set_index("o_orderkey")
    b = pair.b.set_index("o_orderkey")
    ins, upd, dele = pair.expected
    assert len(b.index.difference(a.index)) == ins
    assert len(a.index.difference(b.index)) == dele
    both = a.index.intersection(b.index)
    changed = (a.loc[both] != b.loc[both]).any(axis=1)
    assert changed.sum() == upd
    other = [c for c in a.columns if c != "o_totalprice"]
    pd.testing.assert_frame_equal(a.loc[both, other], b.loc[both, other])
    assert pair.expected_to("a") == (dele, upd, ins)


def test_fresh_state_dry_run_is_zero(spark, tmp_path):
    """A dry-run from the freshly loaded DB to the snapshot it was
    loaded from plans nothing, so every planned change in a timed run
    is intended churn (keys, primary keys and date text all line up)."""
    from mydatasyncer_spark import syncer

    wl = workloads.DagSqliteWorkload(str(tmp_path), seed=4)
    wl.make_inputs()
    wl.open(spark)
    try:
        outcome = syncer.sync(spark, wl.backend, wl.config("a", dry_run=True))
        for name, plan in outcome.plans.items():
            got = (plan.insert_count, plan.update_count, plan.delete_count)
            assert got == (0, 0, 0), f"{name}: {got}"
        assert wl.final_check() == []
    finally:
        wl.close()


def test_noop_forcing_keeps_projected_work(spark, tmp_path):
    """Every HEADLINE query forced with the noop sink runs a plan that
    still produces each of its output columns, while ``count()`` lets
    Catalyst drop the projected work (``canonical_stringify`` becomes
    a bare scan)."""
    import __spark_entry__ as entry

    sf_dir = str(tmp_path)
    datagen.write_parquet(datagen.tpch_tables(3, 0.001), sf_dir)
    registry = entry.queries()
    store = spark._jsparkSession.sharedState().statusStore()
    for name in workloads.AnalyticsWorkload.query_names():
        df = registry[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        plan = store.executionsList().last().physicalPlanDescription()
        missing = [c for c in df.columns if c not in plan]
        assert not missing, f"{name}: noop plan lacks {missing}"
    df = registry["canonical_stringify"](spark, sf_dir)
    counted = df.groupBy().count()._jdf.queryExecution().optimizedPlan().toString()
    assert "canon_price" not in counted


def test_self_times_sum_to_wall():
    spans = [
        Span(0, "op", "op", 0, None, 0.0, 10.0),
        Span(1, "run", "syncer", 0, 0, 1.0, 9.0),
        Span(2, "read", "readers", 0, 1, 2.0, 4.0),
        Span(3, "apply", "applier", 0, 1, 5.0, 8.0),
        Span(4, "insert", "applier", 0, 3, 6.0, 7.0),
    ]
    op = OpTrace(0, "warm", spans, {})
    layers = op.layer_self()
    assert layers == {"op": 2.0, "syncer": 3.0, "readers": 2.0, "applier": 3.0}
    assert sum(layers.values()) == op.wall
