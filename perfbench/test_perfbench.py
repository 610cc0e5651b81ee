"""Tests of the benchmark itself: input determinism, span arithmetic and
event-log attribution. Run from the checkout root:

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import argparse
import filecmp
import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import tracing as tr  # noqa: E402


@pytest.fixture
def tiny_shopify(monkeypatch):
    monkeypatch.setattr(gen, "SIZES", {
        "retail": {"orders": 40, "items": (1, 4), "products": 6, "customers": 30},
        "wholesale": {"orders": 5, "items": (4, 14), "products": 4, "customers": 8},
    })
    monkeypatch.setattr(gen, "BASE_WINDOWS", 3)


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only:
        return False
    match, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        _same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


def test_same_seed_same_bytes(tmp_path, tiny_shopify):
    for name in ("c1", "c2"):
        os.makedirs(tmp_path / name)
        gen.build_catalog(str(tmp_path / name), 7)
    assert _same_tree(str(tmp_path / "c1"), str(tmp_path / "c2"))
    os.makedirs(tmp_path / "c3")
    gen.build_catalog(str(tmp_path / "c3"), 8)
    assert not filecmp.cmp(tmp_path / "c1" / "orders.parquet", tmp_path / "c3" / "orders.parquet",
                           shallow=False)

    base = gen._publish(str(tmp_path / "base"), gen.build_base)
    with open(f"{base}/meta.json") as f:
        base_meta = json.load(f)
    for name in ("b1", "b2"):
        os.makedirs(tmp_path / name)
        gen.build_batch(str(tmp_path / name), 7, base_meta)
    assert _same_tree(str(tmp_path / "b1"), str(tmp_path / "b2"))


def test_batch_shape(tmp_path, tiny_shopify):
    base = gen._publish(str(tmp_path / "base"), gen.build_base)
    with open(f"{base}/meta.json") as f:
        base_meta = json.load(f)
    gen._publish(str(tmp_path / "b"), lambda d: gen.build_batch(d, 3, base_meta))
    with open(tmp_path / "b" / "meta.json") as f:
        meta = json.load(f)
    retail = meta["stores"]["retail"]
    assert retail["redelivered"] == round(40 * gen.REDELIVER_SHARE)
    assert retail["batch_orders"] == 40 + retail["repeated"]
    # final order count: base history plus the batch's new orders
    assert retail["orders"] == 40 * 3 + 40 - retail["redelivered"]
    with open(tmp_path / "b" / "retail" / "orders.json") as f:
        ids = [e["node"]["id"] for e in json.load(f)["data"]]
    assert len(ids) - len(set(ids)) == retail["repeated"]


def _span(sid, start, end, parent=None, name="s"):
    return tr.Span(name, start, end, parent, "r", sid)


def test_self_time_subtracts_union_of_children():
    spans = [
        _span(0, 0.0, 10.0),
        _span(1, 1.0, 3.0, parent=0),
        _span(2, 2.0, 5.0, parent=0),    # overlaps span 1: union 1..5
        _span(3, 8.0, 12.0, parent=0),   # clipped to the parent's end
        _span(4, 2.5, 4.0, parent=2),
    ]
    st = tr.self_time(spans)
    assert st[0] == pytest.approx(10.0 - 4.0 - 2.0)
    assert st[2] == pytest.approx(3.0 - 1.5)
    assert st[1] == pytest.approx(2.0)
    assert st[3] == pytest.approx(4.0)


def test_tracer_nests_spans():
    t = tr.Tracer(run="r")
    with t.span("outer"):
        with t.span("inner"):
            pass
        with t.span("inner"):
            pass
    assert [(s.name, s.parent) for s in t.spans] == [("outer", None), ("inner", 0), ("inner", 0)]
    assert all(s.end >= s.start and s.run == "r" for s in t.spans)


def test_module_of_maps_program_files():
    root = "/x/checkout"
    site = "parquet at /x/checkout/shopify_etl_spark/pipeline/runner.py:123"
    assert tr.module_of(site, root) == "pipeline.runner"
    assert tr.module_of("collect at /elsewhere/app.py:9", root) == "other"
    assert tr.module_of("", root) == "other"


def test_event_log_attribution_on_tiny_run_daily(tiny_shopify):
    import daily
    import run

    args = argparse.Namespace(seed=11, seconds=1, trace=1)
    ctx = run.Context(args)
    ctx.setup_env()
    base, batch = gen.shopify_dirs(os.path.join(ctx.tmp, "inputs"), 11)
    ctx.start_session()
    try:
        from contextlib import ExitStack

        from shopify_etl_spark.pipeline.runner import run_daily

        tracer = tr.Tracer(run="test", sc=ctx.spark.sparkContext)
        cfg = daily.pipeline_config(batch, f"{ctx.tmp}/wh", f"{ctx.tmp}/runlog", "2025-11-29")
        with ExitStack() as hooks:
            hooks.enter_context(tr.callsite_hooks(ctx.spark.sparkContext))
            daily.install_spans(hooks, tracer)
            res = run_daily(ctx.spark, cfg)
        assert daily.outcome(res) == (9, 0)
        ctx.stop()
        jobs = tr.read_event_log(ctx.event_log(), ctx.root)
    finally:
        ctx.stop()
        ctx.cleanup()
    modules = tr.by_module(jobs)
    assert "pipeline.runner" in modules and "pipeline.txn_store" in modules
    assert "pipeline.watermark" in modules
    staging = [j for j in jobs if j.pool.startswith("staging-")]
    assert staging and all(j.span in ("runner.stage", "runner.atomic_overwrite",
                                      "watermark.append", "sources.bulk_download")
                           for j in staging)
    assert {j.span for j in jobs} >= {"runner.stage", "runner.merge", "txn_store.commit"}
    names = [s.name for s in tracer.spans]
    assert names.count("runner.stage") == 6 and names.count("runner.merge") == 3
    assert all(j.end >= j.start and j.tasks >= 1 for j in jobs)


def test_rounding_ties_need_the_oracles_unrounded_value_on_the_boundary():
    import bi

    on_boundary = [3.5, 451122.12499999994]
    assert bi._rounding_tie("451122.13", "451122.12", on_boundary)
    assert bi._rounding_tie("451122.12", "451122.13", on_boundary)
    # one unit apart, but no unrounded value on the boundary: a wrong result
    assert not bi._rounding_tie("451122.13", "451122.12", [451122.1234])
    assert not bi._rounding_tie("451122.13", "451122.12", [])
    assert not bi._rounding_tie("0.5", "0.6", [0.5])
    assert not bi._rounding_tie("0.5", "0.6", [0.549999])
    assert bi._rounding_tie("0.5", "0.6", [0.55])
    # more than one unit apart, or not numbers
    assert not bi._rounding_tie("451122.14", "451122.12", [451122.13])
    assert not bi._rounding_tie("7", "8", [7.25])
    assert not bi._rounding_tie("R", "F", [])
    # canonical form keeps 9 significant digits: the unit there is 10
    assert bi._rounding_tie("8.12345679e+09", "8.12345678e+09", [8123456785.0])
    want = {"cols": ["k", "v"], "rows": [["1", "451122.12"], ["2", "3.5"]]}
    evidence = lambda: {"v": on_boundary}  # noqa: E731
    assert bi.compare(["v", "k"], [(451122.13, 1), (3.5, 2)], want, evidence) == (True, 1)
    assert bi.compare(["v", "k"], [(451122.15, 1), (3.5, 2)], want, evidence)[0] is False
    assert bi.compare(["v", "k"], [(3.5, 2)], want, evidence)[0] is False
    assert bi.compare(["v", "k"], [(451122.13, 1), (3.5, 2)], want)[0] is False


def test_unrounded_oracle_columns(tmp_path):
    import bi
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({"o_orderkey": [1, 1, 2], "o_totalprice": [0.125, 1.0, 2.5]}),
                   tmp_path / "orders.parquet")
    got = bi.unrounded_columns(
        str(tmp_path), "SELECT o_orderkey, round(SUM(o_totalprice), 2) AS s FROM orders"
                       " GROUP BY o_orderkey")
    assert got == {"s": [1.125, 2.5]}


def test_emit_rejects_missing_and_unlisted_metrics(capsys):
    import run

    spec = {"end_to_end": [{"name": "a_s", "unit": "s"}],
            "per_layer": [{"name": "x.one", "unit": "s"}, {"name": "y.two", "unit": "s"}]}
    run.emit(spec, {"correct": True, "attempted": 1, "failed": 0,
                    "metrics": {"x.one": 1.5}}, True, ("y.",))
    line = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert line["metrics"]["y.two"]["value"] == 0.0
    with pytest.raises(RuntimeError):  # its own layer missing
        run.emit(spec, {"correct": True, "attempted": 1, "failed": 0,
                        "metrics": {"y.two": 1.0}}, True, ("y.",))
    with pytest.raises(RuntimeError):  # a misspelled name
        run.emit(spec, {"correct": True, "attempted": 1, "failed": 0,
                        "metrics": {"x.one": 1.0, "x.onee": 2.0}}, True, ("y.",))
    with pytest.raises(RuntimeError):  # untraced runs fill nothing in
        run.emit(spec, {"correct": True, "attempted": 1, "failed": 0, "metrics": {}}, False)


def test_wrap_refuses_a_missing_entry_point():
    class Owner:
        def present(self):
            return 1

    t = tr.Tracer(run="r")
    with pytest.raises(AttributeError):
        with t.wrap(Owner, "renamed", "x"):
            pass
    with t.wrap(Owner, "present", "owner.present"):
        assert Owner().present() == 1
    assert [s.name for s in t.spans] == ["owner.present"]
