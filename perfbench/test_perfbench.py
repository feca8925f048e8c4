"""Tests of the benchmark's own code (no Spark session needed):

    python -m pytest perfbench -q
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import re
import sys
import types

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402


def _sha(path: str) -> str:
    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


def _reference_cascade(lines: list[str]):
    """The validation cascade of operators/validate.py in plain Python."""
    errors: dict[str, int] = {}
    claimed: set[str] = set()
    clean, revenue, products = 0, 0.0, set()

    def parse_date(s):
        for fmt in ("%Y-%m-%d", "%Y/%m/%d"):
            try:
                return dt.datetime.strptime(s, fmt)
            except ValueError:
                pass
        return None

    for line in lines:
        if line.lower().startswith("id,"):
            continue
        parts = line.split(",")
        err = None
        if len(parts) < 5:
            err = gen.MALFORMED
        else:
            rid, product, price, qty, date = (p.strip() for p in parts[:5])
            if not all((rid, product, price, qty, date)):
                err = gen.MISSING
            elif rid in claimed:
                err = gen.DUPLICATE
            else:
                claimed.add(rid)
                try:
                    p = float(price)
                except ValueError:
                    p = None
                q = int(qty) if re.fullmatch(r"[+-]?[0-9]+", qty) else None
                if p is None or q is None:
                    err = gen.INVALID_PQ
                elif p <= 0 or q <= 0:
                    err = gen.NON_POSITIVE
                elif parse_date(date) is None:
                    err = gen.INVALID_DATE
                elif product.replace('"', "").replace("'", "") == "":
                    err = gen.INVALID_PRODUCT
                elif not rid.isdigit():
                    err = gen.NON_NUMERIC_ID
                else:
                    clean += 1
                    revenue += p * q
                    products.add(product)
        if err:
            errors[err] = errors.get(err, 0) + 1
    return clean, errors, revenue, len(products)


def test_sales_generator_is_deterministic(tmp_path):
    a, b, c = (str(tmp_path / n) for n in ("a.csv", "b.csv", "c.csv"))
    ea, eb = gen.sales_csv(a, 7, 3000), gen.sales_csv(b, 7, 3000)
    gen.sales_csv(c, 8, 3000)
    assert _sha(a) == _sha(b) and ea == eb
    assert _sha(a) != _sha(c)


def test_sales_expected_answers_match_the_cascade(tmp_path):
    path = str(tmp_path / "s.csv")
    exp = gen.sales_csv(path, 3, 5000)
    with open(path) as fh:
        lines = fh.read().splitlines()
    assert len(lines) == exp.lines + 1
    clean, errors, revenue, products = _reference_cascade(lines)
    assert clean == exp.clean
    assert errors == {k: v for k, v in exp.errors.items() if v}
    assert set(errors) == set(gen.SALES_ERROR_SHARES)  # every class present
    assert revenue == pytest.approx(exp.revenue, abs=0.01)
    assert products == exp.products
    assert exp.clean + sum(exp.errors.values()) == exp.lines


def test_tables_generator_is_deterministic(tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    rows = gen.tables(a, 5)
    assert rows == gen.tables(b, 5)
    for name in rows:
        assert _sha(f"{a}/{name}.parquet") == _sha(f"{b}/{name}.parquet")
    gen.tables(str(tmp_path / "c"), 6)
    assert _sha(f"{a}/lineitem.parquet") != _sha(f"{tmp_path}/c/lineitem.parquet")


def test_corpus_plan_counts():
    plan = gen.corpus(4)
    again = gen.corpus(4)
    assert plan.base_ids == again.base_ids
    assert [n.__dict__ for n in plan.nights] == [n.__dict__ for n in again.nights]
    other = gen.corpus(5)  # same corpus and base, other nights
    assert other.texts == plan.texts and other.base_ids == plan.base_ids
    assert [n.__dict__ for n in plan.nights] != [n.__dict__ for n in other.nights]
    n = len(plan.doc_ids)
    base = set(plan.base_ids)
    assert len(base) == int(0.6 * n)
    for night in plan.nights:  # each night lands on the base index
        assert len(night.new_ids) == int(0.05 * n)
        assert len(night.resent_ids) == int(0.05 * n)
        assert len(night.deleted_ids) == int(0.01 * n)
        assert not set(night.new_ids) & base  # new docs were never indexed
        assert set(night.resent_ids) <= base and set(night.deleted_ids) <= base
        assert not set(night.resent_ids) & set(night.deleted_ids)
        live = plan.live_after(night)
        assert live == (base | set(night.new_ids)) - set(night.deleted_ids)
        assert len(live) == len(base) + len(night.new_ids) - len(night.deleted_ids)
        assert all(doc in live for _, doc in night.probes)


def test_nested_span_self_and_driver_time():
    root = spans.Span(1, None, "root", 0.0, 100.0)
    child = spans.Span(2, 1, "child", 10.0, 40.0)
    grandchild = spans.Span(3, 2, "grandchild", 20.0, 30.0)
    sibling = spans.Span(4, 1, "sibling", 50.0, 70.0)
    root.jobs = [spans.Job(1, 60.0, 90.0, stages=2, executor_cpu_ms=5.0)]
    child.jobs = [spans.Job(2, 12.0, 18.0, stages=1, shuffle_write_bytes=10)]
    got = spans.span_counters([root, child, grandchild, sibling])
    assert got[1]["self_ms"] == 100 - 30 - 20
    assert got[2]["self_ms"] == 30 - 10
    assert got[3]["self_ms"] == 10
    # root: children cover 10-40 and 50-70, its job 60-90 → busy 10-40, 50-90
    assert got[1]["driver_ms"] == 100 - 30 - 40
    assert got[2]["driver_ms"] == 30 - 10 - 6
    assert got[1]["jobs"] == 1 and got[1]["stages"] == 2
    assert got[2]["shuffle_write_bytes"] == 10 and got[3]["jobs"] == 0


class _FakeSc:
    def __init__(self):
        self.groups = []

    def setJobGroup(self, group, desc):
        self.groups.append(group)

    def setLocalProperty(self, key, value):
        if key == "spark.jobGroup.id":
            self.groups.append(value)


def test_wrap_rebinds_every_alias_and_restores():
    leaf = types.ModuleType(f"{spans.PACKAGE}._perfbench_leaf")
    user = types.ModuleType(f"{spans.PACKAGE}._perfbench_user")

    def work(x):
        return x + 1

    leaf.work = work
    user.work = work  # bound at import time, like pipeline.write_warehouse
    sys.modules[leaf.__name__], sys.modules[user.__name__] = leaf, user
    try:
        sc = _FakeSc()
        tracer = spans.Tracer(types.SimpleNamespace(sparkContext=sc))
        tracer.wrap(leaf, "work", "leaf.work")
        with tracer.span("outer"):
            assert user.work(1) == 2 and leaf.work(2) == 3
        assert [s.name for s in tracer.spans] == ["outer", "leaf.work", "leaf.work"]
        assert [s.parent_id for s in tracer.spans] == [None, 1, 1]
        assert sc.groups == [f"{spans.GROUP_PREFIX}{i}" for i in (1, 2, 1, 3, 1)] + [None]
        tracer.restore()
        assert leaf.work is work and user.work is work
    finally:
        del sys.modules[leaf.__name__], sys.modules[user.__name__]


def _declared():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_metric_names_are_valid_and_declared(tmp_path):
    declared = _declared()
    names = [m["name"] for key in ("end_to_end", "per_layer") for m in declared[key]]
    assert len(names) == len(set(names)) and len(declared["per_layer"]) <= 128
    for name in names:
        assert re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", name), name
    assert [m["name"] for m in declared["end_to_end"]] == list(run.E2E_METRICS)

    # every per-layer metric a workload can print is declared, and together
    # the workloads cover the declared list
    class Totals:
        spans = []

        def totals(self):
            return {}

    for idx in ("lex", "ann", "text"):
        os.makedirs(tmp_path / idx)
        (tmp_path / idx / "_MANIFEST.json").write_text('{"generations": [{}]}')
    ctx = run.Ctx(None, str(tmp_path), 1, Totals())
    ctx.op_ms = [1.0]
    sales = workloads.SalesAnalytics(ctx)
    sales.etl.expected = gen.SalesExpected(1, 1, {}, 1.0, 1, csv_bytes=1)
    sales.mix.passes = [1.0]
    nightly = workloads.NightlyIndex(ctx)
    nightly.nights_done = 1
    emitted = set(sales.layer_metrics()) | set(nightly.layer_metrics())
    assert emitted == {m["name"] for m in declared["per_layer"]}
    assert {w["name"] for w in declared["workloads"]} == set(workloads.WORKLOADS)
