"""Self-tests of the benchmark's own logic (no Spark session needed).

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import subprocess
import sys
import threading
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import pytest

from perfbench import checks, metrics, workloads
from perfbench.tracing import Span, Tracer, self_time

ROOT = Path(__file__).resolve().parents[2]


def test_tail_percentile_is_highest_with_ten_samples_beyond():
    assert metrics.tail_percentile(19) is None
    assert metrics.tail_percentile(20) == 50.0
    assert metrics.tail_percentile(99) == 50.0
    assert metrics.tail_percentile(100) == 90.0
    assert metrics.tail_percentile(999) == 90.0
    assert metrics.tail_percentile(1000) == 99.0
    assert metrics.tail_percentile(10000) == 99.9


def test_percentile_interpolates_like_numpy():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert metrics.percentile(xs, 50) == 3.0
    assert metrics.percentile(xs, 90) == pytest.approx(4.6)
    assert metrics.percentile([7.0], 90) == 7.0


def test_self_time_subtracts_union_of_children():
    parent = Span(1, "p", 1, None, 0.0, 10.0)
    spans = [
        parent,
        Span(2, "a", 1, 1, 1.0, 3.0),
        Span(3, "b", 1, 1, 2.0, 5.0),  # overlaps a: covered [1, 5]
        Span(4, "c", 1, 1, 8.0, 12.0),  # clipped to the parent: [8, 10]
        Span(5, "grandchild", 1, 2, 0.0, 10.0),  # not a direct child
    ]
    assert self_time(parent, spans) == pytest.approx(4.0)
    assert self_time(Span(6, "leaf", 1, None, 2.0, 2.5), spans) == pytest.approx(0.5)


class _FakeContext:
    """The three SparkContext calls a span makes."""

    def __init__(self):
        self.local = threading.local()

    def getLocalProperty(self, key):
        return getattr(self.local, "desc", None)

    def setJobDescription(self, value):
        self.local.desc = value

    def setLocalProperty(self, key, value):
        self.local.desc = value


def test_spans_nest_tag_jobs_and_adopt_pool_threads():
    sc = _FakeContext()
    tracer = Tracer(sc)
    seen = {}

    class Owner:
        @staticmethod
        def work(x):
            seen[x] = sc.getLocalProperty("spark.job.description")
            return x * 2

    tracer.patch(Owner, "work", lambda x: f"layer.work{x}")
    with tracer.span("op.test", op=True) as op:
        assert Owner.work(1) == 2
        with ThreadPoolExecutor(1) as ex:  # a thread the program starts
            assert ex.submit(Owner.work, 2).result() == 4
    tracer.unpatch()
    assert not hasattr(Owner.work, "__wrapped__")
    spans = {s.name: s for s in tracer.finished()}
    for name in ("layer.work1", "layer.work2"):
        assert spans[name].parent == op.id and spans[name].op == op.id
    assert seen[1] == f"perfbench-span:{spans['layer.work1'].id}"
    assert sc.getLocalProperty("spark.job.description") is None  # restored
    assert tracer.overhead_s[op.id] >= 0.0


def _oracle_warehouse(con, wh: Path) -> None:
    for table, sql in checks.warehouse_oracles().items():
        (wh / table).mkdir(parents=True)
        con.execute(
            f"COPY ({sql}) TO '{wh / table / 'part-0.parquet'}' (FORMAT PARQUET)"
        )


def test_error_rate_rises_when_a_table_loses_a_row(tmp_path):
    sf_dir = tmp_path / "extract"
    subprocess.run(
        [sys.executable, str(ROOT / "tools" / "gen_sf.py"),
         "--sf", "0.001", "--seed", "3", "--out", str(sf_dir)],
        check=True, stdout=subprocess.DEVNULL,
    )
    con = checks.input_conn(sf_dir)
    good, bad = tmp_path / "good", tmp_path / "bad"
    _oracle_warehouse(con, good)
    _oracle_warehouse(con, bad)
    part = bad / "DIM_Part" / "part-0.parquet"
    con.execute(
        f"COPY (SELECT * FROM '{part}' WHERE Id <> (SELECT min(Id) FROM '{part}'))"
        f" TO '{tmp_path / 'short.parquet'}' (FORMAT PARQUET)"
    )
    (tmp_path / "short.parquet").replace(part)
    con.close()

    ops = [metrics.Op("etl_nightly", 0.0, 1.0), metrics.Op("etl_nightly", 1.0, 2.0)]
    reasons = workloads.check_build(ops[0], good, sf_dir)
    assert reasons == []
    reasons = workloads.check_build(ops[1], bad, sf_dir)
    assert [o.ok for o in ops] == [True, False]
    assert metrics.error_rate(ops) == 0.5
    assert any(r.startswith("DIM_Part: row count") for r in reasons)


def _synthetic_run(workload: str) -> metrics.Run:
    spans = [
        Span(1, "op.x", 1, None, 0.0, 4.0),
        Span(2, "sinks.load_star_schema", 1, 1, 1.0, 4.0),
        Span(3, "sinks.write_table.FACT_LineItem", 1, 2, 2.0, 3.5),
        Span(4, "sinks.read_table", 1, 1, 0.0, 0.5),
        Span(5, "operators.keys", 1, 1, 0.5, 0.75),
    ]
    stage = {
        "stage": 0, "span": 3, "op": 1, "skipped": False,
        **{f: 1.0 for f in ("tasks", "executor_run_s", "executor_cpu_s", "gc_s",
                            "input_mb", "output_mb", "shuffle_read_mb",
                            "shuffle_write_mb", "spill_mb", "task_wait_s")},
    }
    return metrics.Run(
        workload=workload, cores=4, setup_start_s=10.0, setup_warmup_s=2.0,
        ops=[metrics.Op("revenue_by_quarter", 0.0, 4.0, span=1)], window_s=4.0,
        peak_rss_mb=100.0, proc_cpu_s=3.0, input_bytes=1000, pinned_mb=[0.0],
        spans=spans, jobs=[{"job": 0, "span": 3, "op": 1}], stages=[stage],
        overhead_s={1: 0.01},
    )


@pytest.mark.parametrize("workload", ["etl_nightly", "bi_dashboard"])
def test_runner_reports_every_metric_of_benchmark_json(workload):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)
    run = _synthetic_run(workload)

    e2e = metrics.end_to_end(run)
    assert list(e2e) == [m["name"] for m in spec["end_to_end"]]
    assert all(v > 0 for v in e2e.values())
    assert [(m["name"], m["unit"], m["better"], m["bound"]) for m in spec["end_to_end"]] \
        == metrics.END_TO_END

    layer = metrics.layers(run)
    assert list(layer) == [m["name"] for m in spec["per_layer"]]
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] \
        == [(m.name, m.unit, m.better) for m in metrics.per_layer()]
    assert layer["sinks.write_table.FACT_LineItem.start_offset_s"] == 1.0
    assert layer["engine.write_table.FACT_LineItem.tasks"] == 1.0
    assert layer["sinks.load_star_schema.self_s"] == pytest.approx(1.5)
    assert layer["operators.keys.s"] == pytest.approx(0.25)


def test_bi_queries_run_on_duckdb_without_nulls(tmp_path):
    """Each template formats for DuckDB and yields NULL-free rows, so the
    digest compare cannot trip over NULL spellings."""
    sf_dir = tmp_path / "extract"
    subprocess.run(
        [sys.executable, str(ROOT / "tools" / "gen_sf.py"),
         "--sf", "0.001", "--seed", "5", "--out", str(sf_dir)],
        check=True, stdout=subprocess.DEVNULL,
    )
    con = checks.input_conn(sf_dir)
    wh = tmp_path / "wh"
    _oracle_warehouse(con, wh)
    refs = {a: checks.table_ref(wh, t) for a, t in workloads.TABLE_ARGS.items()}
    for name, (tpl, _) in workloads.QUERIES.items():
        p = {"lo": 0, "hi": 50} if name == "order_lookup" else {}
        df = con.execute(tpl.format(**refs, **p)).fetchdf()
        assert len(df) > 0, name
        assert not df.isna().any().any(), name
    con.close()
