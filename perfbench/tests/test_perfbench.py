"""Tests of the benchmark itself: seeded inputs, output checks, metric names.

    python3 -m pytest perfbench/tests -q

None of them starts Spark.
"""

from __future__ import annotations

import json
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import run  # noqa: E402
from gen import CdcGenerator, DocGenerator, cdc_sinks, olap_tables, write_olap_tables  # noqa: E402
from workloads.cdc_upsert import read_sinks, sink_problems  # noqa: E402


def _cdc_bytes(seed: int) -> bytes:
    g = CdcGenerator(seed, n_users=20, n_products=5, n_orders=100)
    batches = [g.snapshot(), g.delta(200), g.delta(200)]
    return json.dumps(batches, sort_keys=True).encode()


def _doc_bytes(seed: int) -> bytes:
    g = DocGenerator(seed)
    return json.dumps([g.batch(300), g.batch(300), sorted(g.kept)]).encode()


def _table_bytes(seed: int, tmp_path) -> dict[str, bytes]:
    out = tmp_path / f"t{seed}"
    write_olap_tables(olap_tables(seed), str(out))
    return {f: (out / f).read_bytes() for f in sorted(os.listdir(out))}


def test_same_seed_same_inputs(tmp_path):
    assert _cdc_bytes(7) == _cdc_bytes(7)
    assert _doc_bytes(7) == _doc_bytes(7)
    assert _table_bytes(7, tmp_path / "a") == _table_bytes(7, tmp_path / "b")


def test_other_seed_other_inputs(tmp_path):
    assert _cdc_bytes(7) != _cdc_bytes(8)
    assert _doc_bytes(7) != _doc_bytes(8)
    a, b = _table_bytes(7, tmp_path), _table_bytes(8, tmp_path)
    assert a.keys() == b.keys() and a != b


def test_delta_batches_have_the_promised_mix():
    g = CdcGenerator(3, n_users=50, n_products=10, n_orders=500)
    g.snapshot()
    ops: dict[str, int] = {}
    closed_flips = 0
    for _ in range(3):
        batch = g.delta(600)
        assert sum(len(v) for v in batch.values()) == 600
        for lines in batch.values():
            for line in lines:
                env = json.loads(line)
                ops[env["op"]] = ops.get(env["op"], 0) + 1
                if env["op"] == "u" and env["after"]["status"] == "closed":
                    closed_flips += 1
    assert ops.keys() == {"c", "u", "d"}
    assert closed_flips > 0


def test_duplicates_are_a_third_of_the_documents():
    g = DocGenerator(5)
    ids, _ = g.batch(3000)
    assert 0.25 < 1 - len(g.kept) / len(ids) < 0.35


def _write_sinks(root, sinks):
    for name, rows in sinks.items():
        os.makedirs(root / name)
        pq.write_table(pa.Table.from_pylist(list(rows.values())),
                       str(root / name / "part-0.parquet"))


def test_sink_check_accepts_the_model_and_reports_a_corrupted_row(tmp_path):
    g = CdcGenerator(11, n_users=30, n_products=8, n_orders=200)
    g.snapshot()
    g.delta(300)
    expected = cdc_sinks(g.state)
    _write_sinks(tmp_path / "good", expected)
    assert sink_problems(read_sinks(str(tmp_path / "good"), expected), expected) == []

    bad = {name: {k: dict(r) for k, r in rows.items()} for name, rows in expected.items()}
    key = next(iter(bad["order_stats"]))
    bad["order_stats"][key]["cnt"] += 1
    _write_sinks(tmp_path / "bad", bad)
    problems = sink_problems(read_sinks(str(tmp_path / "bad"), expected), expected)
    assert len(problems) == 1 and problems[0].startswith("order_stats: 0 missing, 0 extra, 1 wrong")


def test_sink_check_reports_a_deleted_key_that_survives(tmp_path):
    g = CdcGenerator(12, n_users=30, n_products=8, n_orders=200)
    g.snapshot()
    before = cdc_sinks(g.state)
    g.delta(300)
    after = cdc_sinks(g.state)
    stale = dict(after["order_view"])
    gone = next(k for k in before["order_view"] if k not in after["order_view"])
    stale[gone] = before["order_view"][gone]
    _write_sinks(tmp_path, {**after, "order_view": stale})
    problems = sink_problems(read_sinks(str(tmp_path), after), after)
    assert problems == ["order_view: 0 missing, 1 extra, 0 wrong"]


def test_query_check_reports_a_corrupted_result(tmp_path):
    pytest.importorskip("duckdb")
    from flink_streaming_etl_spark import api
    from tests.oracle import _normalize, duck_connection
    from workloads.olap_mix import QUERIES, matches, oracle_result

    write_olap_tables(olap_tables(2), str(tmp_path))
    con = duck_connection(str(tmp_path))
    sqls = api.oracle_sql()
    assert set(QUERIES) <= set(sqls)
    expected = oracle_result(con, sqls["day_stats"], _normalize)
    result = con.sql(sqls["day_stats"]).df()
    assert matches(result, expected, _normalize)
    corrupted = result.copy()
    corrupted.iloc[0, 1] = corrupted.iloc[1, 1]
    assert not matches(corrupted, expected, _normalize)
    assert not matches(result.iloc[1:], expected, _normalize)


def _declared(kind: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def test_runner_reports_every_declared_metric_with_its_unit():
    assert run.END_TO_END == _declared("end_to_end")
    assert run.PER_LAYER == _declared("per_layer")


def test_layer_metrics_cover_every_per_layer_metric():
    class FakeTracer:
        ops = [{
            "kind": "op", "wall_s": 2.0,
            "spans": {"streaming.upsert_sink.merge_s": 1.0},
            "counts": {"streaming.upsert_sink.changed_row_share": 0.1},
            "spark": {"jobs": 3, "stages": 4, "tasks": 40, "failed_tasks": 0,
                      "driver_s": 0.5, "shuffle_write_bytes": 2**20,
                      "spill_bytes": 0, "executor_cpu_s": 1.5, "job_starts": []},
        }]

    out = run.layer_metrics(FakeTracer(), {"streaming.state_rows": 9})
    assert list(out) == list(run.PER_LAYER)
    assert out["spark.jobs_per_op"] == 3
    assert out["spark.shuffle_write_mb_per_op"] == 1.0
    assert out["streaming.upsert_sink.merge_s"] == 1.0
    assert out["streaming.state_rows"] == 9
    assert out["catalog.load_tables_s"] == 0.0


def test_tail_percentile_needs_ten_samples_beyond_it():
    assert run.tail_percentile([1.0] * 99) is None
    assert run.tail_percentile(list(range(100)))["p"] == 90
    assert run.tail_percentile(list(range(1000)))["p"] == 99


def test_wrapped_call_inside_the_excluded_span_is_not_timed():
    from tracing import Tracer

    class Sink:
        def checkpoint(self):
            return "ckpt"

        def merge(self):
            return self.checkpoint()

    sink = Sink()
    tracer = Tracer(None, True)
    tracer.wrap(sink, "checkpoint", "ckpt_s", unless_in="merge_s")
    tracer.wrap(sink, "merge", "merge_s")
    tracer._current = rec = {"spans": {}}
    assert sink.merge() == "ckpt"
    assert set(rec["spans"]) == {"merge_s"}
    sink.checkpoint()
    assert set(rec["spans"]) == {"merge_s", "ckpt_s"}
    tracer.unwrap()
    assert "checkpoint" not in vars(sink) and "merge" not in vars(sink)
