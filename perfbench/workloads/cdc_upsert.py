"""cdc_upsert: the reference CDC pipeline folding Debezium micro-batches.

Setup loads a seeded ``op:"r"`` snapshot of users, products, orders and
order_items with ``ReferencePipeline.run_batch``. One operation is one
fixed-size delta micro-batch: the raw changelog lines are handed to
``CdcSource.parse`` and ``run_batch``, and the operation ends when all
seven keyed sinks are committed. After each operation the sinks, read back
from their parquet files, must equal ``gen.cdc_sinks`` of the generator's
latest state.
"""

from __future__ import annotations

import os
import sys
import time

import pyarrow.parquet as pq

from gen import CdcGenerator, cdc_sinks

SNAPSHOT = {"n_users": 400, "n_products": 80, "n_orders": 4000}
BATCH_EVENTS = 600


def read_sinks(sink_root: str, names) -> dict[str, dict[str, dict]]:
    """Every sink's rows by id, read from its parquet files."""
    out = {}
    for name in names:
        path = os.path.join(sink_root, name)
        rows = pq.read_table(path).to_pylist() if os.path.isdir(path) else []
        out[name] = {r["id"]: r for r in rows}
    return out


def sink_problems(actual: dict[str, dict[str, dict]],
                  expected: dict[str, dict[str, dict]]) -> list[str]:
    """Human-readable differences between sink contents and the model."""
    problems = []
    for name, want in expected.items():
        got = actual.get(name, {})
        missing = want.keys() - got.keys()
        extra = got.keys() - want.keys()
        wrong = [k for k in want.keys() & got.keys() if got[k] != want[k]]
        if missing or extra or wrong:
            example = wrong[0] if wrong else None
            problems.append(
                f"{name}: {len(missing)} missing, {len(extra)} extra, {len(wrong)} wrong"
                + (f" (e.g. {example}: got {got[example]}, want {want[example]})"
                   if example else "")
            )
    return problems


def changed_rows(before: dict[str, dict[str, dict]],
                 after: dict[str, dict[str, dict]]) -> int:
    """Sink rows a batch inserted, updated or deleted."""
    n = 0
    for name, new in after.items():
        old = before[name]
        n += len(old.keys() ^ new.keys())
        n += sum(1 for k in old.keys() & new.keys() if old[k] != new[k])
    return n


def written_since(root: str, t0: float) -> tuple[int, int]:
    """(bytes, rows) of the parquet files under ``root`` written at or
    after ``t0``."""
    size = rows = 0
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            if f.endswith(".parquet") and os.path.getmtime(p) >= t0:
                size += os.path.getsize(p)
                rows += pq.ParquetFile(p).metadata.num_rows
    return size, rows


class CdcUpsert:
    def __init__(self, spark, work: str, seed: int, tracer) -> None:
        from flink_streaming_etl_spark.streaming.reference_pipeline import (
            ReferencePipeline,
        )

        self.spark = spark
        self.tracer = tracer
        self.gen = CdcGenerator(seed, **SNAPSHOT)
        self.sink_root = os.path.join(work, "sinks")
        self.pipe = ReferencePipeline(spark, self.sink_root)
        self.expected: dict[str, dict[str, dict]] = {}
        self.items = 0

    def _raw(self, changelog: dict[str, list[str]]):
        return {
            name: self.spark.createDataFrame([(line,) for line in lines], "value string")
            for name, lines in changelog.items()
        }

    def setup(self) -> None:
        raw = self._raw(self.gen.snapshot())
        self.pipe.run_batch({n: self.pipe.sources[n].parse(df) for n, df in raw.items()})
        self.expected = cdc_sinks(self.gen.state)
        if not self.check()[0]:
            raise RuntimeError("the snapshot load left wrong sinks")
        # the source-state checkpoints inside run_batch, which also run the
        # envelope decode and apply_changelog; the sink merges' own
        # checkpoints count in merge_s only
        self.tracer.wrap(type(self.spark.range(0)), "localCheckpoint",
                         "streaming.reference_pipeline.state_checkpoint_s",
                         unless_in="streaming.upsert_sink.merge_s")
        for sink in self.pipe.sinks.values():
            self.tracer.wrap(sink, "merge", "streaming.upsert_sink.merge_s")

    def step(self) -> None:
        before = self.expected
        raw = self._raw(self.gen.delta(BATCH_EVENTS))
        self.expected = cdc_sinks(self.gen.state)
        t0 = time.time()
        with self.tracer.op("cdc_batch") as rec:
            with self.tracer.span("sources.cdc.parse_s"):
                chunks = {n: self.pipe.sources[n].parse(df) for n, df in raw.items()}
            self.pipe.run_batch(chunks)
        self.items += BATCH_EVENTS
        if self.tracer.enabled:
            # file mtimes come from a coarser clock than time.time()
            size, rows = written_since(self.sink_root, t0 - 0.05)
            rec["counts"]["streaming.upsert_sink.rewrite_mb_per_batch"] = size / 2**20
            rec["counts"]["streaming.upsert_sink.changed_row_share"] = (
                changed_rows(before, self.expected) / rows if rows else 0.0)

    def check(self) -> list[bool]:
        problems = sink_problems(read_sinks(self.sink_root, self.expected), self.expected)
        for p in problems:
            print(f"cdc_upsert: wrong sink: {p}", file=sys.stderr, flush=True)
        return [not problems]

    def final_layer_metrics(self) -> dict[str, float]:
        return {"streaming.state_rows": sum(len(v) for v in self.expected.values())}

    def close(self) -> None:
        pass
