"""dedup_fold: the durable streaming text-dedup accumulator.

A file-source stream of document batches feeds
``BloomTextDedupAccumulator(store_root=..., spark=...).attach(...)``.
Setup folds a seeded corpus once (the warm-up). One operation is one fold:
a batch file of documents, about 30% of them verbatim repeats of earlier
documents, lands in the stream's input directory and the operation ends
when ``processAllAvailable()`` returns. After each fold the accumulator's
kept ids must equal the generator's first-occurrence model.
"""

from __future__ import annotations

import json
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq

from gen import DocGenerator

SEED_DOCS = 4000
BATCH_DOCS = 1000


def dir_mb(root: str) -> float:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(root) for f in fs
    ) / 2**20


def touched_bucket_share(store_root: str) -> float:
    """Buckets the last save rewrote ÷ all buckets, from ``meta.json``."""
    with open(os.path.join(store_root, "meta.json")) as f:
        meta = json.load(f)
    last = meta["last_batch_id"]
    total = rewritten = 0
    for info in meta.get("bucketed", {}).values():
        total += int(info["n_buckets"])
        rewritten += sum(1 for v in info["map"].values() if v == last)
    return rewritten / total if total else 0.0


class DedupFold:
    def __init__(self, spark, work: str, seed: int, tracer) -> None:
        from flink_streaming_etl_spark.streaming.text_dedup import (
            BloomTextDedupAccumulator,
        )

        self.spark = spark
        self.tracer = tracer
        self.gen = DocGenerator(seed)
        self.inbox = os.path.join(work, "inbox")
        self.staging = os.path.join(work, "staging")
        self.store_root = os.path.join(work, "store")
        self.checkpoint = os.path.join(work, "checkpoint")
        os.makedirs(self.inbox)
        os.makedirs(self.staging)
        self.acc = BloomTextDedupAccumulator(store_root=self.store_root, spark=spark)
        self.query = None
        self.n_files = 0
        self.items = 0

    def _stage(self, n: int) -> tuple[str, str]:
        """Write the next batch of ``n`` documents outside the input
        directory; returns (staged path, path in the input directory)."""
        ids, texts = self.gen.batch(n)
        name = f"part-{self.n_files:05d}.parquet"
        self.n_files += 1
        staged = os.path.join(self.staging, name)
        pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()), "text": texts}), staged)
        return staged, os.path.join(self.inbox, name)

    def setup(self) -> None:
        os.replace(*self._stage(SEED_DOCS))
        stream = self.spark.readStream.schema("doc_id long, text string").parquet(self.inbox)
        self.query = self.acc.attach(stream, checkpointLocation=self.checkpoint)
        self.query.processAllAvailable()
        if not self.check()[0]:
            raise RuntimeError("the seed fold kept the wrong documents")
        self.tracer.skip_jobs(str(self.query.runId))
        self.tracer.wrap(self.acc, "add_batch", "streaming.text_dedup.add_batch_s")
        self.tracer.wrap(self.acc.store, "save", "streaming.state_store.save_s")

    def step(self) -> None:
        staged, target = self._stage(BATCH_DOCS)
        with self.tracer.op("dedup_fold", job_group=str(self.query.runId)) as rec:
            os.replace(staged, target)
            self.query.processAllAvailable()
        self.items += BATCH_DOCS
        if self.tracer.enabled:
            data = [p for p in self.query.recentProgress if p["numInputRows"] > 0]
            d = data[-1]["durationMs"]
            rec["counts"]["streaming.trigger_s"] = (d["triggerExecution"] - d["addBatch"]) / 1000
            rec["counts"]["streaming.state_store.store_mb"] = dir_mb(self.store_root)
            rec["counts"]["streaming.state_store.touched_bucket_share"] = (
                touched_bucket_share(self.store_root))

    def check(self) -> list[bool]:
        kept = {r["doc_id"] for r in self.acc.kept_ids(self.spark).collect()}
        want = self.gen.kept
        if kept != want:
            print(f"dedup_fold: {len(want - kept)} documents wrongly dropped, "
                  f"{len(kept - want)} wrongly kept", file=sys.stderr, flush=True)
        return [kept == want]

    def final_layer_metrics(self) -> dict[str, float]:
        return {"streaming.state_rows": self.acc.owner_rel.count()}

    def close(self) -> None:
        if self.query is not None:
            self.query.stop()
