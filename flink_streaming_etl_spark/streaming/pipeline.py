"""Continuous-query orchestration: the reference's `INSERT INTO ... SELECT`
jobs (SURVEY.md §2.5 T1) as Structured Streaming queries.

Per micro-batch (the materialize-then-recompute loop of SURVEY.md §7):
1. parse the new envelope chunk,
2. merge it into the per-source latest-state table (upsert + deletes),
3. re-run the downstream relational query (plain DataFrame ops) over the
   materialized states,
4. replace the keyed sink's content with the result (complete mode, see
   ``upsert_sink``): a key missing from the result is gone from the sink.

Step 3 recomputes rather than incrementalizes — this is exactly what makes
retraction and delete propagation correct for free (flink-ddl.sql:213:
totals must drop when an order flips to 'closed'), at a per-batch cost
proportional to state size; individual aggregates can be incrementalized
later without changing the contract. ``run_batch`` is the same loop driven
by a plain DataFrame, so every pipeline is testable without Kafka or even a
streaming trigger.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from flink_streaming_etl_spark.sources.cdc import CdcSource, apply_changelog
from flink_streaming_etl_spark.streaming.upsert_sink import KeyedParquetSink


class CdcPipeline:
    """One continuous query: N CDC sources → relational query → upsert sink.

    ``query`` receives {source_name: latest_state_df} and returns the result
    DataFrame (its PK = sink PK, one row per key)."""

    def __init__(
        self,
        spark: SparkSession,
        sources: dict[str, CdcSource],
        query: Callable[[dict[str, DataFrame]], DataFrame],
        sink: KeyedParquetSink,
    ):
        self.spark = spark
        self.sources = sources
        self.query = query
        self.sink = sink
        self._states: dict[str, DataFrame] = {}

    def state(self, name: str) -> DataFrame | None:
        return self._states.get(name)

    def apply_chunk(self, name: str, changelog: DataFrame) -> None:
        """Merge a parsed envelope chunk into source ``name``'s state."""
        src = self.sources[name]
        new_state = apply_changelog(self._states.get(name), changelog, src.primary_key)
        # Cut lineage: state grows per batch; without localCheckpoint the
        # plan re-derives all history every recompute.
        self._states[name] = new_state.localCheckpoint(eager=True)

    def recompute(self) -> DataFrame:
        missing = [n for n in self.sources if n not in self._states]
        for n in missing:
            src = self.sources[n]
            self._states[n] = self.spark.createDataFrame([], src.row_schema)
        return self.query(dict(self._states))

    def run_batch(self, chunks: dict[str, DataFrame]) -> None:
        """Drive one micro-batch from already-parsed envelope chunks."""
        for name, chunk in chunks.items():
            self.apply_chunk(name, chunk)
        self.sink.replace(self.recompute())

    def run_stream(
        self,
        name: str,
        changelog_stream: DataFrame,
        checkpoint_dir: str,
        trigger_once: bool = True,
    ):
        """Run the pipeline off a streaming envelope source via foreachBatch
        (single-source convenience; multi-source pipelines union upstream)."""

        def process(batch_df: DataFrame, batch_id: int) -> None:
            self.run_batch({name: batch_df})

        writer = changelog_stream.writeStream.foreachBatch(process).option(
            "checkpointLocation", checkpoint_dir
        )
        if trigger_once:
            writer = writer.trigger(availableNow=True)
        return writer.start()
