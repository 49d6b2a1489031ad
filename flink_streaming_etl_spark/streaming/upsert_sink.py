"""Keyed upsert sink with delete propagation (SURVEY.md §2.1 S5, §2.5 T3).

Stand-in for the reference's Elasticsearch-7 upsert sink (flink-ddl.sql:
96-109: PK-keyed index, several queries share one index): a parquet-backed
keyed table with two write modes.

- Complete mode, ``replace(result)``: ``result`` is the sink's entire new
  content. Every key in it wins and every key not in it is gone, so a
  recomputed query result needs no read of the old content, no keyed merge
  and no stale-key anti-join. The CDC pipelines refresh their sinks this
  way.
- Update mode, ``merge(batch, deletes)``: upsert the batch's rows by
  primary key and drop the keys in ``deletes``; keys the batch does not
  mention keep their rows. On a real cluster the same call targets Delta
  ``MERGE INTO`` or the ES connector (`es.write.operation=upsert`,
  `es.mapping.id=id`).

Both modes write to ``<path>.tmp`` and swap it in, so a failed write leaves
the previous content readable.

Idempotence: re-applying the same batch is a no-op (same keys, same rows) —
this is what turns at-least-once delivery into effectively-once end-to-end
(reference claim README.md:347; SURVEY.md §2.5 T6).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, DataFrameWriter, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _write_and_swap(writer: DataFrameWriter, path: str) -> None:
    """Write to ``<path>.tmp``, then swap it in for ``path``. A write that
    fails leaves ``path`` untouched."""
    tmp = path + ".tmp"
    writer.mode("overwrite").parquet(tmp)
    if os.path.exists(path):
        shutil.rmtree(path)
    os.replace(tmp, path)


class KeyedParquetSink:
    """An upsert-by-PK materialized table at ``path``."""

    def __init__(self, spark: SparkSession, path: str, primary_key: list[str] | str):
        self.spark = spark
        self.path = os.fspath(path)
        self.primary_key = [primary_key] if isinstance(primary_key, str) else list(primary_key)

    def exists(self) -> bool:
        return os.path.exists(os.path.join(self.path, "_SUCCESS"))

    def read(self) -> DataFrame:
        return self.spark.read.parquet(self.path)

    def replace(self, result: DataFrame) -> None:
        """Complete mode: ``result`` (one row per key) becomes the sink's
        entire content."""
        _write_and_swap(result.write, self.path)

    def merge(self, batch: DataFrame, deletes: DataFrame | None = None) -> None:
        """Update mode: upsert ``batch`` rows by PK; drop PKs present in
        ``deletes``.

        Dotted ES field names (flink-ddl.sql:98-102) are handled upstream
        by nesting into structs (see ``nest_dotted``)."""
        pk = self.primary_key
        if self.exists():
            current = self.read()
            merged = (
                current.withColumn("_gen", F.lit(0))
                .unionByName(batch.withColumn("_gen", F.lit(1)))
            )
            w = Window.partitionBy(*pk).orderBy(F.col("_gen").desc())
            merged = (
                merged.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn", "_gen")
            )
        else:
            merged = batch.dropDuplicates(pk)
        if deletes is not None:
            merged = merged.join(
                deletes.select(*pk).dropDuplicates(pk), on=pk, how="left_anti"
            )
        self.replace(merged)


def nest_dotted(df: DataFrame) -> DataFrame:
    """Rewrite dotted column names into nested structs — the ES document
    mapping of the reference (`order.amount` → {"order": {"amount": ...}},
    flink-ddl.sql:98-102)."""
    plain = [c for c in df.columns if "." not in c]
    nested: dict[str, list[str]] = {}
    for c in df.columns:
        if "." in c:
            top, rest = c.split(".", 1)
            nested.setdefault(top, []).append(rest)
    cols = [F.col(f"`{c}`") for c in plain]
    for top, fields in nested.items():
        cols.append(
            F.struct(*[F.col(f"`{top}.{f}`").alias(f) for f in fields]).alias(top)
        )
    return df.select(*cols)


class BucketPartitionedSink(KeyedParquetSink):
    """Keyed upsert sink with per-batch cost ∝ *touched data*, not state.

    The state table is hive-partitioned on ``_bucket = pmod(hash(pk), n)``.
    A micro-batch only touches the buckets its keys hash into, so the merge
    (1) computes the batch's bucket set (≤ n values),
    (2) reads ONLY those partitions (partition pruning on the scan),
    (3) merges batch rows against just that slice, and
    (4) rewrites just those directories (dynamic partition overwrite).

    This is the parquet expression of what Delta/Iceberg MERGE INTO does
    with file-level pruning: per-batch work is O(|batch| + |touched
    buckets' data|); untouched partitions are never read or written
    (pinned by tests/test_streaming_extras.py via file mtimes). Pick ``n``
    so one bucket ≈ a few hundred MB at target state size — 100 TB state
    at n=65536 → ~1.5 GB per bucket, a single-task rewrite.

    Caveat vs the base class: dynamic partition overwrite replaces
    directories in place — a mid-write crash can leave touched partitions
    torn (the base class swaps atomically via rename). Production targets
    with a transaction log (Delta/Iceberg) close that gap; the replay-
    idempotent merge means re-running the batch also repairs it.

    ``replace`` (complete mode) rewrites every bucket and swaps the whole
    layout in by tmp + rename, like the base class.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        primary_key: list[str] | str,
        n_buckets: int = 16,
    ):
        super().__init__(spark, path, primary_key)
        self.n_buckets = n_buckets

    def _bucket(self) -> F.Column:
        return F.pmod(F.hash(*[F.col(k) for k in self.primary_key]), F.lit(self.n_buckets))

    def exists(self) -> bool:
        return os.path.exists(self.path) and any(
            e.startswith("_bucket=") for e in os.listdir(self.path)
        )

    def read(self) -> DataFrame:
        return self.spark.read.parquet(self.path).drop("_bucket")

    def replace(self, result: DataFrame) -> None:
        _write_and_swap(
            result.withColumn("_bucket", self._bucket()).write.partitionBy("_bucket"),
            self.path,
        )

    def merge(self, batch: DataFrame, deletes: DataFrame | None = None) -> None:
        pk = self.primary_key
        batch = batch.withColumn("_bucket", self._bucket())
        buckets = batch.select("_bucket")
        if deletes is not None:
            deletes = deletes.withColumn("_bucket", self._bucket())
            buckets = buckets.unionByName(deletes.select("_bucket"))
        touched = [r["_bucket"] for r in buckets.distinct().collect()]
        if not touched:
            return

        if self.exists():
            current = (
                self.spark.read.parquet(self.path)
                .filter(F.col("_bucket").isin(touched))  # partition-pruned scan
            )
            merged = (
                current.withColumn("_gen", F.lit(0))
                .unionByName(batch.withColumn("_gen", F.lit(1)))
            )
            w = Window.partitionBy(*pk).orderBy(F.col("_gen").desc())
            merged = (
                merged.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn", "_gen")
            )
        else:
            merged = batch.dropDuplicates(pk)
        if deletes is not None:
            merged = merged.join(
                deletes.select(*pk).dropDuplicates(pk), on=pk, how="left_anti"
            )
        # materialize once: the result feeds both the write and the
        # emptied-bucket check (on a cluster: reliable checkpoint dir)
        merged = merged.localCheckpoint(eager=True)
        (
            merged.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_bucket")
            .parquet(self.path)
        )
        # dynamic overwrite skips buckets with zero surviving rows — their
        # old directories would go stale; drop them explicitly
        present = {r["_bucket"] for r in merged.select("_bucket").distinct().collect()}
        for b in set(touched) - present:
            shutil.rmtree(os.path.join(self.path, f"_bucket={b}"), ignore_errors=True)


def es_sink_options(
    index: str,
    primary_key: list[str] | str,
    nodes: str,
) -> dict[str, str]:
    """Option set for the LIVE Elasticsearch-7 sink (the ES-Hadoop Spark
    connector, `org.elasticsearch.spark.sql` format) as a pure function —
    broker-free testable; the connector jar/cluster only enter at
    `.save()`/`.start()`. Reproduces the reference's sink semantics
    (flink-ddl.sql:96-109): PK-keyed upsert into a named index, several
    queries allowed to share one index (each upserting its own fields —
    `merge` in ES terms, hence write.operation=upsert not index)."""
    pk = [primary_key] if isinstance(primary_key, str) else list(primary_key)
    opts = {
        "es.nodes": nodes,
        "es.resource": index,
        # upsert (partial document): several queries sharing one index each
        # update only their own fields instead of clobbering the document —
        # the reference's shared order_view index behavior
        "es.write.operation": "upsert",
        "es.mapping.id": ",".join(pk),
    }
    return opts


class EsUpsertSink:
    """Live-ES twin of :class:`KeyedParquetSink`, selected by
    ``SPARK_GRAFT_ES_NODES`` (see :func:`upsert_sink_from_env`): same
    `merge(batch, deletes)` surface, but each call writes the batch as an
    ES upsert (delete propagation via the connector's delete operation).
    Construction and option wiring are sandbox-testable; the actual write
    needs the es-hadoop jar + cluster, so `merge` is live-only."""

    def __init__(self, spark: SparkSession, index: str, primary_key: list[str] | str,
                 nodes: str):
        self.spark = spark
        self.index = index
        self.primary_key = [primary_key] if isinstance(primary_key, str) else list(primary_key)
        self.nodes = nodes

    def options(self) -> dict[str, str]:
        return es_sink_options(self.index, self.primary_key, self.nodes)

    def merge(self, batch: DataFrame, deletes: DataFrame | None = None) -> None:
        writer = batch.write.format("org.elasticsearch.spark.sql").mode("append")
        for k, v in self.options().items():
            writer = writer.option(k, v)
        writer.save()
        if deletes is not None and deletes.count() > 0:
            d = deletes.write.format("org.elasticsearch.spark.sql").mode("append")
            for k, v in self.options().items():
                d = d.option(k, v)
            d.option("es.write.operation", "delete").save()


def upsert_sink_from_env(
    spark: SparkSession,
    path: str,
    primary_key: list[str] | str,
    index: str | None = None,
):
    """Sink factory, one env var away from live (same pattern as the Kafka
    and JDBC branches): ``SPARK_GRAFT_ES_NODES=host:9200`` routes merges to
    the live Elasticsearch cluster; otherwise the parquet-backed stand-in
    serves the identical merge surface."""
    nodes = os.environ.get("SPARK_GRAFT_ES_NODES")
    if nodes:
        return EsUpsertSink(
            spark, index or os.path.basename(os.fspath(path)), primary_key, nodes
        )
    return KeyedParquetSink(spark, path, primary_key)


class AdditivePartialSink:
    """Partial-aggregate sink with ADDITIVE merge — re-aggregation of
    partials (SURVEY §2.3 A6) as a sink policy. Where :class:`KeyedParquetSink`
    replaces a key's row, this sink SUMS the incoming partials into the
    stored ones, which is what the kappa backfill→streaming handover needs:
    a window spanning the cutover gets its history partial from the batch
    backfill and its tail partial from the stream.

    Exactness contract, per column class:

    - integer partials (counts) merge exactly — long addition is
      associative;
    - float columns listed in ``decimal_cols`` (EXPLICIT opt-in) are summed
      through DECIMAL(26,6) internally, making merges order-independent —
      and bit-equal to a one-shot aggregation — for values whose true
      granularity is within 1e-6 (monetary/value columns derived from
      DECIMAL(18,6) upstream, like ``windowed_event_stats.sum_value``).
      Opt-in is by column list, not dtype sniffing: an arbitrary double
      metric (a log-loss, a rate) must NOT be silently quantized to 1e-6,
      so unlisted double columns keep plain double summation (exact in
      value terms only up to reordering ulps);
    - decimal overflow returns NULL under non-ANSI semantics (a value
      beyond DECIMAL(26,6) range, |x| >= 1e20, NULLs at the cast; the sum
      itself widens to DECIMAL(36,6)) — ``merge`` detects a NULL decimal
      sum over non-NULL inputs and raises instead of silently storing
      NULL.

    Same tmp+rename atomic rewrite as the keyed sink."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        keys: list[str],
        sum_cols: list[str],
        decimal_cols: list[str] | None = None,
    ):
        self.spark = spark
        self.path = os.fspath(path)
        self.keys = list(keys)
        self.sum_cols = list(sum_cols)
        self.decimal_cols = list(decimal_cols or [])
        unknown = set(self.decimal_cols) - set(self.sum_cols)
        if unknown:
            raise ValueError(f"decimal_cols not in sum_cols: {sorted(unknown)}")

    def exists(self) -> bool:
        return os.path.exists(os.path.join(self.path, "_SUCCESS"))

    def read(self) -> DataFrame:
        return self.spark.read.parquet(self.path)

    def merge(self, batch: DataFrame) -> None:
        cols = self.keys + self.sum_cols
        merged = batch.select(*cols)
        if self.exists():
            merged = self.read().select(*cols).unionByName(merged)
        dtypes = dict(merged.dtypes)

        def _sum(c: str):
            if c in self.decimal_cols:
                return F.sum(F.col(c).cast("decimal(26,6)")).cast(dtypes[c]).alias(c)
            return F.sum(c).alias(c)

        flags = [
            F.max(F.col(c).isNotNull()).alias(f"__had_{c}") for c in self.decimal_cols
        ]
        merged = merged.groupBy(*self.keys).agg(
            *[_sum(c) for c in self.sum_cols], *flags
        )
        if self.decimal_cols:
            overflow = F.lit(False)
            for c in self.decimal_cols:
                overflow = overflow | (F.col(f"__had_{c}") & F.col(c).isNull())
            n_bad = merged.filter(overflow).count()
            if n_bad:
                raise ArithmeticError(
                    f"AdditivePartialSink: DECIMAL(26,6) sum overflowed to NULL "
                    f"on {n_bad} key group(s) in {sorted(self.decimal_cols)} — "
                    "refusing to store silent NULLs"
                )
            merged = merged.drop(*[f"__had_{c}" for c in self.decimal_cols])
        _write_and_swap(merged.write, self.path)
