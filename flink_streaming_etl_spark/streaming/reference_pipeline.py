"""The reference's complete pipeline, assembled: all continuous queries of
flink-ddl.sql running as ONE multi-query job over shared CDC sources.

Reference shape (flink-ddl.sql):
- sources: orders, users, products, order_items (CDC upsert changelogs,
  lines 1-76) — shared by every query below;
- sinks: ES-7 upsert indices keyed by id; several queries share one index
  (user_view + user_order_stats_view → index `user_view`, lines 143,165;
  product_view + product_stats_view → index `product_view`, lines 150,241);
- queries:
  * order_view       — enrichment join orders⋈users with dotted target
                       columns (lines 179-190)
  * user_view        — projection of users (line 192)
  * product_view     — projection of products (line 194)
  * order_view_items — LISTAGG of order_items per order (lines 124-127)
                       [COLLECT(ROW(...)) variant: lines 129-132]
  * user_order_stats — per-user-per-day SUM/COUNT excluding cancelled,
                       two-level salted rollup (lines 197-211)
  * order_stats      — per-day totals with retraction (lines 214-227)
  * product_stats    — per-product rollup over order_items⋈orders
                       (lines 243-259)

Spark realization: one `CdcPipeline`-style loop per sink, all reading the
SAME materialized per-source states (materialize-then-recompute, SURVEY.md
§7), so a single changelog batch fans out to every sink consistently — the
multi-query-sharing-sources behavior of a Flink session submitting N
INSERTs over the same source tables. Each recomputed result is its sink's
entire new content, so it replaces the sink (complete mode) instead of
being merged against the sink's last output. The manual 256-bucket salted
rollup is deliberately NOT reproduced: Spark's hash aggregation is already
partial+final and AQE handles skew (tested equal in the registry:
user_day_stats_salted ≡ user_day_stats).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from flink_streaming_etl_spark.sources.cdc import CdcSource, apply_changelog
from flink_streaming_etl_spark.streaming.upsert_sink import KeyedParquetSink, nest_dotted

# ---------------------------------------------------------------------------
# Source schemas (reference flink-ddl.sql:1-76; README.md:34-60 MySQL DDL)

ORDERS = StructType(
    [
        StructField("id", StringType()),
        StructField("user_id", StringType()),
        StructField("amount", DoubleType()),  # decimal-as-double on the wire
        StructField("status", StringType()),
        StructField("channel", StringType()),
        StructField("ctime", StringType()),
        StructField("utime", StringType()),
    ]
)

USERS = StructType(
    [
        StructField("id", StringType()),
        StructField("name", StringType()),
        StructField("age", IntegerType()),
        StructField("ctime", StringType()),
        StructField("utime", StringType()),
    ]
)

PRODUCTS = StructType(
    [
        StructField("id", StringType()),
        StructField("name", StringType()),
        StructField("price", DoubleType()),
        StructField("ctime", StringType()),
        StructField("utime", StringType()),
    ]
)

ORDER_ITEMS = StructType(
    [
        StructField("id", StringType()),
        StructField("order_id", StringType()),
        StructField("product_id", StringType()),
        StructField("price", DoubleType()),
        StructField("quantity", LongType()),
        StructField("amount", DoubleType()),
    ]
)


def sources() -> dict[str, CdcSource]:
    return {
        "orders": CdcSource("orders", ORDERS, "id"),
        "users": CdcSource("users", USERS, "id"),
        "products": CdcSource("products", PRODUCTS, "id"),
        "order_items": CdcSource("order_items", ORDER_ITEMS, "id"),
    }


# ---------------------------------------------------------------------------
# The continuous queries (each takes {source: latest_state_df})


def order_view(s: dict[str, DataFrame]) -> DataFrame:
    """flink-ddl.sql:179-190 — dotted targets nest into ES sub-documents."""
    orders, users = s["orders"], s["users"]
    joined = orders.join(users, orders["user_id"] == users["id"]).select(
        orders["id"].alias("id"),
        orders["amount"].alias("order.amount"),
        orders["status"].alias("order.status"),
        orders["channel"].alias("order.channel"),
        users["name"].alias("user.name"),
        users["age"].alias("user.age"),
        orders["ctime"].alias("ctime"),
        orders["utime"].alias("utime"),
    )
    return nest_dotted(joined)


def user_view(s: dict[str, DataFrame]) -> DataFrame:
    """flink-ddl.sql:192."""
    return s["users"].select("id", "name", "age", "ctime", "utime")


def product_view(s: dict[str, DataFrame]) -> DataFrame:
    """flink-ddl.sql:194."""
    return s["products"].select("id", "name", "price", "ctime", "utime")


def order_view_items(s: dict[str, DataFrame]) -> DataFrame:
    """flink-ddl.sql:124-132 — both the LISTAGG CSV form and the
    COLLECT(ROW(...)) nested-array form (ES `order.items`)."""
    items = s["order_items"]
    nested = F.array_sort(
        F.collect_list(F.struct(F.col("product_id").alias("product.id"), "price", "quantity"))
    )
    return (
        items.groupBy(F.col("order_id").alias("id"))
        .agg(
            F.array_join(F.array_sort(F.collect_list("product_id")), ",").alias("items_csv"),
            nested.alias("items"),
        )
    )


def user_order_stats(s: dict[str, DataFrame]) -> DataFrame:
    """flink-ddl.sql:197-211 — per-user-per-day totals excluding cancelled
    orders; the salted two-phase rollup collapses to one groupBy (partial
    aggregation is built in). Output key = user|day (upsert into the shared
    user_view index needs a day-qualified doc id)."""
    o = s["orders"].filter(F.col("status") != "closed")
    day = F.substring("ctime", 1, 10)
    return o.groupBy(F.col("user_id"), day.alias("cday")).agg(
        F.sum(F.col("amount").cast("decimal(18,2)")).cast("double").alias("order.amount.day"),
        F.count(F.lit(1)).alias("order.count.day"),
    ).select(
        F.concat_ws("|", "user_id", "cday").alias("id"),
        F.col("user_id"),
        F.col("cday"),
        F.col("`order.amount.day`"),
        F.col("`order.count.day`"),
    )


def order_stats(s: dict[str, DataFrame]) -> DataFrame:
    """flink-ddl.sql:214-227 — daily totals with retraction: recompute over
    the materialized state makes cancelled orders drop out by construction."""
    o = s["orders"].filter(F.col("status") != "closed")
    return o.groupBy(F.substring("ctime", 1, 10).alias("id")).agg(
        F.sum(F.col("amount").cast("decimal(18,2)")).cast("double").alias("amount"),
        F.count(F.lit(1)).alias("cnt"),
    )


def product_stats(s: dict[str, DataFrame]) -> DataFrame:
    """flink-ddl.sql:243-259 — fact-to-fact join then per-product rollup."""
    items, orders = s["order_items"], s["orders"]
    live = items.join(
        orders.filter(F.col("status") != "closed").select(F.col("id").alias("_oid")),
        items["order_id"] == F.col("_oid"),
    )
    return live.groupBy(F.col("product_id").alias("id")).agg(
        F.count(F.lit(1)).alias("quantity"),
        F.sum(F.col("amount").cast("decimal(18,2)")).cast("double").alias("amount"),
    )


QUERIES: dict[str, Callable[[dict[str, DataFrame]], DataFrame]] = {
    "order_view": order_view,
    "user_view": user_view,
    "product_view": product_view,
    "order_view_items": order_view_items,
    "user_order_stats": user_order_stats,
    "order_stats": order_stats,
    "product_stats": product_stats,
}


class UpsertKeyError(ValueError):
    """The analyzer check Flink performs for upsert sinks: an update-mode
    query writing to a keyed sink must produce the sink's primary key
    (SURVEY.md §4 'optional polish')."""


@dataclass
class ReferencePipeline:
    """All reference queries over shared source states, fanning out to one
    keyed sink per query — the whole flink-ddl.sql session as one object."""

    spark: SparkSession
    sink_root: str

    def __post_init__(self) -> None:
        self.sources = sources()
        self._states: dict[str, DataFrame] = {}
        self.sinks = {
            name: KeyedParquetSink(self.spark, f"{self.sink_root}/{name}", "id")
            for name in QUERIES
        }

    def state(self, name: str) -> DataFrame:
        if name not in self._states:
            src = self.sources[name]
            self._states[name] = self.spark.createDataFrame([], src.row_schema)
        return self._states[name]

    def run_streams(self, changelog_dirs: dict[str, str], checkpoint_root: str):
        """Continuous mode: one streaming query per CDC topic (the reference
        consumes one Kafka topic per table), every micro-batch folding into
        the SHARED states and refreshing every sink. Micro-batches from
        different sources are serialized by a lock — the single-writer
        discipline an upsert sink needs; sources stay independently paced,
        exactly like N Flink jobs sharing session tables."""
        import threading

        lock = getattr(self, "_lock", None) or threading.Lock()
        self._lock = lock
        queries = []
        for name, path in changelog_dirs.items():
            stream = self.sources[name].stream_changelog(self.spark, path)

            def process(batch_df: DataFrame, batch_id: int, _name=name) -> None:
                with lock:
                    self.run_batch({_name: batch_df})

            queries.append(
                stream.writeStream.foreachBatch(process)
                .option("checkpointLocation", f"{checkpoint_root}/{name}")
                .trigger(availableNow=True)
                .start()
            )
        return queries

    def run_batch(self, chunks: dict[str, DataFrame]) -> None:
        """One micro-batch: merge every source's chunk once, then replace
        every sink's content from the SAME states (multi-query source
        sharing)."""
        for name, chunk in chunks.items():
            src = self.sources[name]
            merged = apply_changelog(self._states.get(name), chunk, src.primary_key)
            self._states[name] = merged.localCheckpoint(eager=True)
        for name, query in QUERIES.items():
            result = query({n: self.state(n) for n in self.sources})
            sink = self.sinks[name]
            missing = [k for k in sink.primary_key if k not in result.columns]
            if missing:
                raise UpsertKeyError(
                    f"query '{name}' does not produce upsert key {missing} "
                    f"required by its sink"
                )
            sink.replace(result)
