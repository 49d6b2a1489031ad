"""Debezium changelog envelope parsing (the reference's wire format).

Envelope shape (golden sample: /root/reference/sample/
cdc.orders.change-log-mysql.json:115-151): ``{before, after, source, op,
ts_ms, transaction}`` with ``op ∈ {c,u,d,r}``; ``op:"u"`` carries both
images; the Kafka message key is the PK struct (lines 1-15). The MongoDB
variant (cdc.crawler.change-log-mongodb.json:45-66) ships ``after`` as a
JSON *string* with an ``_id.$oid`` key (io.debezium.data.Json).

Maps SURVEY.md §2.1 S2 (debezium-json format) and §2.5 T2 (changelog
ingestion). Reference options covered: `ignore-parse-errors` → PERMISSIVE
mode with a corrupt-record column; ISO-8601 timestamp parsing.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

CORRUPT_COL = "_corrupt_envelope"


def envelope_schema(row_schema: StructType, mongo: bool = False) -> StructType:
    """Envelope StructType for a given business-row schema. For the MongoDB
    path ``after``/``before`` are JSON strings, not structs."""
    image_type = StringType() if mongo else row_schema
    return StructType(
        [
            StructField("before", image_type, True),
            StructField("after", image_type, True),
            StructField(
                "source",
                StructType(
                    [
                        StructField("db", StringType(), True),
                        StructField("table", StringType(), True),
                        StructField("ts_ms", LongType(), True),
                    ]
                ),
                True,
            ),
            StructField("op", StringType(), True),
            StructField("ts_ms", LongType(), True),
        ]
    )


def parse_envelopes(
    raw: DataFrame,
    row_schema: StructType,
    value_col: str = "value",
    mongo: bool = False,
    ignore_parse_errors: bool = True,
    extra_cols: list[str] | None = None,
) -> DataFrame:
    """Decode a column of Debezium-JSON strings into typed envelope columns.

    Works identically on a batch DataFrame (fixture replay) and a Kafka
    readStream (`value` cast to string) — the parser is the same expression
    tree either way.
    """
    schema = envelope_schema(row_schema, mongo=mongo)
    opts = {"timestampFormat": "yyyy-MM-dd'T'HH:mm:ss[.SSS]['Z']"}  # ISO-8601
    if ignore_parse_errors:
        opts["mode"] = "PERMISSIVE"
    parsed = raw.withColumn("_env", F.from_json(F.col(value_col), schema, opts))
    passthrough = [F.col(c) for c in (extra_cols or [])]
    out = parsed.select(
        *passthrough,
        F.col(f"_env.before").alias("before"),
        F.col(f"_env.after").alias("after"),
        F.col(f"_env.op").alias("op"),
        F.col(f"_env.ts_ms").alias("ts_ms"),
        F.col(f"_env.source").alias("source"),
        F.when(F.col("_env").isNull() & F.col(value_col).isNotNull(), F.col(value_col))
        .alias(CORRUPT_COL),
    )
    if ignore_parse_errors:
        return out.filter(F.col("op").isNotNull() | F.col(CORRUPT_COL).isNotNull())
    return out


def mongo_after_json(envelopes: DataFrame, row_schema: StructType) -> DataFrame:
    """MongoDB path: parse the JSON-string ``after`` image into typed
    columns and lift the ``_id.$oid`` key (flink-mongodb.sql:1-15 lands the
    whole document as ``content STRING``; we expose both forms)."""
    return envelopes.select(
        F.get_json_object("after", "$._id.$oid").alias("id"),
        F.col("after").alias("content"),
        F.from_json("after", row_schema).alias("doc"),
        "op",
        "ts_ms",
    )
