"""Coverage for the reference surfaces not exercised by the oracle gate:
true streaming mode (T1), the MongoDB JSON-string payload path (F11),
the TTL dimension cache (S3/P5), dotted ES field names (S5), and the
session catalog DDL surface (D1-D7)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from flink_streaming_etl_spark.catalog import (
    CatalogManager,
    JdbcCatalog,
    TableRegistry,
    TtlDimensionCache,
)
from flink_streaming_etl_spark.sources.cdc import CdcSource
from flink_streaming_etl_spark.sources.debezium import mongo_after_json, parse_envelopes
from flink_streaming_etl_spark.streaming.pipeline import CdcPipeline
from flink_streaming_etl_spark.streaming.upsert_sink import KeyedParquetSink, nest_dotted

from tests.test_cdc import ORDER_SCHEMA, day_stats_query, env, order


# ---------------------------------------------------------------------------
# T1: continuous query off a real readStream (file replay, availableNow)


def test_run_stream_file_replay(spark, tmp_path):
    changelog_dir = tmp_path / "changelog"
    changelog_dir.mkdir()
    (changelog_dir / "batch1.jsonl").write_text(
        "\n".join(
            [
                env("c", order("o1", "u1", 100.0, "payed"), ts=1),
                env("c", order("o2", "u1", 50.0, "payed"), ts=2),
                env("u", order("o2", "u1", 50.0, "closed"),
                    before=order("o2", "u1", 50.0, "payed"), ts=3),
            ]
        )
    )
    src = CdcSource("orders", ORDER_SCHEMA, "id")
    sink = KeyedParquetSink(spark, str(tmp_path / "sink"), "id")
    pipe = CdcPipeline(spark, {"orders": src}, day_stats_query, sink)
    q = pipe.run_stream(
        "orders",
        src.stream_changelog(spark, str(changelog_dir)),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    rows = {r["id"]: (r["amount"], r["cnt"]) for r in sink.read().collect()}
    # o2 was cancelled inside the replay → only o1 counts.
    assert rows == {"u1|2020-07-30": (100.0, 1)}


# ---------------------------------------------------------------------------
# F11: MongoDB payload — `after` is a JSON *string* with _id.$oid


MONGO_DOC_SCHEMA = StructType(
    [
        StructField("title", StringType()),
        StructField("price", DoubleType()),
    ]
)


def test_mongo_json_string_path(spark):
    # Envelope shape of /root/reference/sample/cdc.crawler.change-log-mongodb.json:
    # op:"c", after = serialized JSON document string.
    after_doc = json.dumps(
        {"_id": {"$oid": "5f1cdbdac0fcba4a748203dc"}, "title": "t-shirt", "price": 12.5}
    )
    envelope = json.dumps(
        {
            "before": None,
            "after": after_doc,
            "source": {"db": "crawler", "table": "products", "ts_ms": 1595727837000},
            "op": "c",
            "ts_ms": 1595727837832,
        }
    )
    raw = spark.createDataFrame([(envelope,)], "value string")
    envs = parse_envelopes(raw, MONGO_DOC_SCHEMA, mongo=True)
    out = mongo_after_json(envs, MONGO_DOC_SCHEMA).collect()
    assert len(out) == 1
    row = out[0]
    assert row["id"] == "5f1cdbdac0fcba4a748203dc"  # lifted _id.$oid
    assert row["content"] == after_doc  # whole doc as STRING (flink-mongodb.sql:3)
    assert row["doc"]["title"] == "t-shirt" and row["doc"]["price"] == 12.5


# ---------------------------------------------------------------------------
# S3/P5: dimension lookup join with TTL cache


def test_ttl_dimension_cache(spark):
    calls = {"n": 0}

    def loader():
        calls["n"] += 1
        return spark.createDataFrame(
            [("u1", f"Alice v{calls['n']}")], "id string, name string"
        )

    # ttl=1h → one load serves repeated joins (lookup.cache.ttl semantics).
    dim = TtlDimensionCache(loader, ttl_seconds=3600)
    stream = spark.createDataFrame([("u1", 5.0), ("u1", 7.0)], "id string, amount double")
    assert dim.join(stream, "id").count() == 2
    assert dim.join(stream, "id").count() == 2
    assert calls["n"] == 1
    # ttl=0 → every snapshot reloads (cache expiry).
    dim0 = TtlDimensionCache(loader, ttl_seconds=0.0)
    dim0.join(stream, "id").collect()
    dim0.join(stream, "id").collect()
    assert calls["n"] == 3


def test_ttl_cache_retries(spark):
    attempts = {"n": 0}

    def flaky_loader():
        attempts["n"] += 1
        if attempts["n"] < 3:
            raise RuntimeError("transient")
        return spark.createDataFrame([("u1", "ok")], "id string, v string")

    dim = TtlDimensionCache(flaky_loader, ttl_seconds=3600, max_retries=3)
    assert dim.snapshot().count() == 1  # 3rd attempt succeeds (lookup.max-retries=3)

    def always_fails():
        raise RuntimeError("down")

    with pytest.raises(RuntimeError):
        TtlDimensionCache(always_fails, ttl_seconds=0, max_retries=3).snapshot()


# ---------------------------------------------------------------------------
# S5: dotted column names → nested documents (flink-ddl.sql:98-102)


def test_nest_dotted(spark):
    df = spark.createDataFrame(
        [("o1", 100.0, "Alice", 30)],
        ["id", "order.amount", "user.name", "user.age"],
    )
    out = nest_dotted(df)
    assert set(out.columns) == {"id", "order", "user"}
    row = out.collect()[0]
    assert row["order"]["amount"] == 100.0
    assert row["user"]["name"] == "Alice" and row["user"]["age"] == 30


def test_shared_sink_two_queries(spark, tmp_path):
    """Two queries upsert into ONE keyed index (reference: user_view and
    user_order_stats_view both write index `user_view`, flink-ddl.sql:143,165)."""
    sink = KeyedParquetSink(spark, str(tmp_path / "user_view"), "id")
    schema = "id string, name string, order_count long"
    base = spark.createDataFrame([("u1", "Alice", None), ("u2", "Bob", None)], schema)
    sink.merge(base)
    stats = spark.createDataFrame([("u1", "Alice", 5)], schema)
    sink.merge(stats)
    rows = {r["id"]: r for r in sink.read().collect()}
    assert rows["u1"]["order_count"] == 5 and rows["u2"]["name"] == "Bob"


# ---------------------------------------------------------------------------
# D1-D7: session catalog surface


def test_table_registry_ddl():
    reg = TableRegistry()
    schema = StructType([StructField("id", StringType()), StructField("amount", DoubleType())])
    reg.create_table(
        "orders", schema, options={"connector": "kafka", "topic": "shard1.ec.orders"},
        primary_key="id", proc_time="proc_time",
    )
    # D5: LIKE ... EXCLUDING OPTIONS (README.md:215-225)
    excl = reg.create_table_like("orders_copy", "orders")
    assert excl.schema == schema and excl.options == {} and excl.primary_key == ("id",)
    # D5: LIKE ... INCLUDING OPTIONS with override (README.md:252-254)
    incl = reg.create_table_like(
        "orders_kafka2", "orders", including_options=True, options={"topic": "other"}
    )
    assert incl.options["connector"] == "kafka" and incl.options["topic"] == "other"
    assert reg.names() == ["orders", "orders_copy", "orders_kafka2"]
    reg.drop("orders_copy")
    assert "orders_copy" not in reg.names()


def test_catalog_manager():
    mgr = CatalogManager()
    jdbc = JdbcCatalog("jdbc:mysql://mysql:3306", "ec", "root", "secret")
    mgr.create_catalog("mysql", jdbc)  # D4 (README.md:109-126)
    mgr.use_catalog("mysql")  # D6 (README.md:260)
    assert mgr.current_catalog is jdbc
    assert jdbc._jdbc_options("users")["url"] == "jdbc:mysql://mysql:3306/ec"
    mgr.use_catalog("default_catalog")
    with pytest.raises(KeyError):
        mgr.use_catalog("nope")


def test_registry_materialize_proctime(spark):
    reg = TableRegistry()
    schema = StructType([StructField("id", StringType())])
    reg.create_table("t", schema, proc_time="proc_time")
    df = reg.materialize(
        spark, "t", lambda s, spec: s.createDataFrame([("a",)], spec.schema)
    )
    assert "proc_time" in df.columns  # D3: computed PROCTIME() column
    assert df.schema["proc_time"].dataType.typeName() == "timestamp"


# ---------------------------------------------------------------------------
# T5: custom stateful operator (applyInPandasWithState) — running per-user
# totals with keyed state, the GroupState analog of Flink's keyed state +
# idle-state retention.


def test_running_user_stats_stateful(spark, tmp_path):
    from flink_streaming_etl_spark.streaming.stateful import running_user_stats

    src_dir = tmp_path / "stream"
    src_dir.mkdir()
    # Two files → two micro-batches (maxFilesPerTrigger=1): state must carry
    # counts across batches.
    (src_dir / "b1.json").write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {"user_id": 1, "value": 2.0},
                {"user_id": 1, "value": 3.0},
                {"user_id": 2, "value": 10.0},
            ]
        )
    )
    (src_dir / "b2.json").write_text(
        "\n".join(
            json.dumps(r)
            for r in [{"user_id": 1, "value": 5.0}, {"user_id": 3, "value": 1.0}]
        )
    )
    stream = (
        spark.readStream.schema("user_id long, value double")
        .option("maxFilesPerTrigger", 1)
        .json(str(src_dir))
    )
    out = running_user_stats(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("running_stats")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = spark.sql("select * from running_stats").collect()
    # The LAST emission per user is the running total over all batches.
    latest = {}
    for r in rows:
        latest[r["user_id"]] = (r["n_events"], r["sum_value"])
    assert latest[1] == (3, 10.0)
    assert latest[2] == (1, 10.0)
    assert latest[3] == (1, 1.0)
    # user 1 must have emitted an intermediate (2, 5.0) in the first batch
    assert (2, 5.0) in [
        (r["n_events"], r["sum_value"]) for r in rows if r["user_id"] == 1
    ]


def test_bucket_partitioned_sink_touches_only_batch_buckets(spark, tmp_path):
    """BucketPartitionedSink: per-batch merge rewrites ONLY the partitions
    the batch's keys hash into (mtime-pinned), results equal the full-
    rewrite sink, and emptying a bucket removes its directory."""
    import os
    import time

    from flink_streaming_etl_spark.streaming.upsert_sink import BucketPartitionedSink

    path = str(tmp_path / "bsink")
    sink = BucketPartitionedSink(spark, path, "id", n_buckets=8)

    base = spark.createDataFrame(
        [(f"k{i}", i * 1.0) for i in range(64)], "id string, v double"
    )
    sink.merge(base)
    assert sorted(r["id"] for r in sink.read().collect()) == sorted(f"k{i}" for i in range(64))

    bucket_dirs = sorted(
        d for d in os.listdir(path) if d.startswith("_bucket=")
    )
    assert len(bucket_dirs) == 8
    mtime_before = {
        d: max(os.path.getmtime(os.path.join(path, d, f)) for f in os.listdir(os.path.join(path, d)))
        for d in bucket_dirs
    }

    time.sleep(1.1)  # mtime resolution guard
    upd = spark.createDataFrame([("k3", 99.0), ("k3b", 1.0)], "id string, v double")
    sink.merge(upd)

    got = {r["id"]: r["v"] for r in sink.read().collect()}
    assert got["k3"] == 99.0 and got["k3b"] == 1.0 and len(got) == 65

    touched = {
        f"_bucket={r['_bucket']}"
        for r in upd.withColumn("_bucket", sink._bucket()).select("_bucket").distinct().collect()
    }
    for d in bucket_dirs:
        mt = max(
            os.path.getmtime(os.path.join(path, d, f)) for f in os.listdir(os.path.join(path, d))
        )
        if d in touched:
            assert mt > mtime_before[d], f"{d} should have been rewritten"
        else:
            assert mt == mtime_before[d], f"{d} was rewritten but not touched by the batch"

    # delete every key of one bucket → its directory disappears
    victims = spark.createDataFrame(
        [(r["id"],) for r in sink.read().collect()], "id string"
    ).withColumn("_b", sink._bucket()).filter(F.col("_b") == 0).drop("_b")
    n_victims = victims.count()
    assert n_victims > 0
    sink.merge(spark.createDataFrame([], "id string, v double"), deletes=victims)
    assert not os.path.exists(os.path.join(path, "_bucket=0"))
    assert len(sink.read().collect()) == 65 - n_victims


@pytest.mark.parametrize("bucketed", [False, True], ids=["keyed", "bucketed"])
def test_replace_failure_keeps_previous_content(spark, tmp_path, bucketed):
    """Complete-mode ``replace`` writes aside and swaps in: a result whose
    evaluation fails raises, and the previous content reads back
    unchanged."""
    from flink_streaming_etl_spark.streaming.upsert_sink import BucketPartitionedSink

    path = str(tmp_path / "sink")
    sink = (BucketPartitionedSink(spark, path, "id", n_buckets=4) if bucketed
            else KeyedParquetSink(spark, path, "id"))
    sink.replace(spark.createDataFrame(
        [(f"k{i}", i * 1.0) for i in range(8)], "id string, v double"))
    before = sorted(map(tuple, sink.read().collect()))
    assert len(before) == 8

    failing = spark.range(4).select(
        F.concat(F.lit("n"), F.col("id").cast("string")).alias("id"),
        F.when(F.col("id") == 3, F.raise_error(F.lit("replace-boom")))
        .otherwise(F.col("id").cast("double"))
        .alias("v"),
    )
    with pytest.raises(Exception, match="replace-boom"):
        sink.replace(failing)
    assert sorted(map(tuple, sink.read().collect())) == before


def test_jdbc_options_construction_and_partitioned_scan():
    """S3/S4 live path, connection-free: the JDBC option set mirrors the
    reference's connector block (flink-ddl.sql:84-94) and exposes the
    parallel-range scan knobs a full-dimension snapshot needs at scale."""
    from flink_streaming_etl_spark.catalog import JdbcCatalog

    cat = JdbcCatalog("jdbc:mysql://mysql:3306", "crm", "root", "debezium")
    opts = cat._jdbc_options("users")
    assert opts["url"] == "jdbc:mysql://mysql:3306/crm"
    assert opts["dbtable"] == "users"
    assert opts["user"] == "root" and opts["password"] == "debezium"
    assert opts["fetchsize"] == "10000"
    popts = cat._jdbc_options(
        "users", partition_column="id", num_partitions=16, bounds=(0, 1_000_000)
    )
    assert popts["partitionColumn"] == "id"
    assert popts["numPartitions"] == "16"
    assert (popts["lowerBound"], popts["upperBound"]) == ("0", "1000000")


def test_dimension_cache_env_flag_routes_to_jdbc(spark, monkeypatch):
    """SPARK_GRAFT_JDBC_URL selects the live-JDBC loader; unset, the
    fallback loader serves snapshots (the .load() boundary is stubbed —
    driver/database stay out of sandbox)."""
    import flink_streaming_etl_spark.catalog as cat_mod
    from flink_streaming_etl_spark.catalog import dimension_cache_from_env

    fallback = spark.createDataFrame([(1, "a")], "id long, name string")
    cache = dimension_cache_from_env(spark, "users", lambda: fallback)
    assert cache.snapshot() is fallback

    seen = {}

    def fake_load(self, sp, table, **kw):
        seen.update(url=self.base_url, db=self.default_database, table=table)
        return fallback

    monkeypatch.setenv("SPARK_GRAFT_JDBC_URL", "jdbc:mysql://db:3306")
    monkeypatch.setenv("SPARK_GRAFT_JDBC_DB", "crm")
    monkeypatch.setattr(cat_mod.JdbcCatalog, "load", fake_load)
    cache2 = dimension_cache_from_env(spark, "users", lambda: fallback)
    assert cache2.snapshot() is fallback
    assert seen == {"url": "jdbc:mysql://db:3306", "db": "crm", "table": "users"}


def test_es_sink_options_and_env_factory(spark, monkeypatch, tmp_path):
    """S5 live path: ES connector option construction (PK document id,
    upsert operation, shared-index safe) and the env-flag sink factory."""
    from flink_streaming_etl_spark.streaming.upsert_sink import (
        EsUpsertSink,
        KeyedParquetSink,
        es_sink_options,
        upsert_sink_from_env,
    )

    opts = es_sink_options("order_view", "id", "es-host:9200")
    assert opts["es.nodes"] == "es-host:9200"
    assert opts["es.resource"] == "order_view"
    assert opts["es.write.operation"] == "upsert"
    assert opts["es.mapping.id"] == "id"
    assert es_sink_options("x", ["a", "b"], "h")["es.mapping.id"] == "a,b"

    sink = upsert_sink_from_env(spark, str(tmp_path / "order_view"), "id")
    assert isinstance(sink, KeyedParquetSink)
    monkeypatch.setenv("SPARK_GRAFT_ES_NODES", "es-host:9200")
    live = upsert_sink_from_env(spark, str(tmp_path / "order_view"), "id")
    assert isinstance(live, EsUpsertSink)
    assert live.index == "order_view" and live.options()["es.nodes"] == "es-host:9200"


def test_cumulate_last_slice_equals_tumbling(spark):
    """CUMULATE semantics: the final slice of each hour (window_end =
    window_start + max) must equal the 1-hour tumbling aggregate — the
    growing windows converge to the tumble total."""
    from flink_streaming_etl_spark.catalog import load_tables
    from flink_streaming_etl_spark.operators import windows as W
    from pyspark.sql import functions as F
    from tests.conftest import SF_SMOKE

    events = load_tables(spark, SF_SMOKE, register=False)["events"]
    cum = W.cumulate_event_stats(events)
    last = cum.filter(
        F.to_timestamp("window_end") == F.to_timestamp("window_start") + F.expr("INTERVAL 1 HOUR")
    ).select("window_start", "event_type", "n_events", "sum_value")
    tumble = W.windowed_event_stats(events)
    assert last.exceptAll(tumble).count() == 0
    assert tumble.exceptAll(last).count() == 0


def test_cumulate_streaming_equals_batch(spark, tmp_path):
    """The streaming cumulate (native hour window + slice-index group)
    emits the batch cumulate result once the source drains, modulo
    watermark-held trailing windows."""
    from flink_streaming_etl_spark.catalog import load_tables
    from flink_streaming_etl_spark.operators import windows as W
    from pyspark.sql import functions as F
    from tests.conftest import SF_SMOKE

    events = load_tables(spark, SF_SMOKE, register=False)["events"].limit(2000).cache()
    src_dir = tmp_path / "events_json"
    events.select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
        "event_type",
        "value",
    ).coalesce(1).write.json(str(src_dir))
    stream = (
        spark.readStream.schema("event_id long, ts string, event_type string, value double")
        .option("maxFilesPerTrigger", 1)
        .json(str(src_dir))
        .withColumn("ts", F.to_timestamp("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS"))
    )
    q = (
        W.cumulate_event_stats_stream(stream, watermark="10 minutes")
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    key = lambda r: (r["window_start"], r["window_end"], r["event_type"])  # noqa: E731
    got = {key(r): (r["n_events"], r["sum_value"])
           for r in spark.read.parquet(str(tmp_path / "out")).collect()}
    want = {key(r): (r["n_events"], r["sum_value"])
            for r in W.cumulate_event_stats(events).collect()}
    assert got, "streaming cumulate emitted nothing"
    assert set(got) <= set(want)
    for k, v in got.items():
        assert v == want[k], k
    # at most the trailing hour's slices held back per event_type
    n_types = len({k[2] for k in want})
    n_steps = W.CUMULATE_MAX_MINUTES // W.CUMULATE_STEP_MINUTES
    assert len(got) >= len(want) - 2 * n_steps * n_types


def test_hopping_decomposed_equals_direct(spark):
    """Pane decomposition is an algebraic rewrite: identical output to the
    direct hop aggregation on the same input."""
    from flink_streaming_etl_spark.catalog import load_tables
    from flink_streaming_etl_spark.operators import windows as W
    from tests.conftest import SF_SMOKE

    events = load_tables(spark, SF_SMOKE, register=False)["events"]
    a = W.hopping_event_stats(events)
    b = W.hopping_event_stats_decomposed(events)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_backfill_then_stream_handover_additive(spark, tmp_path):
    """Kappa backfill→streaming handover: batch-aggregate history up to a
    cutover, stream the tail into the same sink with ADDITIVE merge, and
    the final table equals the full-batch windowed aggregate exactly —
    including windows that span the cutover (their history partial and
    tail partial must SUM, which is what AdditivePartialSink guarantees and
    a replace-by-key upsert would silently break)."""
    from flink_streaming_etl_spark.catalog import load_tables
    from flink_streaming_etl_spark.operators import windows as W
    from flink_streaming_etl_spark.streaming.upsert_sink import AdditivePartialSink
    from pyspark.sql import functions as F
    from tests.conftest import SF_SMOKE

    events = load_tables(spark, SF_SMOKE, register=False)["events"].limit(2000).cache()
    cutover = events.agg(F.expr("percentile(cast(ts as long), 0.5)")).collect()[0][0]
    history = events.filter(F.col("ts").cast("long") <= cutover)
    tail = events.filter(F.col("ts").cast("long") > cutover)
    assert history.count() > 0 and tail.count() > 0  # windows straddle the cut

    sink = AdditivePartialSink(
        spark, str(tmp_path / "agg"), keys=["window_start", "event_type"],
        sum_cols=["n_events", "sum_value"], decimal_cols=["sum_value"],
    )
    sink.merge(W.windowed_event_stats(history))  # batch backfill

    # stream the tail in two micro-batch-sized chunks (foreachBatch analog)
    mid = tail.agg(F.expr("percentile(cast(ts as long), 0.5)")).collect()[0][0]
    for chunk in (
        tail.filter(F.col("ts").cast("long") <= mid),
        tail.filter(F.col("ts").cast("long") > mid),
    ):
        sink.merge(W.windowed_event_stats(chunk))

    # BIT-EXACT equality, no rounding mask: the operator's partials are
    # DECIMAL(18,6)-derived doubles, and the sink re-sums the opted-in
    # float column through DECIMAL(26,6), so merge order cannot drift ulps.
    got = {(r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
           for r in sink.read().collect()}
    want = {(r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
            for r in W.windowed_event_stats(events).collect()}
    assert got == want


def test_streaming_heavy_hitters_mg_handover(spark):
    """Streaming twin of heavy_hitter_tokens: a mergeable Misra-Gries
    summary built across micro-batches keeps O(cap) state, never loses a
    true heavy hitter (no false negatives), brackets every tracked count
    with exact bounds, and after the kappa exact-verify handover EQUALS
    the batch operator's answer."""
    from collections import Counter

    from flink_streaming_etl_spark.catalog import load_tables
    from flink_streaming_etl_spark.operators.text import heavy_hitter_tokens
    from flink_streaming_etl_spark.streaming.heavy_hitters import (
        MisraGriesAccumulator,
        tokens_of,
    )
    from pyspark.sql import functions as F
    from tests.conftest import SF_SMOKE

    docs = load_tables(spark, SF_SMOKE, register=False)["documents"]
    k = 50
    acc = MisraGriesAccumulator(cap=k)
    # replay in 3 micro-batch analogs (same foreachBatch-analog pattern as
    # the additive-sink handover test)
    for part in range(3):
        acc.add_batch(docs.filter(F.col("doc_id") % 3 == part))

    # state bounded by capacity; totals exact
    assert len(acc.counts) <= k
    assert acc.n_total == tokens_of(docs).count()

    true_counts = Counter(
        {r["token"]: r["n"]
         for r in tokens_of(docs).groupBy("token")
         .agg(F.count(F.lit(1)).alias("n")).collect()}
    )
    # bounds: mg <= true <= mg + max_undercount for every tracked token
    for t, c in acc.counts.items():
        assert c <= true_counts[t] <= c + acc.max_undercount, t

    # no false negatives: every true heavy hitter is a candidate
    heavy = {t for t, n in true_counts.items() if n * k > acc.n_total}
    cand = {t for t, _, _ in acc.candidate_rows(k)}
    assert heavy <= cand

    # kappa handover: exact verify over the replayable corpus equals batch
    got = {(r["token"], r["n"], r["n_total"])
           for r in acc.exact_verify(spark, docs, k).collect()}
    want = {(r["token"], r["n"], r["n_total"])
            for r in heavy_hitter_tokens(docs, k).collect()}
    assert got == want and got


def test_streaming_heavy_hitters_attach_file_stream(spark, tmp_path):
    """attach() wires the accumulator onto a real readStream source via
    foreachBatch; after the replay drains, the summary matches one built
    from the same rows in batch."""
    import json

    from flink_streaming_etl_spark.streaming.heavy_hitters import MisraGriesAccumulator

    src_dir = tmp_path / "docs"
    src_dir.mkdir()
    rows = [{"doc_id": i, "text": "alpha beta " + ("alpha " * (i % 3))} for i in range(40)]
    (src_dir / "a.jsonl").write_text("\n".join(json.dumps(r) for r in rows))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src_dir))
    )
    acc = MisraGriesAccumulator(cap=10)
    q = acc.attach(stream, checkpointLocation=str(tmp_path / "ckpt"))
    q.processAllAvailable()
    q.stop()

    batch_acc = MisraGriesAccumulator(cap=10)
    batch_acc.add_batch(spark.read.schema("doc_id long, text string").json(str(src_dir)))
    assert acc.n_total == batch_acc.n_total
    assert set(acc.counts) == set(batch_acc.counts)


def test_streaming_mg_collect_bound_and_replay_idempotent(spark):
    """(a) The per-batch collect is bounded by summary capacity — at most
    (cap+1)·partitions rows — even when the batch vocabulary is far wider
    than cap (the pre-fix exact groupBy.collect shipped the whole
    vocabulary to the driver). (b) foreachBatch is at-least-once: replaying
    the same batch_id must be a no-op on counts/n_total."""
    from pyspark.sql import functions as F

    from flink_streaming_etl_spark.streaming.heavy_hitters import MisraGriesAccumulator

    # 20k distinct tokens, cap 10 — vocabulary >> capacity
    docs = spark.range(0, 2000).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ", *[F.concat(F.lit(f"tok{j}_"), F.col("id")) for j in range(10)]
        ).alias("text"),
    )
    acc = MisraGriesAccumulator(cap=10)
    rows = acc._summarize_batch(docs)
    n_parts = docs.rdd.getNumPartitions()
    assert len(rows) <= (acc.cap + 1) * n_parts, (len(rows), n_parts)

    acc.add_batch(docs, batch_id=0)
    n1, c1, u1 = acc.n_total, dict(acc.counts), acc.max_undercount
    assert n1 == 2000 * 10
    acc.add_batch(docs, batch_id=0)  # replayed micro-batch: skipped
    assert (acc.n_total, dict(acc.counts), acc.max_undercount) == (n1, c1, u1)
    acc.add_batch(docs, batch_id=1)  # genuinely new batch: merged
    assert acc.n_total == 2 * n1


def test_streaming_mg_k_above_cap_raises(spark):
    """k > cap silently drops true heavy hitters (eviction can have removed
    them) — both query-side entry points must refuse."""
    import pytest

    from flink_streaming_etl_spark.streaming.heavy_hitters import MisraGriesAccumulator

    acc = MisraGriesAccumulator(cap=5)
    acc.add_counter(__import__("collections").Counter({"a": 3, "b": 2}))
    with pytest.raises(ValueError, match="k=6 exceeds"):
        acc.candidate_rows(6)
    with pytest.raises(ValueError, match="k=6 exceeds"):
        acc.exact_verify(spark, None, 6)


def test_additive_sink_decimal_opt_in_and_overflow_loud(spark, tmp_path):
    """(a) The decimal path is an explicit opt-in: a double column NOT in
    decimal_cols keeps plain double summation (no silent 1e-6
    quantization). (b) A DECIMAL(26,6) overflow (NULL under non-ANSI
    semantics) raises instead of silently storing NULL. (c) decimal_cols
    must be a subset of sum_cols."""
    import pytest

    from flink_streaming_etl_spark.streaming.upsert_sink import AdditivePartialSink

    # (a) sub-1e-6 granularity survives when NOT opted in
    df = spark.createDataFrame([("k", 1e-9), ("k", 2e-9)], "key string, metric double")
    sink = AdditivePartialSink(spark, str(tmp_path / "plain"), keys=["key"],
                               sum_cols=["metric"])
    sink.merge(df)
    [r] = sink.read().collect()
    assert abs(r["metric"] - 3e-9) < 1e-15  # a decimal(_,6) path would give 0.0

    # (b) overflow is loud on BOTH ANSI settings: under ANSI (the session
    # default) the out-of-range cast itself throws; under non-ANSI the
    # cast NULLs silently and the sink's NULL-over-non-NULL-inputs flag
    # must fire instead.
    from pyspark.errors.exceptions.captured import ArithmeticException

    big = spark.createDataFrame([("k", 9e21), ("k", 9e21)], "key string, v double")
    sink2 = AdditivePartialSink(spark, str(tmp_path / "ovf"), keys=["key"],
                                sum_cols=["v"], decimal_cols=["v"])
    with pytest.raises((ArithmeticError, ArithmeticException)):
        sink2.merge(big)
    old_ansi = spark.conf.get("spark.sql.ansi.enabled")
    try:
        spark.conf.set("spark.sql.ansi.enabled", "false")
        with pytest.raises(ArithmeticError, match="overflowed"):
            sink2.merge(big)
    finally:
        spark.conf.set("spark.sql.ansi.enabled", old_ansi)

    # (c) decimal_cols ⊆ sum_cols enforced
    with pytest.raises(ValueError, match="decimal_cols"):
        AdditivePartialSink(spark, str(tmp_path / "bad"), keys=["key"],
                            sum_cols=["v"], decimal_cols=["w"])


def test_streaming_anomaly_zscore_handover(spark):
    """Streaming twin of anomaly_zscore_daily: additive daily totals
    merged across out-of-order micro-batches (with a replay) must equal
    the batch operator EXACTLY — same integer folds, same doubles."""
    import datetime as dt

    from flink_streaming_etl_spark.operators.analytics import anomaly_zscore_daily
    from flink_streaming_etl_spark.streaming.anomaly import AnomalyZScoreAccumulator

    base = dt.datetime(2024, 3, 1)
    rows = []
    for d in range(15):
        for h in (1, 13):  # two events per day per type
            for et, v in (("click", 2.5 + (d % 3)), ("buy", 40.0 if d == 12 else 7.25)):
                rows.append((d * 100 + h, base + dt.timedelta(days=d, hours=h), 1, et, v, "{}"))
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    full = spark.createDataFrame(rows, schema)

    acc = AnomalyZScoreAccumulator()
    # out-of-order batches: late chunk carries EARLY days; a day's two
    # events are split across different batches
    chunks = [rows[20:40], rows[0:20], rows[40:]]
    for bid, chunk in enumerate(chunks):
        acc.add_batch(spark.createDataFrame(chunk, schema), batch_id=bid)
    acc.add_batch(spark.createDataFrame(chunks[-1], schema), batch_id=len(chunks) - 1)  # replay: no-op

    got = {(r["event_type"], r["day"]): (r["daily_value"], r["zscore"], r["is_anomaly"])
           for r in acc.result(spark).collect()}
    want = {(r["event_type"], r["day"]): (r["daily_value"], r["zscore"], r["is_anomaly"])
            for r in anomaly_zscore_daily(full).collect()}
    assert got == want
    assert any(v[2] == 1 for v in want.values())  # the buy spike is flagged


def test_streaming_anomaly_retention_evicts_old_days(spark):
    import datetime as dt

    from flink_streaming_etl_spark.streaming.anomaly import AnomalyZScoreAccumulator

    base = dt.datetime(2024, 3, 1)
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    acc = AnomalyZScoreAccumulator(retention_days=8)
    rows = [(d, base + dt.timedelta(days=d), 1, "click", 1.0, "{}") for d in range(20)]
    acc.add_batch(spark.createDataFrame(rows, schema), batch_id=0)
    days = acc.totals["click"]
    assert len(days) == 8
    assert min(days) == dt.date(2024, 3, 13)  # 20 days in, keep the last 8
