"""End-to-end replay of the reference's own acceptance scenario through the
assembled pipeline (SURVEY.md §5.3): the README seed data (2 users, 1
product, 1 order, 1 order_item — README.md:76-83) plus the golden
changelog's status transition closed→payed
(sample/cdc.orders.change-log-mysql.json:123,131). Together these pin:
enrichment join correct, daily stats exclude 'closed', stats advance on the
flip, and every sink refreshes consistently from one shared batch."""

from __future__ import annotations

import json

import pytest

from flink_streaming_etl_spark.streaming.reference_pipeline import (
    QUERIES,
    ReferencePipeline,
    UpsertKeyError,
)


def env(op, after=None, before=None, ts=0):
    return json.dumps(
        {"before": before, "after": after,
         "source": {"db": "ec", "table": "t", "ts_ms": ts}, "op": op, "ts_ms": ts}
    )


def parse(spark, pipe, name, lines):
    return pipe.sources[name].parse(
        spark.createDataFrame([(l,) for l in lines], "value string")
    )


@pytest.fixture()
def pipe(spark, tmp_path):
    return ReferencePipeline(spark, str(tmp_path))


def rows_by_id(sink):
    return {r["id"]: r.asDict() for r in sink.read().collect()}


def test_reference_scenario(spark, pipe):
    t = "2020-07-30 10:08:22"
    seed = {
        "users": parse(spark, pipe, "users", [
            env("c", {"id": "0001", "name": "Jark", "age": 22, "ctime": t, "utime": t}, ts=1),
            env("c", {"id": "0002", "name": "Sabella", "age": 23, "ctime": t, "utime": t}, ts=1),
        ]),
        "products": parse(spark, pipe, "products", [
            env("c", {"id": "p001", "name": "T-shirt", "price": 100.0, "ctime": t, "utime": t}, ts=1),
        ]),
        "orders": parse(spark, pipe, "orders", [
            env("c", {"id": "o001", "user_id": "0001", "amount": 100.0, "status": "closed",
                      "channel": "web", "ctime": t, "utime": t}, ts=1),
        ]),
        "order_items": parse(spark, pipe, "order_items", [
            env("c", {"id": "i001", "order_id": "o001", "product_id": "p001",
                      "price": 100.0, "quantity": 1, "amount": 100.0}, ts=1),
        ]),
    }
    pipe.run_batch(seed)

    # order_view: join + nested dotted columns.
    ov = rows_by_id(pipe.sinks["order_view"])
    assert ov["o001"]["user"]["name"] == "Jark"
    assert ov["o001"]["order"]["amount"] == 100.0
    assert ov["o001"]["order"]["status"] == "closed"

    # user_view / product_view projections.
    assert set(rows_by_id(pipe.sinks["user_view"])) == {"0001", "0002"}
    assert rows_by_id(pipe.sinks["product_view"])["p001"]["price"] == 100.0

    # order_view_items: LISTAGG + COLLECT(ROW(...)).
    items = rows_by_id(pipe.sinks["order_view_items"])["o001"]
    assert items["items_csv"] == "p001"
    assert items["items"][0]["quantity"] == 1

    # Daily stats exclude the 'closed' order entirely.
    assert rows_by_id(pipe.sinks["order_stats"]) == {}
    assert rows_by_id(pipe.sinks["user_order_stats"]) == {}
    assert rows_by_id(pipe.sinks["product_stats"]) == {}

    # The golden changelog flip: closed → payed (retraction in reverse).
    flip = parse(spark, pipe, "orders", [
        env("u",
            {"id": "o001", "user_id": "0001", "amount": 100.0, "status": "payed",
             "channel": "web", "ctime": t, "utime": t},
            before={"id": "o001", "user_id": "0001", "amount": 100.0, "status": "closed",
                    "channel": "web", "ctime": t, "utime": t}, ts=2),
    ])
    pipe.run_batch({"orders": flip})

    os_ = rows_by_id(pipe.sinks["order_stats"])
    assert os_ == {"2020-07-30": {"id": "2020-07-30", "amount": 100.0, "cnt": 1}}
    uos = rows_by_id(pipe.sinks["user_order_stats"])
    assert uos["0001|2020-07-30"]["order.amount.day"] == 100.0
    ps = rows_by_id(pipe.sinks["product_stats"])
    assert ps["p001"]["quantity"] == 1 and ps["p001"]["amount"] == 100.0
    assert rows_by_id(pipe.sinks["order_view"])["o001"]["order"]["status"] == "payed"

    # Flip BACK to closed → stats retract to empty again (flink-ddl.sql:213).
    cancel = parse(spark, pipe, "orders", [
        env("u",
            {"id": "o001", "user_id": "0001", "amount": 100.0, "status": "closed",
             "channel": "web", "ctime": t, "utime": t},
            before={"id": "o001", "user_id": "0001", "amount": 100.0, "status": "payed",
                    "channel": "web", "ctime": t, "utime": t}, ts=3),
    ])
    pipe.run_batch({"orders": cancel})
    assert rows_by_id(pipe.sinks["order_stats"]) == {}
    assert rows_by_id(pipe.sinks["user_order_stats"]) == {}
    assert rows_by_id(pipe.sinks["product_stats"]) == {}


def test_sinks_keyed_and_replay_idempotent(spark, pipe, tmp_path):
    """Sink invariants across a snapshot, a batch that deletes an order
    (cascading to its items) and flips another to 'closed', and a replay of
    that batch: one row per id in every sink, the deleted order gone, no
    ``<sink>.tmp`` left behind, and the replay changes no sink row."""
    t = "2020-07-30 10:08:22"

    def o(oid, status):
        return {"id": oid, "user_id": "0001", "amount": 10.0, "status": status,
                "channel": "web", "ctime": t, "utime": t}

    def item(iid, oid):
        return {"id": iid, "order_id": oid, "product_id": "p001",
                "price": 10.0, "quantity": 1, "amount": 10.0}

    snapshot = {
        "users": ["r", {"id": "0001", "name": "Jark", "age": 22, "ctime": t, "utime": t}],
        "products": ["r", {"id": "p001", "name": "T-shirt", "price": 10.0,
                           "ctime": t, "utime": t}],
        "orders": ["r", o("o001", "payed"), o("o002", "payed"), o("o003", "payed")],
        "order_items": ["r", item("i001", "o001"), item("i002", "o001"),
                        item("i003", "o002"), item("i004", "o003")],
    }
    pipe.run_batch({
        name: parse(spark, pipe, name, [env(op, after=r, ts=1) for r in rows])
        for name, (op, *rows) in snapshot.items()
    })
    delta = {
        "orders": [
            env("d", before=o("o001", "payed"), ts=2),
            env("u", o("o002", "closed"), before=o("o002", "payed"), ts=3),
        ],
        "order_items": [
            env("d", before=item("i001", "o001"), ts=2),
            env("d", before=item("i002", "o001"), ts=2),
        ],
    }

    def check_sinks():
        out = {}
        for name, sink in pipe.sinks.items():
            rows = sink.read().collect()
            ids = [r["id"] for r in rows]
            assert len(ids) == len(set(ids)), name
            assert not (tmp_path / f"{name}.tmp").exists(), name
            out[name] = {r["id"]: r.asDict(recursive=True) for r in rows}
        return out

    def run_delta():
        pipe.run_batch({n: parse(spark, pipe, n, lines) for n, lines in delta.items()})
        after = check_sinks()
        assert set(after["order_view"]) == {"o002", "o003"}
        assert set(after["order_view_items"]) == {"o002", "o003"}
        assert after["order_stats"]["2020-07-30"]["cnt"] == 1
        return after

    check_sinks()
    first = run_delta()
    assert run_delta() == first


def test_upsert_key_analyzer_check(spark, tmp_path):
    """Flink rejects update-mode queries into keyless sinks; our pipeline
    raises the same class of error when a query loses its sink key."""
    pipe = ReferencePipeline(spark, str(tmp_path))
    QUERIES_BACKUP = dict(QUERIES)
    try:
        QUERIES["order_stats"] = lambda s: QUERIES_BACKUP["order_stats"](s).drop("id")
        with pytest.raises(UpsertKeyError, match="order_stats"):
            pipe.run_batch({})
    finally:
        QUERIES.clear()
        QUERIES.update(QUERIES_BACKUP)


def test_reference_pipeline_streaming_multi_source(spark, tmp_path):
    """Continuous mode: independent per-topic streams fold into shared
    states; after both drain, the enrichment join sees both sources."""
    t = "2020-07-30 10:08:22"
    pipe = ReferencePipeline(spark, str(tmp_path / "sinks"))
    users_dir, orders_dir = tmp_path / "users", tmp_path / "orders"
    users_dir.mkdir(), orders_dir.mkdir()
    (users_dir / "u.jsonl").write_text(
        env("c", {"id": "0001", "name": "Jark", "age": 22, "ctime": t, "utime": t}, ts=1)
    )
    (orders_dir / "o.jsonl").write_text(
        "\n".join([
            env("c", {"id": "o001", "user_id": "0001", "amount": 100.0,
                      "status": "payed", "channel": "web", "ctime": t, "utime": t}, ts=2),
            env("c", {"id": "o002", "user_id": "0001", "amount": 50.0,
                      "status": "closed", "channel": "app", "ctime": t, "utime": t}, ts=3),
        ])
    )
    qs = pipe.run_streams(
        {"users": str(users_dir), "orders": str(orders_dir)},
        checkpoint_root=str(tmp_path / "ckpt"),
    )
    for q in qs:
        q.awaitTermination(180)
    ov = rows_by_id(pipe.sinks["order_view"])
    assert ov["o001"]["user"]["name"] == "Jark"
    assert set(ov) == {"o001", "o002"}
    os_ = rows_by_id(pipe.sinks["order_stats"])
    assert os_ == {"2020-07-30": {"id": "2020-07-30", "amount": 100.0, "cnt": 1}}
