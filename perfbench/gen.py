"""Seeded input generators and pure-Python reference models.

Everything here is plain Python: the same seed always yields byte-identical
changelogs, documents and tables, and each generator keeps the model the
benchmark checks the program's outputs against.
"""

from __future__ import annotations

import json
import os
import random
from datetime import datetime, timedelta

# ---------------------------------------------------------------------------
# cdc_upsert: Debezium changelogs of the reference schema

STATUSES = ("created", "payed", "shipped", "closed")
CHANNELS = ("web", "app", "store")
TS0 = 1_600_000_000_000  # first event time, ms since the epoch


def _stamp(rng: random.Random) -> str:
    day = 1 + rng.randrange(28)
    return f"2020-07-{day:02d} {rng.randrange(24):02d}:{rng.randrange(60):02d}:00"


class _Keys:
    """Live keys of one table in a list, with O(1) random pick and removal."""

    def __init__(self) -> None:
        self.keys: list[str] = []
        self.pos: dict[str, int] = {}

    def add(self, key: str) -> None:
        self.pos[key] = len(self.keys)
        self.keys.append(key)

    def remove(self, key: str) -> None:
        i = self.pos.pop(key)
        last = self.keys.pop()
        if last != key:
            self.keys[i] = last
            self.pos[last] = i

    def pick(self, rng: random.Random) -> str:
        return self.keys[rng.randrange(len(self.keys))]


class CdcGenerator:
    """Changelogs for users, products, orders and order_items.

    ``snapshot()`` emits the initial ``op:"r"`` snapshot, ``delta(n)`` one
    micro-batch of exactly ``n`` events: order inserts (with their items and
    sometimes a new user), order-status updates (including flips to and
    from ``closed``) and order deletes (cascading to their items). Every
    event gets a distinct ``ts_ms``, so the latest image per key is never
    ambiguous. ``state`` is the latest row per key after every event so far.
    """

    def __init__(self, seed: int, n_users: int, n_products: int,
                 n_orders: int) -> None:
        self.rng = random.Random(f"cdc:{seed}")
        self.sizes = (n_users, n_products, n_orders)
        self.ts = TS0
        self.state: dict[str, dict[str, dict]] = {
            "users": {}, "products": {}, "orders": {}, "order_items": {}
        }
        self.items_of: dict[str, list[str]] = {}
        self.live_orders = _Keys()
        self.n = {"users": 0, "products": 0, "orders": 0, "order_items": 0}

    # -- events ----------------------------------------------------------

    def _emit(self, out: dict[str, list[str]], table: str, op: str,
              before: dict | None, after: dict | None) -> None:
        self.ts += 1
        out.setdefault(table, []).append(json.dumps(
            {"before": before, "after": after,
             "source": {"db": "ec", "table": table, "ts_ms": self.ts},
             "op": op, "ts_ms": self.ts},
            separators=(",", ":"),
        ))
        key = (after or before)["id"]
        if op == "d":
            del self.state[table][key]
        else:
            self.state[table][key] = after

    def _new_id(self, table: str, prefix: str) -> str:
        self.n[table] += 1
        return f"{prefix}{self.n[table]:07d}"

    def _user(self, out, op: str) -> str:
        rng = self.rng
        uid = self._new_id("users", "u")
        t = _stamp(rng)
        self._emit(out, "users", op, None, {
            "id": uid, "name": f"user-{rng.randrange(10**6):06d}",
            "age": 18 + rng.randrange(60), "ctime": t, "utime": t,
        })
        return uid

    def _product(self, out, op: str) -> None:
        rng = self.rng
        pid = self._new_id("products", "p")
        t = _stamp(rng)
        self._emit(out, "products", op, None, {
            "id": pid, "name": f"product-{rng.randrange(10**6):06d}",
            "price": rng.randrange(100, 50_000) / 100, "ctime": t, "utime": t,
        })

    def _order(self, out, op: str, user_id: str) -> int:
        """One order with 1-3 items; returns the number of events."""
        rng = self.rng
        oid = self._new_id("orders", "o")
        t = _stamp(rng)
        lines = []
        for _ in range(1 + rng.randrange(3)):
            price_cents = rng.randrange(100, 50_000)
            qty = 1 + rng.randrange(5)
            lines.append((f"p{1 + rng.randrange(self.n['products']):07d}", price_cents, qty))
        self._emit(out, "orders", op, None, {
            "id": oid, "user_id": user_id,
            "amount": sum(p * q for _, p, q in lines) / 100,
            "status": rng.choice(STATUSES), "channel": rng.choice(CHANNELS),
            "ctime": t, "utime": t,
        })
        self.items_of[oid] = []
        for pid, price_cents, qty in lines:
            iid = self._new_id("order_items", "i")
            self._emit(out, "order_items", op, None, {
                "id": iid, "order_id": oid, "product_id": pid,
                "price": price_cents / 100, "quantity": qty,
                "amount": price_cents * qty / 100,
            })
            self.items_of[oid].append(iid)
        self.live_orders.add(oid)
        return 1 + len(lines)

    def _update(self, out) -> None:
        rng = self.rng
        oid = self.live_orders.pick(rng)
        before = self.state["orders"][oid]
        after = dict(before)
        after["status"] = rng.choice([s for s in STATUSES if s != before["status"]])
        after["utime"] = _stamp(rng)
        self._emit(out, "orders", "u", before, after)

    def _delete(self, out) -> int:
        oid = self.live_orders.pick(self.rng)
        self.live_orders.remove(oid)
        self._emit(out, "orders", "d", self.state["orders"][oid], None)
        items = self.items_of.pop(oid)
        for iid in items:
            self._emit(out, "order_items", "d", self.state["order_items"][iid], None)
        return 1 + len(items)

    # -- batches ---------------------------------------------------------

    def snapshot(self) -> dict[str, list[str]]:
        n_users, n_products, n_orders = self.sizes
        out: dict[str, list[str]] = {}
        for _ in range(n_users):
            self._user(out, "r")
        for _ in range(n_products):
            self._product(out, "r")
        for _ in range(n_orders):
            self._order(out, "r", f"u{1 + self.rng.randrange(n_users):07d}")
        return out

    def delta(self, n_events: int) -> dict[str, list[str]]:
        """Exactly ``n_events`` events: ~60% status updates, ~28% from
        order inserts, ~13% from order deletes."""
        rng = self.rng
        out: dict[str, list[str]] = {}
        left = n_events
        while left > 0:
            r = rng.random()
            if r < 0.12 and left >= 6:
                if rng.random() < 0.2:
                    user = self._user(out, "c")
                    left -= 1
                else:
                    user = f"u{1 + rng.randrange(self.n['users']):07d}"
                left -= self._order(out, "c", user)
            elif r < 0.18 and left >= 4 and len(self.live_orders.keys) > 1:
                left -= self._delete(out)
            else:
                self._update(out)
                left -= 1
        return out


def cdc_sinks(state: dict[str, dict[str, dict]]) -> dict[str, dict[str, dict]]:
    """The seven reference sinks computed from the latest state: what
    flink-ddl.sql's continuous queries hold after the changelog so far."""
    users, products = state["users"], state["products"]
    orders, items = state["orders"], state["order_items"]
    live = {k: o for k, o in orders.items() if o["status"] != "closed"}

    order_view = {
        k: {"id": k, "ctime": o["ctime"], "utime": o["utime"],
            "order": {"amount": o["amount"], "status": o["status"],
                      "channel": o["channel"]},
            "user": {"name": users[o["user_id"]]["name"],
                     "age": users[o["user_id"]]["age"]}}
        for k, o in orders.items() if o["user_id"] in users
    }
    by_order: dict[str, list[dict]] = {}
    for it in items.values():
        by_order.setdefault(it["order_id"], []).append(it)
    order_view_items = {}
    for oid, its in by_order.items():
        rows = sorted((it["product_id"], it["price"], it["quantity"]) for it in its)
        order_view_items[oid] = {
            "id": oid,
            "items_csv": ",".join(sorted(it["product_id"] for it in its)),
            "items": [{"product.id": p, "price": pr, "quantity": q} for p, pr, q in rows],
        }

    def cents(x: float) -> int:
        return round(x * 100)

    uos: dict[str, list[int]] = {}
    days: dict[str, list[int]] = {}
    for o in live.values():
        day = o["ctime"][:10]
        for acc in (uos.setdefault(f"{o['user_id']}|{day}", [0, 0]),
                    days.setdefault(day, [0, 0])):
            acc[0] += cents(o["amount"])
            acc[1] += 1
    user_order_stats = {
        k: {"id": k, "user_id": k.split("|")[0], "cday": k.split("|")[1],
            "order.amount.day": c / 100, "order.count.day": n}
        for k, (c, n) in uos.items()
    }
    order_stats = {d: {"id": d, "amount": c / 100, "cnt": n} for d, (c, n) in days.items()}
    prod: dict[str, list[int]] = {}
    for it in items.values():
        if it["order_id"] in live:
            acc = prod.setdefault(it["product_id"], [0, 0])
            acc[0] += 1
            acc[1] += cents(it["amount"])
    product_stats = {p: {"id": p, "quantity": n, "amount": c / 100}
                     for p, (n, c) in prod.items()}
    return {
        "order_view": order_view,
        "user_view": {k: dict(u) for k, u in users.items()},
        "product_view": {k: dict(p) for k, p in products.items()},
        "order_view_items": order_view_items,
        "user_order_stats": user_order_stats,
        "order_stats": order_stats,
        "product_stats": product_stats,
    }


# ---------------------------------------------------------------------------
# dedup_fold: a document stream with exact duplicates

VOCAB = (
    "key agg row scan slow fast table value part hash merge batch spark the "
    "line sort window data column join small customer query big stream group "
    "filter vector order state sink source event commit"
).split()


#: share of the documents that repeat an earlier text
DUP_SHARE = 0.3


class DocGenerator:
    """Document batches where ``DUP_SHARE`` of the documents repeat an
    earlier text verbatim. Every original starts with a token no other
    original has, so its first occurrence is the one a dedup must keep."""

    def __init__(self, seed: int) -> None:
        self.rng = random.Random(f"docs:{seed}")
        self.texts: list[str] = []
        self.next_id = 0
        self.kept: set[int] = set()

    def batch(self, n: int) -> tuple[list[int], list[str]]:
        rng = self.rng
        ids, texts = [], []
        for _ in range(n):
            doc_id = self.next_id
            self.next_id += 1
            if self.texts and rng.random() < DUP_SHARE:
                text = self.texts[rng.randrange(len(self.texts))]
            else:
                words = [f"t{doc_id:x}{rng.getrandbits(24):06x}"]
                words += [rng.choice(VOCAB) for _ in range(20 + rng.randrange(40))]
                text = " ".join(words)
                self.texts.append(text)
                self.kept.add(doc_id)
            ids.append(doc_id)
            texts.append(text)
        return ids, texts


# ---------------------------------------------------------------------------
# olap_mix: the star-schema tables the query registry reads

def olap_tables(seed: int) -> dict[str, dict[str, list]]:
    """Column lists per table, shaped like the registry's test data
    (TPC-H-like star schema plus events, documents and embeddings):
    150 customers, 1,500 orders, 6,000 line items."""
    rng = random.Random(f"olap:{seed}")
    n_cust, n_supp, n_part, n_ord = 150, 10, 200, 1500
    n_events, n_docs, n_emb = 1000, 500, 500
    day0 = datetime(1995, 1, 1)
    t: dict[str, dict[str, list]] = {}
    t["region"] = {"r_regionkey": list(range(5)),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}
    t["nation"] = {"n_nationkey": list(range(25)),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": [i % 5 for i in range(25)]}
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    t["customer"] = {"c_custkey": list(range(n_cust)),
                     "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                     "c_nationkey": [rng.randrange(25) for _ in range(n_cust)],
                     "c_acctbal": [rng.randrange(-99_999, 999_999) / 100 for _ in range(n_cust)],
                     "c_mktsegment": [rng.choice(segs) for _ in range(n_cust)]}
    t["supplier"] = {"s_suppkey": list(range(n_supp)),
                     "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                     "s_nationkey": [rng.randrange(25) for _ in range(n_supp)],
                     "s_acctbal": [rng.randrange(-99_999, 999_999) / 100 for _ in range(n_supp)]}
    adj, noun = ["small", "red", "blue", "large", "green", "shiny", "old", "new"], \
        ["ring", "widget", "bolt", "gear", "pipe", "valve", "clip", "nut"]
    types = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
    t["part"] = {"p_partkey": list(range(n_part)),
                 "p_name": [f"{rng.choice(adj)} {rng.choice(noun)}" for _ in range(n_part)],
                 "p_brand": [f"Brand#{1 + rng.randrange(25)}" for _ in range(n_part)],
                 "p_type": [rng.choice(types) for _ in range(n_part)],
                 "p_size": [1 + rng.randrange(50) for _ in range(n_part)],
                 "p_retailprice": [900 + (i % 1000) / 10 for i in range(n_part)]}
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    odate = [day0 + timedelta(days=rng.randrange(2404)) for _ in range(n_ord)]
    t["orders"] = {"o_orderkey": list(range(n_ord)),
                   "o_custkey": [rng.randrange(n_cust) for _ in range(n_ord)],
                   "o_orderstatus": [rng.choice("FOP") for _ in range(n_ord)],
                   "o_totalprice": [rng.randrange(100_000, 50_000_000) / 100 for _ in range(n_ord)],
                   "o_orderdate": odate,
                   "o_orderpriority": [rng.choice(prios) for _ in range(n_ord)]}
    li: dict[str, list] = {k: [] for k in (
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
        "l_shipdate")}
    for _ in range(4 * n_ord):
        o = rng.randrange(n_ord)
        qty = 1 + rng.randrange(50)
        li["l_orderkey"].append(o)
        li["l_partkey"].append(rng.randrange(n_part))
        li["l_suppkey"].append(rng.randrange(n_supp))
        li["l_linenumber"].append(1 + rng.randrange(7))
        li["l_quantity"].append(float(qty))
        li["l_extendedprice"].append(qty * rng.randrange(90_000, 210_000) / 100)
        li["l_discount"].append(rng.randrange(11) / 100)
        li["l_tax"].append(rng.randrange(9) / 100)
        li["l_returnflag"].append(rng.choice("ANR"))
        li["l_linestatus"].append(rng.choice("FO"))
        li["l_shipdate"].append(odate[o] + timedelta(days=1 + rng.randrange(120)))
    t["lineitem"] = li
    ev0 = datetime(2024, 1, 1)
    kinds = ["click", "error", "purchase", "signup", "view"]
    ev_ts = sorted(ev0 + timedelta(microseconds=rng.randrange(30 * 86_400 * 10**6))
                   for _ in range(n_events))
    t["events"] = {"event_id": list(range(n_events)), "ts": ev_ts,
                   "user_id": [rng.randrange(15) for _ in range(n_events)],
                   "event_type": [rng.choice(kinds) for _ in range(n_events)],
                   "value": [rng.randrange(1, 49_000) / 100 for _ in range(n_events)],
                   "props": [json.dumps({"k": rng.randrange(100)}) for _ in range(n_events)]}
    docs: list[str] = []
    for _ in range(n_docs):
        if docs and rng.random() < 0.1:
            docs.append(docs[rng.randrange(len(docs))])
        else:
            docs.append(" ".join(rng.choice(VOCAB) for _ in range(8 + rng.randrange(80))))
    t["documents"] = {"doc_id": list(range(n_docs)), "text": docs,
                      "lang": [rng.choice(["en", "en", "zh", "es", "de", "fr"]) for _ in range(n_docs)],
                      "source": [f"src{i % 20}" for i in range(n_docs)],
                      "n_chars": [len(d) for d in docs]}
    t["embeddings"] = {"vec_id": list(range(n_emb)),
                       "embedding": [[rng.gauss(0.0, 1.0) for _ in range(64)]
                                     for _ in range(n_emb)],
                       "label": [rng.randrange(10) for _ in range(n_emb)]}
    return t


def write_olap_tables(tables: dict[str, dict[str, list]], out_dir: str) -> None:
    """One parquet file per table, with the registry's column types."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    i32 = {"r_regionkey", "n_nationkey", "n_regionkey", "c_nationkey",
           "s_nationkey", "p_size", "l_linenumber", "label"}
    os.makedirs(out_dir, exist_ok=True)
    for name, cols in tables.items():
        arrays = {}
        for col, values in cols.items():
            if col in i32:
                arrays[col] = pa.array(values, pa.int32())
            elif col == "embedding":
                arrays[col] = pa.array(values, pa.list_(pa.float32()))
            elif values and isinstance(values[0], datetime):
                arrays[col] = pa.array(values, pa.timestamp("us"))
            elif values and isinstance(values[0], int):
                arrays[col] = pa.array(values, pa.int64())
            else:
                arrays[col] = pa.array(values)
        pq.write_table(pa.table(arrays), os.path.join(out_dir, f"{name}.parquet"))
