"""olap_mix: an oracle-checked pass over batch queries of the registry.

Setup writes seeded star-schema tables as parquet and runs one warm-up
query, which absorbs the session's first-use costs. One operation is one
query: ``api.queries()[name](spark, dir)`` builds it and ``toPandas()``
materialises the whole result on the driver. For every query but the
warm-up one the timed execution is its first in the session, so it
includes the query's own code generation and compilation, as a one-query
job would.
Each pass runs every query once, in an order the seed permutes; operator
memo caches and the session cache are cleared between queries, outside
the timing, so no query rides a neighbour's cache. After each pass every
result must equal its ``api.oracle_sql()`` query run by DuckDB over the
same files, compared with the normalisation of ``tests/oracle.py``.
"""

from __future__ import annotations

import os
import random
import sys
import time

from gen import olap_tables, write_olap_tables

#: the reference-parity relational queries, then one query from each other
#: ``operators`` module
QUERIES = [
    "pricing_summary",
    "order_enrich_join",
    "user_day_stats",
    "day_stats",
    "product_stats",
    "listagg_items",
    "region_rollup",
    "revenue_rollup",          # operators.analytics
    "cep_quantified_matches",  # operators.cep
    "dedup_exact",             # operators.dedup
    "media_metadata",          # operators.multimodal
    "embedding_norm_report",   # operators.similarity
    "hashed_bow_sparse",       # operators.text, through operators._cache
    "windowed_event_stats",    # operators.windows
]


def oracle_result(con, sql: str, normalize) -> tuple[list[str], list[tuple]]:
    """(sorted column names, normalised rows) of ``sql`` run by DuckDB."""
    df = con.sql(sql).df()
    return sorted(df.columns), normalize(df)


def matches(pdf, expected: tuple[list[str], list[tuple]], normalize) -> bool:
    cols, rows = expected
    return sorted(pdf.columns) == cols and normalize(pdf) == rows


#: a full warm-up pass would add ~20 s to a run that is kept under a
#: minute; one join-and-aggregate query warms the shared paths
WARMUP = ["product_stats"]


class OlapMix:
    def __init__(self, spark, work: str, seed: int, tracer) -> None:
        from flink_streaming_etl_spark import api
        from tests.oracle import _normalize, duck_connection

        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.api = api
        self.normalize = _normalize
        self.data = os.path.join(work, "tables")
        write_olap_tables(olap_tables(seed), self.data)
        self.queries = api.queries()
        con = duck_connection(self.data)
        sqls = api.oracle_sql()
        self.expected = {name: oracle_result(con, sqls[name], _normalize)
                         for name in QUERIES}
        con.close()
        self.n_passes = 0
        self.results: dict[str, object] = {}
        self.items = 0

    def _isolate(self) -> None:
        from flink_streaming_etl_spark.operators._cache import clear_operator_caches

        clear_operator_caches()
        self.spark.catalog.clearCache()

    def _pass(self, timed: bool, names=QUERIES) -> None:
        order = list(names)
        random.Random(f"olap-order:{self.seed}:{self.n_passes}").shuffle(order)
        self.n_passes += 1
        self.results = {}
        for name in order:
            self._isolate()
            if not timed:
                self.results[name] = self.queries[name](self.spark, self.data).toPandas()
                continue
            with self.tracer.op(name) as rec:
                with self.tracer.span("operators.build_s"):
                    df = self.queries[name](self.spark, self.data)
                built = time.time()
                with self.tracer.span("operators.materialize_s"):
                    self.results[name] = df.toPandas()
                if self.tracer.enabled:
                    from flink_streaming_etl_spark.operators._cache import cache_stats

                    rec["counts"]["operators._cache.memo_entries"] = sum(
                        cache_stats().values())
            self.items += 1
            if self.tracer.enabled:
                rec["counts"]["operators.eager_jobs_per_query"] = sum(
                    1 for t in rec["spark"]["job_starts"] if t < built)
        self._isolate()

    def setup(self) -> None:
        self._pass(timed=False, names=WARMUP)
        if not all(self.check()):
            raise RuntimeError("the warm-up query returned a wrong result")
        self.tracer.wrap(self.api, "load_tables", "catalog.load_tables_s")

    def step(self) -> None:
        self._pass(timed=True)

    def check(self) -> list[bool]:
        ok = []
        for name, pdf in self.results.items():
            good = matches(pdf, self.expected[name], self.normalize)
            if not good:
                print(f"olap_mix: {name} differs from its oracle", file=sys.stderr, flush=True)
            ok.append(good)
        return ok

    def final_layer_metrics(self) -> dict[str, float]:
        return {"streaming.state_rows": 0.0}

    def close(self) -> None:
        pass
