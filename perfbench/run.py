"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload cdc_upsert --seed 1 --seconds 10 --trace 0

Run from the repository root. The run builds its inputs from ``--seed``,
sets up the workload (JVM start, input generation, initial load and
warm-up: ``setup_s``), then drives closed-loop operations, one at a time,
until ``--seconds`` of operation time have passed (finishing the operation
in flight). After each operation, outside its timing, the program's
outputs are checked against a model of the inputs; an operation that
raises or leaves a wrong output counts as failed, and any failure makes
the exit code 1.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``. ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer ones (see
``perfbench/README.md``). The line before it describes the run: the
environment, the per-operation latencies and the sample counts.

Everything the run writes goes under ``.perfbench_work/`` in the working
directory and is removed at the end.
"""

from __future__ import annotations

import time

_T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEM = "1g"

END_TO_END = {
    "setup_s": "s",
    "op_geomean_s": "s",
    "items_per_s": "1/s",
    "peak_rss_mb": "MB",
}

#: per-layer metric -> unit; every workload reports every one (0 where the
#: workload does not reach the layer)
PER_LAYER = {
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.failed_tasks_per_op": "count",
    "spark.driver_s_per_op": "s",
    "spark.shuffle_write_mb_per_op": "MB",
    "spark.spill_mb_per_op": "MB",
    "spark.executor_cpu_s_per_op": "s",
    "sources.cdc.parse_s": "s",
    "streaming.reference_pipeline.state_checkpoint_s": "s",
    "streaming.upsert_sink.merge_s": "s",
    "streaming.upsert_sink.rewrite_mb_per_batch": "MB",
    "streaming.upsert_sink.changed_row_share": "ratio",
    "streaming.text_dedup.add_batch_s": "s",
    "streaming.state_store.save_s": "s",
    "streaming.state_store.store_mb": "MB",
    "streaming.state_store.touched_bucket_share": "ratio",
    "streaming.trigger_s": "s",
    "streaming.state_rows": "count",
    "catalog.load_tables_s": "s",
    "operators.build_s": "s",
    "operators.eager_jobs_per_query": "count",
    "operators.materialize_s": "s",
    "operators._cache.memo_entries": "count",
    "trace.op_geomean_s": "s",
}


def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def prepare_env(work: str) -> None:
    """Session settings for this host, set before pyspark starts: one task
    thread per CPU, a driver heap that fits a small box (``get_spark``
    also starts it at full size, so peak memory does not depend on when
    the heap grows), and every scratch file under ``work``."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpu_count())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def stop_jvm(spark) -> None:
    """Stop Spark, then end the driver JVM (it exits when its stdin
    closes) and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _status(pid: int) -> dict[str, str]:
    try:
        with open(f"/proc/{pid}/status") as f:
            return dict(line.split(":", 1) for line in f if ":" in line)
    except OSError:
        return {}


def peak_rss() -> dict[str, float]:
    """Peak resident memory (VmHWM) in MB of this process and each live
    descendant (the driver JVM, its Python worker daemon and workers),
    summed per process name."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out: dict[str, float] = {}
    todo = [os.getpid()]
    while todo:
        pid = todo.pop()
        st = _status(pid)
        if "VmHWM" in st:
            name = st["Name"].strip()
            out[name] = out.get(name, 0.0) + int(st["VmHWM"].split()[0]) / 1024
        todo.extend(children.get(pid, []))
    return out


def tail_percentile(samples: list[float]) -> dict | None:
    """The highest of p90/p99/p99.9 with at least ten samples beyond it."""
    best = None
    for p in (90, 99, 99.9):
        if len(samples) * (100 - p) / 100 >= 10:
            k = min(len(samples) - 1, math.ceil(len(samples) * p / 100) - 1)
            best = {"p": p, "value": sorted(samples)[k]}
    return best


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def _mean(values: list[float]) -> float:
    return sum(values) / len(values) if values else 0.0


def layer_metrics(tracer, extra: dict[str, float]) -> dict[str, float]:
    """Per-layer metrics from the traced operations: Spark counters as a
    mean per operation, spans and counts as a mean per operation of the
    kind that reaches the layer, ``extra`` as given."""
    ops = tracer.ops
    sp = [op["spark"] for op in ops]
    mb = 1024 * 1024
    out = {
        "spark.jobs_per_op": _mean([s["jobs"] for s in sp]),
        "spark.stages_per_op": _mean([s["stages"] for s in sp]),
        "spark.tasks_per_op": _mean([s["tasks"] for s in sp]),
        "spark.failed_tasks_per_op": _mean([s["failed_tasks"] for s in sp]),
        "spark.driver_s_per_op": _mean([s["driver_s"] for s in sp]),
        "spark.shuffle_write_mb_per_op": _mean([s["shuffle_write_bytes"] / mb for s in sp]),
        "spark.spill_mb_per_op": _mean([s["spill_bytes"] / mb for s in sp]),
        "spark.executor_cpu_s_per_op": _mean([s["executor_cpu_s"] for s in sp]),
        "trace.op_geomean_s": geomean([op["wall_s"] for op in ops]),
    }
    for name in PER_LAYER:
        if name in out:
            continue
        vals = [op["spans"].get(name, op["counts"].get(name)) for op in ops]
        vals = [v for v in vals if v is not None]
        out[name] = _mean(vals)
    out.update(extra)
    return {k: float(out[k]) for k in PER_LAYER}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    work = os.path.join(os.getcwd(), ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    prepare_env(work)
    spark = None
    try:
        import pyspark

        from flink_streaming_etl_spark.session import get_spark
        from tracing import Tracer

        spark = get_spark(
            f"perfbench-{args.workload}",
            extra_conf={"spark.driver.extraJavaOptions":
                        f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={os.path.join(work, 'tmp')}"},
        )
        spark.sparkContext.setLogLevel("ERROR")
        jvm_s = time.perf_counter() - _T_START
        tracer = Tracer(spark, bool(args.trace))
        wl = WORKLOADS[args.workload](spark, work, args.seed, tracer)
        wl.setup()
        setup_s = time.perf_counter() - _T_START

        attempted = failed = 0
        timed = 0.0
        while attempted == 0 or timed < args.seconds:
            n_before = len(tracer.ops)
            try:
                wl.step()
                ok = wl.check()
            except Exception:
                traceback.print_exc()
                ok = [False]
            ops = tracer.ops[n_before:]
            timed += sum(op["wall_s"] for op in ops)
            attempted += len(ok)
            failed += sum(1 for x in ok if not x)
            if not ops:
                break
        lat = [op["wall_s"] for op in tracer.ops]
        rss = peak_rss()
        info = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "samples": len(lat),
            "op_latencies_s": [[op["kind"], round(op["wall_s"], 4)] for op in tracer.ops],
            "op_p50_s": statistics.median(lat), "op_tail": tail_percentile(lat),
            "jvm_s": jvm_s, "setup_s": setup_s,
            "timed_s": timed, "items": wl.items, "peak_rss_mb": rss,
            "env": {
                "cpus": cpu_count(),
                "spark_master": spark.sparkContext.master,
                "driver_memory": DRIVER_MEM,
                "SPARK_LOCAL_DIRS": os.path.relpath(os.environ["SPARK_LOCAL_DIRS"]),
                "pyspark": pyspark.__version__,
                "java": spark.sparkContext._jvm.java.lang.System.getProperty(
                    "java.version"),
                "python": sys.version.split()[0],
            },
        }
        if args.trace:
            tracer.unwrap()
            metrics = {k: {"value": v, "unit": PER_LAYER[k]}
                       for k, v in layer_metrics(tracer, wl.final_layer_metrics()).items()}
        else:
            values = {
                "setup_s": setup_s,
                "op_geomean_s": geomean(lat),
                "items_per_s": wl.items / timed,
                "peak_rss_mb": sum(rss.values()),
            }
            metrics = {k: {"value": v, "unit": END_TO_END[k]}
                       for k, v in values.items()}
        wl.close()
        print(json.dumps(info))
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        return 0 if failed == 0 else 1
    finally:
        if spark is not None:
            stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
