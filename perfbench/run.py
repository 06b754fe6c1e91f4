#!/usr/bin/env python3
"""Benchmark of the engine: three workloads, one closed-loop client.

    python3 perfbench/run.py --workload ingest_refresh --seed 1 --seconds 20 --trace 0

``--workload all`` runs the three workloads one after another in one
process. Run it from the root of a checkout; it builds nothing, writes
only under ``.perfbench_work/`` (deleted at exit) and
``.perfbench_out/`` (span dumps of traced runs), and prints one JSON
result as the last line of standard output. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NAMES = ["ingest_refresh", "query_mix", "neardup_stream"]

END_TO_END = {  # name -> unit
    "setup_s": "s",
    "op_p50_s": "s",
    "items_per_s": "1/s",
    "quality_recall": "ratio",
    "storage_bytes_per_user_byte": "ratio",
}

from gen import QUERY_SET  # noqa: E402  (perfbench/ is the script's directory)

PER_LAYER = {
    "session.get_spark.s": "s",
    "ingest.rest.read_api.s": "s",
    "ingest.rest.read_api.calls": "count",
    "ingest.rest.read_api.pages": "count",
    "operators.reshape.normalize_wide.s": "s",
    "io.lakehouse.upsert_auto.s": "s",
    "io.lakehouse.upsert_auto.spark_jobs": "count",
    "io.lakehouse.upsert_auto.spark_tasks": "count",
    "io.sink.rows_written_per_row_changed": "ratio",
    "io.sink.bytes_written_per_user_byte": "ratio",
    "io.sink.files_written": "count",
    "quality.violation_counts.s": "s",
    "models.test_models.s": "s",
    "pipeline.run_pipeline.s": "s",
    "pipeline.run_pipeline.self_s": "s",
    **{f"analytics.{q}.{m}": u for q in QUERY_SET
       for m, u in (("s", "s"), ("spark_jobs", "count"), ("spark_tasks", "count"))},
    "textops.similarity.lsh_topk.s": "s",
    "textops.neardup_index.filter_batch.s": "s",
    "textops.neardup_index.ingest_batch.s": "s",
    "textops.neardup_index.ingest_batch.spark_jobs": "count",
    "textops.neardup_index.delete_docs.s": "s",
    "textops.neardup_index.compact.s": "s",
    "textops.neardup_index.verified_per_candidate": "ratio",
    "textops.neardup_index.store_files_before_compact": "count",
    "textops.neardup_index.store_files_after_compact": "count",
    "textops.neardup_index.bytes_per_live_doc_before_compact": "B",
    "textops.neardup_index.bytes_per_live_doc_after_compact": "B",
    "process.peak_rss_mb": "MB",
    "trace.overhead_s": "s",
    "trace.op_p50_s": "s",
}

# per-layer metric -> (span name, summary field, normaliser)
#   "call": mean per call of the span; "op": total per traced operation
SPAN_METRICS = {
    "session.get_spark.s": ("session.get_spark", "s", "call"),
    "ingest.rest.read_api.s": ("ingest.rest.read_api", "s", "call"),
    "ingest.rest.read_api.calls": ("ingest.rest.read_api", "calls", "op"),
    "ingest.rest.read_api.pages": ("ingest.rest.read_api", "pages", "op"),
    "operators.reshape.normalize_wide.s": ("operators.reshape.normalize_wide", "s", "call"),
    "io.lakehouse.upsert_auto.s": ("io.lakehouse.upsert_auto", "s", "call"),
    "io.lakehouse.upsert_auto.spark_jobs": ("io.lakehouse.upsert_auto", "jobs", "call"),
    "io.lakehouse.upsert_auto.spark_tasks": ("io.lakehouse.upsert_auto", "tasks", "call"),
    "quality.violation_counts.s": ("quality.violation_counts", "s", "call"),
    "models.test_models.s": ("models.test_models", "s", "call"),
    "pipeline.run_pipeline.s": ("pipeline.run_pipeline", "s", "call"),
    "pipeline.run_pipeline.self_s": ("pipeline.run_pipeline", "self_s", "call"),
    **{f"analytics.{q}.{m}": (f"analytics.{q}", f, "call") for q in QUERY_SET
       for m, f in (("s", "s"), ("spark_jobs", "jobs"), ("spark_tasks", "tasks"))},
    "textops.similarity.lsh_topk.s": ("textops.similarity.lsh_topk", "s", "call"),
    "textops.neardup_index.filter_batch.s": ("textops.neardup_index.filter_batch", "s", "call"),
    "textops.neardup_index.ingest_batch.s": ("textops.neardup_index.ingest_batch", "s", "call"),
    "textops.neardup_index.ingest_batch.spark_jobs": ("textops.neardup_index.ingest_batch", "jobs", "call"),
    "textops.neardup_index.delete_docs.s": ("textops.neardup_index.delete_docs", "s", "call"),
    "textops.neardup_index.compact.s": ("textops.neardup_index.compact", "s", "call"),
}


def vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def prepare_environment(work: str) -> dict[str, str]:
    """Keep every file the engine, Spark and the JVM write inside ``work``;
    must run before the engine is imported (its scratch root is fixed at
    import time from the temp dir)."""
    for d in ("tmp", "spark-local", "jvm-tmp", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = os.environ["TMPDIR"]
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    # (the launcher JVM of spark-submit reads SPARK_LAUNCHER_OPTS)
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    # -XX:TieredStopAtLevel=1: the client compiler only. Under the server
    # compiler, Catalyst and the generated task code keep getting faster
    # for a minute or more (a dashboard pass fell from 5.9 s to 4.2 s over
    # a 30-second window), so a short window lands on another point of
    # that warm-up curve in every run. The client compiler is done after
    # a pass or two and leaves the window nearly flat (see README, "The
    # JVM's compiler").
    return {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-XX:-UsePerfData -XX:TieredStopAtLevel=1 -Djava.io.tmpdir={os.path.join(work, 'jvm-tmp')}",
        "spark.ui.showConsoleProgress": "false",
    }


def cleanup(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))
    except OSError:  # another run's work dir is still there
        pass


class Bench:
    def __init__(self, args, work: str, spark_conf: dict[str, str]):
        from spans import Tracer

        self.args = args
        self.work = work
        self.spark_conf = spark_conf
        self.tracer = Tracer()
        self.spark = None
        self.jvm_pid = None
        if args.trace:
            self._install_wrappers()

    def _install_wrappers(self) -> None:
        from automate_data_ingestion_project_spark import pipeline, session
        from automate_data_ingestion_project_spark.ingest import rest

        t = self.tracer
        t.wrap(session, "get_spark", "session.get_spark")
        t.wrap(pipeline, "run_pipeline", "pipeline.run_pipeline")
        t.wrap(pipeline, "read_api", "ingest.rest.read_api")
        t.wrap_pages(rest, "paginate", "pages")
        t.wrap(pipeline, "normalize_wide", "operators.reshape.normalize_wide")
        t.wrap(pipeline, "upsert_auto", "io.lakehouse.upsert_auto")

    def start_session(self):
        from automate_data_ingestion_project_spark import session

        if self.spark is not None:
            self.tracer.detach()
            self.spark.stop()
        self.spark = session.get_spark(app_name="perfbench", extra_conf=self.spark_conf)
        self.tracer.sc = self.spark.sparkContext
        if self.jvm_pid is None:
            self.jvm_pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        return self.spark

    def stop(self) -> None:
        """Stop Spark and the JVM this process launched; wait for it."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                try:
                    proc.stdin.close()
                except (AttributeError, OSError):
                    pass
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None

    def run(self, name: str) -> dict:
        from workloads import WORKLOADS, Context, reset_engine_scratch

        wl_work = os.path.join(self.work, name)
        os.makedirs(wl_work)
        wl = WORKLOADS[name](Context(self.args.seed, wl_work, self.tracer))
        wl.prepare()
        tracing = bool(self.args.trace)
        self.tracer.spans.clear()
        self.tracer.enabled = tracing
        self.tracer.op = None
        reset_engine_scratch()
        # set-up = the session start (the first one launches the JVM) plus
        # the workload's staging, index build and warm-up
        t0 = time.perf_counter()
        spark = self.start_session()
        session_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.setup(spark)
        staging = time.perf_counter() - t0
        self.tracer.enabled = False
        self.tracer.resolve()
        wl.check_setup()

        lat, attempted, failed = [], 0, 0
        items: dict[str, int] = {}
        by_kind: dict[str, list[float]] = {}
        self.tracer.cost = 0.0
        # whole cycles: one that starts before the deadline runs to its end,
        # so every window holds the kinds of the cycle in the same proportion
        deadline = time.perf_counter() + self.args.seconds
        while time.perf_counter() < deadline:
            for kind in wl.cycle:
                # untimed work around an operation moves the deadline with it
                t1 = time.perf_counter()
                wl.before_op(kind)
                deadline += time.perf_counter() - t1
                self.tracer.enabled = tracing
                self.tracer.op = attempted
                attempted += 1
                t0 = time.perf_counter()
                try:
                    n = wl.op(kind)
                except Exception:
                    failed += 1
                    self.tracer.enabled = False
                    traceback.print_exc(file=sys.stderr)
                    continue
                dt = time.perf_counter() - t0
                self.tracer.enabled = False
                lat.append(dt)
                items[kind] = items.get(kind, 0) + n
                by_kind.setdefault(kind, []).append(dt)
                t1 = time.perf_counter()
                wl.after_op(kind)
                if tracing:
                    self.tracer.resolve()
                deadline += time.perf_counter() - t1
        self.tracer.enabled = False
        wl.finish()

        # the workload's main operations; the others (background work)
        # are timed, counted and traced but not in these two metrics
        main = [k for k in by_kind if wl.main_kinds is None or k in wl.main_kinds]
        main_lat = [x for k in main for x in by_kind[k]]
        if not main_lat:
            raise RuntimeError(f"{name}: no operation completed in the window ({failed} failed)")
        busy = sum(main_lat)
        p50 = statistics.median(main_lat)
        rss_mb = (vm_hwm_kb(os.getpid()) + vm_hwm_kb(self.jvm_pid or -1)) / 1024
        e2e = {
            "setup_s": session_s + staging,
            "op_p50_s": p50,
            "items_per_s": sum(items.get(k, 0) for k in main) / busy,
            "quality_recall": getattr(wl, "recall", 1.0),
            "storage_bytes_per_user_byte": wl.storage(),
        }
        info = {
            "workload": name, "why": wl.why, "attempted": attempted, "failed": failed,
            "samples": len(lat), "item": wl.item, "peak_rss_mb": rss_mb,
            "session_s": session_s, "staging_s": staging, "checks": wl.checks,
            "named": wl.named(e2e, by_kind), "by_kind": by_kind, "latencies": lat,
        }
        layer = {}
        if tracing:
            layer = self._layer_metrics(wl, len(lat))
            layer["process.peak_rss_mb"] = rss_mb
            layer["trace.op_p50_s"] = p50
        self._report(name, wl, e2e, info, layer)
        return {"correct": all(ok for _, ok, _ in wl.checks) and bool(wl.checks),
                "attempted": attempted, "failed": failed, "e2e": e2e, "layer": layer}

    def _layer_metrics(self, wl, n_ops: int) -> dict[str, float]:
        timed = self.tracer.summary(lambda s: s.op is not None)
        setup = self.tracer.summary(lambda s: s.op is None)
        n_ops = max(n_ops, 1)
        out = {}
        for metric, (span, field, norm) in SPAN_METRICS.items():
            d = (setup if span == "session.get_spark" else timed).get(span)
            if not d:
                out[metric] = 0.0
                continue
            out[metric] = d.get(field, 0.0) / (d["calls"] if norm == "call" else n_ops)
        x = wl.extras
        ratio = lambda a, b: x.get(a, 0.0) / x[b] if x.get(b) else 0.0  # noqa: E731
        out["io.sink.rows_written_per_row_changed"] = ratio("rows_written", "rows_changed")
        out["io.sink.bytes_written_per_user_byte"] = ratio("bytes_written", "user_bytes_changed")
        out["io.sink.files_written"] = ratio("files_written", "rounds")
        for k in ("verified_per_candidate", "store_files_before_compact", "store_files_after_compact",
                  "bytes_per_live_doc_before_compact", "bytes_per_live_doc_after_compact"):
            out[f"textops.neardup_index.{k}"] = x.get(k, 0.0)
        out["trace.overhead_s"] = self.tracer.cost / n_ops
        return out

    def _report(self, name, wl, e2e, info, layer) -> None:
        """Human-readable lines on stdout, before the JSON result line."""
        print(f"== {name}: {info['why']}")
        print(f"   attempted={info['attempted']} failed={info['failed']} "
              f"failed_op_frac={info['failed'] / max(info['attempted'], 1):.4f} "
              f"samples={info['samples']} item={info['item']} peak_rss_mb={info['peak_rss_mb']:.1f}")
        for k, v in e2e.items():
            print(f"   {k} = {v:.6g} {END_TO_END[k]}")
        for k, (v, unit) in info["named"].items():
            print(f"   {k} = {v:.6g} {unit}")
        print("   per kind: " + ", ".join(f"{k} n={len(v)} p50={statistics.median(v):.4g}s"
                                       for k, v in sorted(info["by_kind"].items())))
        print("   latencies in order: " + ", ".join(f"{x:.3f}" for x in info["latencies"]))
        print(f"   session start: {info['session_s']:.3f} s, "
              f"staging and warm-up: {info['staging_s']:.3f} s")
        for check, ok, detail in info["checks"]:
            print(f"   check {check}: {'ok' if ok else 'FAILED'} {detail}")
        if layer:
            for k in PER_LAYER:
                print(f"   layer {k} = {layer[k]:.6g} {PER_LAYER[k]}")
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            path = os.path.join(out_dir, f"spans_{name}_seed{self.args.seed}.json")
            with open(path, "w") as fh:
                json.dump({"workload": name, "seed": self.args.seed, "spans": self.tracer.dump()}, fh)
            print(f"   spans written to {os.path.relpath(path, ROOT)}")


def main(argv=None) -> int:
    started = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=[*NAMES, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, ".perfbench_work", f"pid{os.getpid()}")
    spark_conf = prepare_environment(work)
    sys.path.insert(0, ROOT)
    try:
        import automate_data_ingestion_project_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        cleanup(work)
        return 2

    bench = Bench(args, work, spark_conf)
    names = NAMES if args.workload == "all" else [args.workload]
    try:
        results = {n: bench.run(n) for n in names}
    finally:
        bench.stop()
        cleanup(work)

    print(f"wall time {time.perf_counter() - started:.1f} s")
    key = "layer" if args.trace else "e2e"
    units = PER_LAYER if args.trace else END_TO_END
    metrics = {}
    for n, r in results.items():
        for k, v in r[key].items():
            metrics[k if len(results) == 1 else f"{n}.{k}"] = {"value": v, "unit": units[k]}
    print(json.dumps({
        "correct": all(r["correct"] for r in results.values()),
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": sum(r["failed"] for r in results.values()),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
