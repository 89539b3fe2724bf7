"""Closed-loop benchmark of the engine's registered queries.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. One client, this process, runs the
workload's queries one after another on ``local[4]``:

1. set-up, timed as ``setup_s``: package import and session start, then
   one warm-up pass over every query, collected but not sampled;
2. before the warm-up, inputs are generated from ``--seed`` (timed apart
   as ``gen_s``); after it, every DuckDB oracle runs once, untimed;
3. the window: a fixed number of whole passes in fixed query order, as
   many nominal passes of the workload as fit in ``--seconds`` and at
   least the workload's minimum, so both sides of a comparison run the same work. Each
   engine sample drops ``clearCache()`` first, builds the query afresh and
   collects it with ``toPandas``; its result is compared with the oracle.
   DuckDB samples of the same query come right before and right after
   it, so the engine/DuckDB ratio comes from one window and cancels the
   machine's speed, which drifts by up to 2x on a shared machine.
   RDDs the package itself leaves persisted are not released; their count
   is reported.

With ``--trace 1`` every query gets an untraced and a traced sample per
pass, the first of the two alternating from query to query, and no
DuckDB samples: traced samples record spans around the package's layers
(see ``perfbench/trace.py``) for the per-layer figures, and the
difference between the two kinds of sample is the tracing overhead.

Human-readable lines go first; the last line of standard output is one
JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``.
Everything the run writes stays under ``.bench_build/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import time
import traceback
from collections import defaultdict

STARTED = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
CPUS = 4
DRIVER_MEM = "4g"
#: seconds one DuckDB sample should last: a query DuckDB answers in 15 ms
#: is run several times per sample, so that, like an engine sample, it
#: spans the machine's bursts of lost time instead of falling between them
DUCK_SAMPLE_S = 0.1
#: oracle runs at set-up after the first, whose median time sets how many
#: runs make one DuckDB sample; DuckDB's first runs of a query are up to 3x
#: slower than its later ones, so the first alone would set too few
DUCK_CALIBRATION_RUNS = 3
#: files of the program under test; without them there is nothing to run
REQUIRED = (
    "mapreduce_big_data_processing_spark/__init__.py",
    "mapreduce_big_data_processing_spark/queries.py",
    "tools_gen_scale.py",
    "tools_verify_queries.py",
)


def parse_args(argv: list[str]) -> argparse.Namespace:
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_environment(run_dir: str) -> None:
    """Point every scratch location of Python, the JVM and Spark into
    ``run_dir`` so the run writes nothing outside the checkout."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.update(
        {
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": tmp,
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "PYSPARK_PYTHON": sys.executable,
            # no /tmp/hsperfdata files, neither from the driver JVM nor from
            # the short-lived launcher JVM spark-submit starts first
            "PYSPARK_SUBMIT_ARGS": f"--driver-java-options '{jvm_opts}' pyspark-shell",
            "SPARK_LAUNCHER_OPTS": jvm_opts,
        }
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    os.chdir(run_dir)  # spark-warehouse/, derby.log and the like land here


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set (VmHWM) of a process in MiB, 0 if unreadable."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class Bench:
    def __init__(self, args: argparse.Namespace):
        from perfbench.workloads import WORKLOADS

        self.args = args
        self.wl = WORKLOADS[args.workload]
        self.samples: dict[str, list[float]] = {q: [] for q in self.wl.queries}
        self.traced: dict[str, list[float]] = {q: [] for q in self.wl.queries}
        self.duck: dict[str, list[float]] = {q: [] for q in self.wl.queries}
        self.layer_samples: dict[str, list[dict]] = {q: [] for q in self.wl.queries}
        self.loads: dict[str, set[str]] = defaultdict(set)
        self.attempted = 0
        self.failures: list[str] = []

    # -- set-up --------------------------------------------------------
    def start(self) -> None:
        t0 = time.perf_counter()
        from mapreduce_big_data_processing_spark import catalog
        from mapreduce_big_data_processing_spark import queries as Q
        from mapreduce_big_data_processing_spark.session import get_session

        from perfbench.workloads import ADAPTIVE, MULT

        self.Q, self.catalog = Q, catalog
        self.spark = get_session("perfbench", cpus=CPUS, adaptive=ADAPTIVE)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_s = time.perf_counter() - t0
        self.jvm_pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()

        from perfbench.inputs import generate

        self.inputs = generate(self.spark, "inputs", MULT, self.args.seed, self.wl.tables)
        self.data_dir = os.path.abspath(self.inputs["dir"])

        t0 = time.perf_counter()
        self.warm_up()
        self.setup_s = self.session_s + (time.perf_counter() - t0)

        from perfbench.oracle import Oracle, fingerprint
        from perfbench.stats import median

        t0 = time.perf_counter()
        self.oracle = Oracle(self.data_dir, self.wl.tables, CPUS)
        sql = Q.oracle_sql()
        self.sql = {q: sql[q] for q in self.wl.queries}
        self.expected, self.duck_runs = {}, {}
        for q in self.wl.queries:
            self.expected[q] = fingerprint(*self.oracle.run(self.sql[q]))
            times = []
            for _ in range(DUCK_CALIBRATION_RUNS):
                t1 = time.perf_counter()
                self.oracle.con.sql(self.sql[q]).fetchall()
                times.append(time.perf_counter() - t1)
            self.duck_runs[q] = min(50, max(1, round(DUCK_SAMPLE_S / median(times))))
        self.oracle_s = time.perf_counter() - t0

    def warm_up(self) -> None:
        """One cold pass; also records which tables each query loads."""
        original = self.catalog.load
        current = [None]

        def recording_load(spark, name, *a, **kw):
            self.loads[current[0]].add(name)
            return original(spark, name, *a, **kw)

        self.catalog.load = recording_load
        try:
            for q in self.wl.queries:
                current[0] = q
                self.attempt(q, lambda q=q: self.Q.QUERIES[q](self.spark, self.data_dir).toPandas())
        finally:
            self.catalog.load = original
        self.spark.catalog.clearCache()

    # -- one sample ----------------------------------------------------
    def attempt(self, q: str, thunk):
        """Run one operation; an exception is counted, never dropped."""
        self.attempted += 1
        try:
            return thunk()
        except Exception:  # noqa: BLE001 - the run reports and continues
            self.failures.append(f"{q}: {traceback.format_exc(limit=3)}")
            return None

    def engine_sample(self, q: str, tracer=None) -> None:
        from perfbench.oracle import frame_fingerprint

        self.spark.catalog.clearCache()
        if tracer is None:
            t0 = time.perf_counter()
            pdf = self.attempt(q, lambda: self.Q.QUERIES[q](self.spark, self.data_dir).toPandas())
            dt = time.perf_counter() - t0
            store = self.samples
        else:
            pdf, dt = self.traced_sample(q, tracer)
            store = self.traced
        if pdf is None:
            return
        if frame_fingerprint(pdf) != self.expected[q]:
            self.failures.append(f"{q}: result differs from the DuckDB oracle")
            return
        store[q].append(dt)

    def traced_engine_sample(self, q: str, tracer, listener) -> None:
        tracer.install(self.Q, self.catalog)
        self.spark.streams.addListener(listener)
        try:
            self.engine_sample(q, tracer)
        finally:
            self.spark.streams.removeListener(listener)
            tracer.uninstall()

    def duck_sample(self, q: str) -> None:
        """Mean time of ``duck_runs[q]`` back-to-back runs of the oracle."""
        n = self.duck_runs[q]
        t0 = time.perf_counter()
        for _ in range(n):
            self.oracle.con.sql(self.sql[q]).fetchall()
        self.duck[q].append((time.perf_counter() - t0) / n)

    def traced_sample(self, q: str, tracer):
        from perfbench.trace import self_times

        tracer.query_id = f"{q}#{len(tracer.spans)}"  # unique: spans only grow
        root = tracer.begin(q, "query")
        tracer.root = root
        before = dict(tracer.streaming)
        holder = {}

        def run():
            df = self.Q.QUERIES[q](self.spark, self.data_dir)
            tracer.call("spark.plan", "spark.plan", lambda: df._jdf.queryExecution().executedPlan())
            holder["df"] = df
            return tracer.call("collect", "collect", df.toPandas)

        try:
            pdf = self.attempt(q, run)
        finally:
            tracer.finish(root)
            tracer.root = None
        if pdf is None:
            return None, 0.0
        tracer.drain()
        spans = [s for s in tracer.spans if s.query == tracer.query_id]
        selfs = self_times(spans)
        rec: dict[str, float] = defaultdict(float)
        build_ids = _subtree(spans, "queries.build")
        for s in spans:
            rec[f"{s.layer}.self_s"] += selfs[s.id]
            rec[f"{s.layer}.calls"] += 1
            counts = tracer.job_counts(s)
            rec[f"{s.layer}.jobs"] += counts["jobs"]
            if s.id in build_ids:
                rec["queries.build_jobs"] += counts["jobs"]
            for key in ("stages", "tasks", "failed_tasks", "shuffle_write_bytes",
                        "shuffle_read_bytes", "spill_bytes"):
                rec[f"spark.{key}"] += counts[key]
            if s.layer == "spark.exec":
                rec["collect.result_rows"] += s.attrs.get("rows", 0)
                rec["collect.result_bytes"] += s.attrs.get("bytes", 0)
            for key in ("bytes_written", "files_written"):
                if key in s.attrs:
                    rec[f"{s.layer}.{key}"] += s.attrs[key]
        rec["queries.build_s"] = sum(
            s.end - s.start for s in spans if s.layer == "queries.build"
        )
        for layer, name in RENAMES.items():
            if layer in rec:
                rec[name] = rec.pop(layer)
        for key in ("self_s", "calls", "jobs"):
            rec[f"operators.{key}"] = sum(
                v for k, v in rec.items() if k.startswith("operators.") and k.endswith("." + key)
            )
        py = tracer.python_metrics(holder["df"]._jdf)
        rec["kernels.python_rows"] = py["rows"]
        rec["kernels.python_bytes"] = py["bytes"]
        rec["cache.persisted_rdds"] = self.spark.sparkContext._jsc.getPersistentRDDs().size()
        for key, val in tracer.streaming.items():
            rec[f"streaming.{key}"] = val - before.get(key, 0)
        self.layer_samples[q].append(rec)
        return pdf, root.end - root.start

    # -- the window ----------------------------------------------------
    def window(self) -> None:
        tracer = None
        if self.args.trace:
            from perfbench.trace import Tracer, streaming_listener

            tracer = Tracer(self.spark)
            listener = streaming_listener(tracer)
        t0 = time.perf_counter()
        # A fixed number of whole passes, not a deadline: the JVM is still
        # warming up over the first passes, so a window that fits more passes
        # on a faster box (or commit) would also read a warmer JIT.
        total = max(self.wl.min_passes, math.floor(self.args.seconds / self.wl.pass_s))
        for i in range(total):
            for j, q in enumerate(self.wl.queries):
                if tracer is None:
                    for _ in range(self.wl.duck_samples):
                        self.duck_sample(q)
                    self.engine_sample(q)
                    for _ in range(self.wl.duck_samples):
                        self.duck_sample(q)
                    continue
                # an untraced and a traced sample of the same query, the
                # first of the two alternating from query to query and pass
                # to pass, so the JVM's warming cancels out of the overhead
                for traced in ((False, True) if (i + j) % 2 == 0 else (True, False)):
                    if traced:
                        self.traced_engine_sample(q, tracer, listener)
                    else:
                        self.engine_sample(q)
        self.window_s = time.perf_counter() - t0
        self.passes = total
        self.tracer = tracer

    # -- results -------------------------------------------------------
    def write_amp(self) -> float | None:
        """Bytes the queries left in their work dirs and in the session's
        table warehouse, per parquet byte of the tables they load."""
        import tempfile

        from perfbench.inputs import dir_bytes
        from perfbench.stats import ratio
        from perfbench.trace import warehouse_dir

        app = self.spark.sparkContext.applicationId
        written = dir_bytes(os.path.join(tempfile.gettempdir(), f"mbdp_work_{app}"))
        written += dir_bytes(warehouse_dir(self.spark))
        read = sum(self.inputs["bytes"][t] for q in self.wl.queries for t in self.loads[q])
        return ratio(written, read) if written else None

    def end_to_end(self) -> dict:
        from perfbench.stats import geomean, median, ratio, sum_of_medians

        return {
            "setup_s": (self.setup_s, "s"),
            "total_s": (sum_of_medians(self.samples), "s"),
            "duckdb_geomean_ratio": (
                geomean(ratio(median(self.samples[q]), median(self.duck[q])) for q in self.samples),
                "ratio",
            ),
            "duckdb_total_ratio": (
                ratio(sum_of_medians(self.samples), sum_of_medians(self.duck)),
                "ratio",
            ),
            "peak_rss_mb": (self.peak_rss_mb, "MiB"),
            "failed_frac": (ratio(len(self.failures), self.attempted), "share"),
            "write_amp": (self.write_amp(), "ratio"),
            "gen_s": (self.inputs["gen_s"], "s"),
            "duckdb_total_s": (sum_of_medians(self.duck), "s"),
        }

    def per_layer(self) -> dict:
        from perfbench.metrics import unit_of
        from perfbench.stats import median, sum_of_medians

        recs = [r for rs in self.layer_samples.values() for r in rs]
        keys = sorted({k for r in recs for k in r})
        out = {}
        for key in keys:
            # per query the median over its traced samples, summed over queries
            out[key] = sum(
                median([r.get(key, 0.0) for r in rs]) for rs in self.layer_samples.values() if rs
            )
        out["cache.persisted_rdds"] = max((r["cache.persisted_rdds"] for r in recs), default=0)
        out["session.start_s"] = self.session_s
        untraced, traced = sum_of_medians(self.samples), sum_of_medians(self.traced)
        out["trace.total_s"] = traced
        out["trace.untraced_total_s"] = untraced
        out["trace.overhead_s"] = (
            traced - untraced if traced is not None and untraced is not None else None
        )
        return {k: (v, unit_of(k)) for k, v in out.items()}

    def write_spans(self) -> str:
        from dataclasses import asdict

        out_dir = os.path.join(BUILD, "traces")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"{self.wl.name}-seed{self.args.seed}.jsonl")
        with open(path, "w") as fh:
            for s in self.tracer.spans:
                fh.write(json.dumps(asdict(s), default=str) + "\n")
        return path

    def shutdown(self) -> None:
        """Stop Spark and wait for the JVM (and its Python workers) to end."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 - make sure it is gone
                proc.kill()
                proc.wait()


#: per-span figures whose reported name differs from "<layer>.<figure>"
RENAMES = {
    "catalog.load.self_s": "catalog.load_s",
    "spark.plan.self_s": "spark.plan_s",
    "spark.exec.self_s": "spark.exec_s",
    "spark.exec.jobs": "spark.exec_jobs",
    "collect.self_s": "collect.convert_s",
}


def _subtree(spans, layer: str) -> set[int]:
    """Ids of the spans of ``layer`` and all their descendants."""
    kids = defaultdict(list)
    for s in spans:
        kids[s.parent].append(s.id)
    todo = [s.id for s in spans if s.layer == layer]
    out = set()
    while todo:
        i = todo.pop()
        out.add(i)
        todo.extend(kids[i])
    return out


def fmt(name: str, value, unit: str) -> str:
    return f"{name:<34} {'n/a' if value is None else repr(value):>24} {unit}"


def main(argv: list[str]) -> int:
    missing = [f for f in REQUIRED if not os.path.exists(os.path.join(ROOT, f))]
    if missing:
        print(f"perfbench: not a checkout of the engine, missing {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    args = parse_args(argv)
    run_dir = os.path.join(BUILD, f"run-{os.getpid()}")
    prepare_environment(run_dir)
    bench = Bench(args)
    try:
        bench.start()
        bench.window()
        bench.peak_rss_mb = vm_hwm_mb(bench.jvm_pid) + vm_hwm_mb("self")
        if args.trace:
            figures = bench.per_layer()
            figures["spans_file"] = (os.path.relpath(bench.write_spans(), ROOT), "path")
        else:
            figures = bench.end_to_end()
    finally:
        if hasattr(bench, "oracle"):
            bench.oracle.close()
        if hasattr(bench, "spark"):
            bench.shutdown()
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)

    from perfbench.metrics import load_spec

    metrics = {}
    for m in load_spec()["per_layer" if args.trace else "end_to_end"]:
        value = figures.get(m["name"], (None,))[0]
        if value is None and args.trace and m["unit"] != "s":
            value = 0  # a count of a layer this workload never enters
        metrics[m["name"]] = (value, m["unit"])
    extra = {k: v for k, v in figures.items() if k not in metrics}
    failed = len(bench.failures)
    print(f"workload {args.workload} seed {args.seed} trace {args.trace}: "
          f"{bench.passes} passes in {bench.window_s:.1f} s, input hash {bench.inputs['hash']}")
    print(f"phases: session {bench.session_s:.1f} s, inputs {bench.inputs['gen_s']:.1f} s, "
          f"warm-up {bench.setup_s - bench.session_s:.1f} s, oracle {bench.oracle_s:.1f} s, "
          f"window {bench.window_s:.1f} s, whole run {time.perf_counter() - STARTED:.1f} s")
    for name, (value, unit) in {**metrics, **extra}.items():
        print(fmt(name, value, unit))
    from perfbench.stats import median

    for q in bench.wl.queries:
        print(f"query {q:<28} samples {[round(x, 3) for x in bench.samples[q]]} s, "
              f"duckdb {median(bench.duck[q])} s, "
              f"tables {sorted(bench.loads[q])}")
    for f in bench.failures:
        print("FAILED", f.strip().replace("\n", " | "))
    missing = [k for k, (v, _u) in metrics.items() if v is None]
    if missing:
        print(f"perfbench: could not measure {missing}", file=sys.stderr)
        return 1
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": bench.attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
