"""Benchmark of the OLAP engine and the ingest pipeline, one workload per run.

    python3 perfbench/run.py --workload mdx_adhoc --seed 1 --seconds 20 --trace 0

Run from the root of a checkout.  Each run is one fresh process with one
single-client closed loop: the next operation starts when the previous one
returned.  A run

1. in a child process, writes the benchmark's data set under
   ``.perfbench/data`` if it is not there yet (see ``datagen.py``; data is
   fixed, not seeded), draws its operations from ``--seed`` and computes
   every expected output with DuckDB (see ``workloads.py``), while the
   parent starts a pinned SparkSession;
2. sets up the engine or the ingest state
   ``SETUP_REPEATS`` times with the first operation after one of them,
   runs an untimed warm-up stream (MDX only), then the timed operations,
   checking every output;
3. prints a run record (host diagnostics, Spark and JVM settings, failures
   by template) and, as the last line, the result JSON.

The number of operations is fixed; ``--seconds`` is recorded, not used.
``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` runs the same
operations, traces every timed one through the layers' public calls, and
reports per-layer metrics instead.  The spans are written to
``.perfbench/traces`` at exit.  Everything the run writes stays under
``.perfbench``; its per-run work directory (Spark scratch space, temp files,
ingest state) is removed at the end.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import pickle
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")

SF = 0.1
SETUP_REPEATS = 3
#: Spark's local thread count; never above the host's CPU count
LOCAL_THREADS = 2
HEAP = "2g"
#: heap fixed at start; GC and JIT thread pools capped to the local threads
JVM_FLAGS = [
    f"-Xms{HEAP}",
    "-XX:ParallelGCThreads=2",
    "-XX:ConcGCThreads=1",
    "-XX:CICompilerCount=2",
    "-XX:TieredStopAtLevel=1",
    "-XX:-UsePerfData",
]
#: fixed operation counts: timed MDX blocks (one statement per template
#: each), untimed MDX warm-up blocks before them, timed ingest batches
ADHOC_BLOCKS = 3
WARMUP_BLOCKS = 1
INGEST_BATCHES = 3
INGEST_BATCH_DOCS = 500
#: the file in the run's work directory that the preparing child writes
PREPARED = "prepared.pickle"


def percentile_tail(xs: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples above it:
    (value, percentile, samples beyond).  Fewer than eleven samples support
    no such percentile; the maximum is returned with 0 beyond."""
    s = sorted(xs)
    if len(s) <= 10:
        return s[-1], 100.0, 0
    i = len(s) - 11
    return s[i], 100.0 * (i + 1) / len(s), len(s) - 1 - i


def finite(x: float, what: str) -> float:
    """``x``, unless the percentile fell on a failed op: then so many ops
    failed that the latency is undefined, and the run fails."""
    if math.isinf(x):
        raise SystemExit(f"perfbench: {what} falls on a failed operation")
    return x


def session(work: str):
    from pyspark.sql import SparkSession

    threads = min(LOCAL_THREADS, len(os.sched_getaffinity(0)))
    conf = {
        "spark.master": f"local[{threads}]",
        "spark.driver.memory": HEAP,
        "spark.driver.extraJavaOptions": " ".join(
            JVM_FLAGS + [f"-Djava.io.tmpdir={work}/tmp"]
        ),
        "spark.sql.shuffle.partitions": str(threads),
        "spark.default.parallelism": str(threads),
        "spark.sql.session.timeZone": "UTC",
        "spark.local.dir": f"{work}/spark-local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }
    b = SparkSession.builder.appName("perfbench")
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("OFF")
    return spark, conf


# ---------------------------------------------------------------- workloads

class MdxAdhoc:
    """Never-repeating MDX statements from ``workloads.TEMPLATES``."""

    name = "mdx_adhoc"
    #: the first op follows the first set-up, on a cold JVM
    first_after_setup = 0

    @staticmethod
    def prepare(con, seed, work):
        import workloads as W

        first = W.first_op(seed)
        first["expected"] = con.execute(first["sql"]).fetchall()
        seen = {first["mdx"]}
        warmup = W.adhoc_ops(con, seed, WARMUP_BLOCKS, seen, stream="warmup")
        seen |= {o["mdx"] for o in warmup}
        return {"first": first, "warmup": warmup,
                "timed": W.adhoc_ops(con, seed, ADHOC_BLOCKS, seen)}

    def setup(self, spark, data_dir, work, tracer):
        from mondrian_olap_spark import tpch

        if getattr(self, "engine", None):
            self.engine.flush_schema_cache()
        tpch._ENGINES.clear()  # build afresh; get_engine caches per session
        with tracer.span("tpch.get_engine"):
            self.engine = tpch.get_engine(spark, data_dir)

    def counters(self):
        c = self.engine.cache
        return {"hits": c.hits, "misses": c.misses, "rollups": c.rollups,
                "evictions": c.evictions}

    def run(self, op):
        r = self.engine.execute(op["mdx"])
        if op["kind"] == "drill":
            return r.collect()
        r.values
        r.formatted_values
        return r

    def run_traced(self, op, tracer):
        from mondrian_olap_spark.mdx import MdxParser

        if op["kind"] == "drill":
            with tracer.span("plan.drill_through", jobs=True):
                return self.engine.execute(op["mdx"]).collect()
        with tracer.span("mdx.parse", jobs=True):
            q, _ = MdxParser(self.engine, op["mdx"]).parse_statement()
        with tracer.span("query.execute", jobs=True):
            r = q.execute()
        with tracer.span("result.values", jobs=True):
            r.values
        with tracer.span("formats.formatted_values", jobs=True):
            r.formatted_values
        return r

    def check(self, op, out) -> bool:
        import workloads as W

        if op["kind"] == "drill":
            return W.check_drill(op, out)
        return W.check_select(op, out.pivot())

    def after_timed(self):
        return {}


class IngestBatches:
    """Document batches through ``ingest_batch`` against a persisted state."""

    name = "ingest_batches"
    #: the batches build on one state: the first follows the last set-up
    first_after_setup = SETUP_REPEATS - 1

    @staticmethod
    def prepare(con, seed, work):
        import pyarrow as pa
        import pyarrow.parquet as pq

        import workloads as W

        batches = W.ingest_batches(con, seed, 1 + INGEST_BATCHES, INGEST_BATCH_DOCS)
        expected = W.ingest_expected(con, batches)
        ops = []
        for i, (batch, exp) in enumerate(zip(batches, expected)):
            path = os.path.join(work, "batches", f"b{i:03d}.parquet")
            os.makedirs(os.path.dirname(path), exist_ok=True)
            pq.write_table(pa.table({
                "doc_id": pa.array([d for d, _ in batch], pa.int64()),
                "text": [t for _, t in batch],
            }), path)
            ops.append({"template": "batch", "kind": "batch", "path": path,
                        "expected": exp, "bytes": sum(len(t.encode()) for _, t in batch)})
        return {"first": ops[0], "warmup": [], "timed": ops[1:],
                "corpus_bytes": con.execute(
                    "SELECT sum(strlen(text)) FROM documents").fetchone()[0]}

    def setup(self, spark, data_dir, work, tracer):
        from mondrian_olap_spark.operators.pipeline import init_ingest_state

        self.spark = spark
        corpus = spark.read.parquet(f"{data_dir}/documents.parquet")
        state = tempfile.mkdtemp(prefix="state-", dir=work)
        with tracer.span("pipeline.init_ingest_state"):
            init_ingest_state(corpus, state)
        if getattr(self, "state", None):
            shutil.rmtree(self.state)
        self.state = state
        self.input_bytes = self.ops["corpus_bytes"]

    def counters(self):
        return {}

    def run(self, op):
        from mondrian_olap_spark.operators.pipeline import ingest_batch

        acc = ingest_batch(self.spark.read.parquet(op["path"]), self.state)
        return acc.select("doc_id", "dup_count").collect()

    def run_traced(self, op, tracer):
        from mondrian_olap_spark.operators.pipeline import ingest_batch

        with tracer.span("pipeline.ingest_batch", jobs=True):
            acc = ingest_batch(self.spark.read.parquet(op["path"]), self.state)
        with tracer.span("pipeline.accepted_collect", jobs=True):
            return acc.select("doc_id", "dup_count").collect()

    def check(self, op, out) -> bool:
        self.input_bytes += op["bytes"]
        return sorted((r[0], r[1]) for r in out) == op["expected"]

    def after_timed(self):
        from probes import dir_usage

        size, files = dir_usage(self.state)
        return {"fsio.state_bytes_per_input_byte": size / self.input_bytes,
                "fsio.state_files": files}


WORKLOADS = {w.name: w for w in (MdxAdhoc, IngestBatches)}


# ---------------------------------------------------------------- run

def prepare(workload: str, seed: int, work: str) -> dict:
    """The data set's directory and the run's operations with their expected
    outputs.  Called in a child process (``--prepare``), so the data
    generator and the DuckDB oracle never count in the driver's memory."""
    import datagen
    import workloads as W

    data_dir = datagen.ensure(os.path.join(STATE, "data"), SF)
    con = W.connect(data_dir)
    try:
        ops = WORKLOADS[workload].prepare(con, seed, work)
    finally:
        con.close()
    return {"data_dir": data_dir, **ops}


def untraced_result_path(args) -> str:
    return os.path.join(STATE, "results", f"{args.workload}-seed{args.seed}.json")


def run(args) -> dict:
    import datagen
    import probes
    import workloads as W

    wl = WORKLOADS[args.workload]()
    probes.become_subreaper()
    work = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-",
                            dir=os.path.join(STATE, "runs"))
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    tempfile.tempdir = None
    spark = proc = child = None
    phases = {}
    t_phase = time.perf_counter()

    def phase(name):
        nonlocal t_phase
        now = time.perf_counter()
        phases[name] = round(now - t_phase, 3)
        t_phase = now

    try:
        # the child prepares while the JVM starts; set-up waits for both
        child = subprocess.Popen([
            sys.executable, os.path.abspath(__file__), "--workload", args.workload,
            "--seed", str(args.seed), "--prepare", work])
        t = time.perf_counter()
        spark, conf = session(work)
        session_s = time.perf_counter() - t
        proc = spark.sparkContext._gateway.proc
        if child.wait() != 0:
            raise SystemExit(f"perfbench: preparing the operations failed ({child.returncode})")
        with open(os.path.join(work, PREPARED), "rb") as f:
            wl.ops = ops = pickle.load(f)
        data_dir = ops["data_dir"]
        phase("prepare_and_session")

        jvm = probes.Jvm(spark)
        tracer = probes.Tracer(jvm)

        failures: dict[str, int] = {}
        wrong: dict[str, int] = {}
        ops_done = []

        def attempt(op, traced: bool):
            """Run one op; return (seconds, ok).  Only the program's calls
            are timed; the output is checked afterwards."""
            if traced:
                t_book = time.perf_counter()
                counts0, cg0, gc0 = wl.counters(), jvm.codegen_compiles(), jvm.gc_s()
                tracer.own_s += time.perf_counter() - t_book
            t0 = time.perf_counter()
            err = out = None
            try:
                if traced:
                    with tracer.span("op", template=op["template"]) as sp:
                        out = wl.run_traced(op, tracer)
                else:
                    out = wl.run(op)
            except Exception as e:  # a failed op is counted, never fatal
                err = e
            dt = time.perf_counter() - t0
            if traced:
                t_book = time.perf_counter()
                sp.update({f"cache.{k}": v - counts0[k] for k, v in wl.counters().items()})
                sp["jvm.codegen_compiles"] = jvm.codegen_compiles() - cg0
                sp["jvm.gc_s"] = jvm.gc_s() - gc0
                tracer.own_s += time.perf_counter() - t_book
            ok = err is None
            if not ok:
                failures[op["template"]] = failures.get(op["template"], 0) + 1
            elif not wl.check(op, out):
                wrong[op["template"]] = wrong.get(op["template"], 0) + 1
                ok = False
            ops_done.append((op["template"], round(dt, 4), ok))
            return dt, ok

        setup = []
        for i in range(SETUP_REPEATS):
            t = time.perf_counter()
            wl.setup(spark, data_dir, work, tracer)
            setup.append(time.perf_counter() - t)
            if i == wl.first_after_setup:
                first_s = attempt(ops["first"], False)[0]
        phase("setup_and_first")
        for op in ops["warmup"]:
            attempt(op, False)
        phase("warmup")

        timed = ops["timed"]
        traced = args.trace == 1
        pids = probes.descendants(jvm.pid) + [os.getpid()]
        cpu0, host0, load0 = probes.cpu_seconds(pids), probes.cpu_times(), probes.loadavg()
        t0 = time.perf_counter()
        # a failed op misses every latency limit: it counts as slower than
        # any success in the percentiles, and not at all in ops_per_s
        lat = []
        for op in timed:
            dt, ok = attempt(op, traced)
            lat.append(dt if ok else math.inf)
        wall = time.perf_counter() - t0
        pids = probes.descendants(jvm.pid) + [os.getpid()]
        cpu1, host1, load1 = probes.cpu_seconds(pids), probes.cpu_times(), probes.loadavg()
        rss = probes.vm_hwm_mb(jvm.pid) + probes.vm_hwm_mb(os.getpid())
        extra = wl.after_timed() if traced else {}
        jvm_args = jvm.input_arguments()
        phase("timed")
    finally:
        if child is not None and child.poll() is None:
            child.kill()
            child.wait()
        if spark is not None:
            spark.stop()
        if proc is not None:
            from pyspark import SparkContext

            SparkContext._gateway.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        # the JVM's own children (Python workers, its launch script's shell)
        probes.reap_children(30)
        # what the program left in the temp and scratch directories, and
        # anything beside the benchmark's own entries in the work directory
        ours = {"tmp", "spark-local", "batches", PREPARED,
                os.path.basename(getattr(wl, "state", ""))}
        leaked = (sum(len(os.listdir(os.path.join(work, d))) for d in ("tmp", "spark-local"))
                  + len(set(os.listdir(work)) - ours))
        shutil.rmtree(work, ignore_errors=True)
        phase("shutdown")

    n_timed = len(timed)
    n_ok = sum(map(math.isfinite, lat))
    timed_failed = n_timed - n_ok
    ops_per_s = n_ok / wall
    tail, tail_pct, tail_beyond = percentile_tail(lat)
    known = {k: v for k, v in failures.items() if k in W.KNOWN_DEFECTS}
    unexpected = {k: v for k, v in failures.items() if k not in W.KNOWN_DEFECTS}
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "sf": SF, "data_version": datagen.DATA_VERSION,
        "host": {"nproc": len(os.sched_getaffinity(0)), "loadavg_before": load0,
                 "loadavg_after": load1,
                 "steal_pct_timed": round(probes.steal_pct(host0, host1), 3)},
        "spark": conf, "jvm_args": jvm_args,
        "ops": {"warmup": len(ops["warmup"]), "timed": n_timed,
                "timed_failed": timed_failed,
                "timed_wall_s": wall, "fail_ratio": timed_failed / n_timed},
        "op_tail": {"percentile": tail_pct, "samples": len(lat),
                    "beyond": tail_beyond},
        "failed_known_defect": known, "failed_unexpected": unexpected,
        "wrong_output": wrong, "tmp_leaked": leaked,
        "phases_s": phases, "setup_s_all": setup, "ops_run": ops_done,
    }
    attempted = len(ops_done)
    failed = sum(failures.values()) + sum(wrong.values())
    if not traced:
        metrics = {
            "setup_s": (statistics.median(setup), "s"),
            "first_op_s": (first_s, "s"),
            "op_p50_s": (finite(statistics.median(lat), "op_p50_s"), "s"),
            "op_tail_s": (finite(tail, "op_tail_s"), "s"),
            "ops_per_s": (ops_per_s, "1/s"),
            "cpu_s_per_op": ((cpu1 - cpu0) / n_timed, "s"),
            "peak_rss_mb": (rss, "MB"),
            "ok_ratio": (n_ok / n_timed, "ratio"),
        }
        os.makedirs(os.path.dirname(untraced_result_path(args)), exist_ok=True)
        with open(untraced_result_path(args), "w") as f:
            json.dump({"ops_per_s": ops_per_s}, f)
    else:
        metrics = layer_metrics(tracer, session_s, ops_per_s, n_timed, leaked)
        metrics.update({k: (v, "count" if isinstance(v, int) else "ratio")
                        for k, v in extra.items()})
        # the tracing overhead: this run's ops_per_s against the untraced
        # run of the same workload and seed, when one ran in this checkout
        if os.path.exists(untraced_result_path(args)):
            with open(untraced_result_path(args)) as f:
                record["trace_overhead_ops_per_s"] = ops_per_s - json.load(f)["ops_per_s"]
        record["trace_report"] = tracer.report()
        write_trace(args, tracer, record)
    return {
        "record": record,
        "result": {
            "correct": not wrong and not unexpected,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        },
    }


def layer_metrics(tracer, session_s, ops_per_s, n_timed, leaked) -> dict:
    """Per-layer numbers from the traced ops: each layer's median self time
    per call, job and stage totals, and counter totals over traced ops."""
    rep = tracer.report()
    ops = [s for s in tracer.spans if s["name"] == "op"]

    def p50(name):
        return rep[name]["self_p50_s"] if name in rep else 0.0

    def total(name, key):
        return rep[name][key] if name in rep else 0

    hits = sum(s.get("cache.hits", 0) for s in ops)
    misses = sum(s.get("cache.misses", 0) for s in ops)
    m = {
        "spark.session_s": (session_s, "s"),
        "tpch.get_engine_s": (p50("tpch.get_engine"), "s"),
        "pipeline.init_ingest_state_s": (p50("pipeline.init_ingest_state"), "s"),
        "op.self_s": (p50("op"), "s"),
        "mdx.parse_s": (p50("mdx.parse"), "s"),
        "query.execute_s": (p50("query.execute"), "s"),
        "query.execute_jobs": (total("query.execute", "jobs"), "count"),
        "result.values_s": (p50("result.values"), "s"),
        "result.values_jobs": (total("result.values", "jobs"), "count"),
        "result.values_stages": (total("result.values", "stages"), "count"),
        "formats.formatted_values_s": (p50("formats.formatted_values"), "s"),
        "plan.drill_through_s": (p50("plan.drill_through"), "s"),
        "plan.drill_through_jobs": (total("plan.drill_through", "jobs"), "count"),
        "pipeline.ingest_batch_s": (p50("pipeline.ingest_batch"), "s"),
        "pipeline.ingest_batch_jobs": (total("pipeline.ingest_batch", "jobs"), "count"),
        "pipeline.accepted_collect_s": (p50("pipeline.accepted_collect"), "s"),
        "cache.hit_ratio": (hits / (hits + misses) if hits + misses else 0.0, "ratio"),
        "cache.hits": (hits, "count"),
        "cache.misses": (misses, "count"),
        "cache.rollups": (sum(s.get("cache.rollups", 0) for s in ops), "count"),
        "cache.evictions": (sum(s.get("cache.evictions", 0) for s in ops), "count"),
        "jvm.codegen_compiles": (sum(s["jvm.codegen_compiles"] for s in ops), "count"),
        "jvm.gc_s": (sum(s["jvm.gc_s"] for s in ops), "s"),
        "fsio.state_bytes_per_input_byte": (0.0, "ratio"),
        "fsio.state_files": (0, "count"),
        "fsio.tmp_leaked": (leaked, "count"),
        "trace.ops_per_s": (ops_per_s, "1/s"),
        "trace.bookkeeping_s_per_op": (tracer.own_s / n_timed, "s"),
    }
    return m


def write_trace(args, tracer, record):
    d = os.path.join(STATE, "traces")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"{args.workload}-seed{args.seed}-{int(time.time())}.json")
    with open(path, "w") as f:
        json.dump({"record": record, "spans": tracer.spans}, f)
    record["trace_file"] = os.path.relpath(path, ROOT)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--prepare", metavar="WORK", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    sys.path[:0] = [HERE, ROOT]
    if args.prepare:
        with open(os.path.join(args.prepare, PREPARED), "wb") as f:
            pickle.dump(prepare(args.workload, args.seed, args.prepare), f)
        return 0
    try:
        import mondrian_olap_spark  # noqa: F401 — the program under test
    except ImportError as e:
        print(f"perfbench: the engine package is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    os.makedirs(os.path.join(STATE, "runs"), exist_ok=True)
    out = run(args)
    print(json.dumps({"record": out["record"]}, default=str))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
