"""The benchmark's measuring process: one driver, one client, a closed loop.

Run by ``perfbench/run.py`` in a child process whose environment pins the
core count, driver memory, warehouse, temp and Spark local directories.
It drives the engine only through its public entry points:
``session.get_spark``, ``session.load_table`` (wrapped, in the traced run
only), the ``registry.QUERIES`` builders, ``caching.release_caches`` and a
noop-sink write of each returned DataFrame.

A run is: the set-up (JVM launch, ``get_spark`` plus a trivial job) -> a
cold pass in the fresh session -> warm passes until ``--seconds`` have
elapsed, and at least ``MIN_WARM_PASSES`` -> the DuckDB oracle check
(untimed). Each pass issues every query of the workload once, one at a
time, in an order drawn from the seed.

Usage: python3 perfbench/harness.py WORKLOAD SEED SECONDS TRACE DATA_DIR OUT_JSON
"""

from __future__ import annotations

import contextlib
import json
import os
import platform
import random
import statistics
import sys
import threading
import time
import traceback
from dataclasses import dataclass, field

import spans as tr

MIN_WARM_PASSES = 4

# query names per workload; BENCHMARK.json and README.md say why each exists
WORKLOADS: dict[str, list[str]] = {
    "llm_pipeline": ["dedup_minhash_lsh", "sim_lsh_topk_scan"],
    "stream_io": [
        "stream_tumbling_counts", "udaf_pandas_median", "pipe_wordcount",
        "recordio_roundtrip", "bucketed_join_customer_orders",
    ],
}


class NullTracer:
    """Stands in for ``spans.Tracer`` in untraced passes."""

    def span(self, kind: str, name: str = ""):
        return contextlib.nullcontext()

    def after_query(self, span) -> None:
        pass


@dataclass
class Failure:
    query: str
    where: str
    error: str


@dataclass
class PassResult:
    wall_s: float
    cpu_s: float = 0.0
    steal_s: float = 0.0
    query_s: list[tuple[str, float]] = field(default_factory=list)
    root: tr.Span | None = None


_TICK = os.sysconf("SC_CLK_TCK")


def session_procs(sid: int):
    """``(pid, stat fields after the command name)`` of every process in
    session ``sid``."""
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while we looked
            continue
        if int(fields[3]) == sid:
            yield int(entry), fields


def session_cpu_s() -> float:
    """CPU seconds used so far by every process of this session (the
    driver, its JVM, Python workers, pipe processes), counting children
    those processes have already reaped."""
    ticks = sum(sum(int(x) for x in f[11:15]) for _, f in session_procs(os.getsid(0)))
    return ticks / _TICK


def host_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


def run_query(spark, build, data_dir: str, tracer, name: str) -> None:
    from hadoop_1_spark.operators import caching

    with tracer.span("query", name) as q:
        with tracer.span("release_caches"):
            caching.release_caches()
        with tracer.span("build"):
            df = build(spark, data_dir)
        with tracer.span("write"):
            df.write.format("noop").mode("overwrite").save()
        tracer.after_query(q)


def run_pass(spark, order, queries, data_dir, tracer, failures, label) -> PassResult:
    """Issue each query once, in ``order``; exceptions count as failures
    and the loop moves on to the next query."""
    res = PassResult(0.0)
    cpu0, steal0 = session_cpu_s(), host_steal_s()
    t_pass = time.perf_counter()
    with tracer.span("pass", label) as root:
        for name in order:
            t0 = time.perf_counter()
            try:
                run_query(spark, queries[name], data_dir, tracer, name)
            except Exception as e:  # a failing query must not stop the run
                failures.append(Failure(name, label, _first_line(e)))
                continue
            res.query_s.append((name, time.perf_counter() - t0))
    res.wall_s = time.perf_counter() - t_pass
    res.cpu_s = session_cpu_s() - cpu0
    res.steal_s = host_steal_s() - steal0
    res.root = root
    return res


def _first_line(e: BaseException) -> str:
    text = str(e).strip()
    return f"{type(e).__name__}: {text.splitlines()[0][:300] if text else ''}"


# ------------------------------------------------------------ correctness


def oracle_check(spark, names, queries, oracles, data_dir, failures):
    """Compare each query's Spark rows with its DuckDB oracle under the
    ``scripts/oracle_check.py`` canonicalisation (columns sorted by name,
    rows sorted, exact float bits). Returns (status per query, DuckDB
    seconds)."""
    import duckdb

    from hadoop_1_spark.session import TABLES
    from scripts.oracle_check import _canon

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    status: dict[str, str] = {}
    duck_s = 0.0
    for name in names:
        try:
            sdf = queries[name](spark, data_dir)
            s_cols = list(sdf.columns)
            s_rows = [tuple(r) for r in sdf.collect()]
            if name not in oracles:
                status[name] = f"no oracle ({len(s_rows)} rows)"
                continue
            t0 = time.perf_counter()
            odf = con.sql(oracles[name])
            o_cols = list(odf.columns)
            o_rows = [tuple(r) for r in odf.fetchall()]
            duck_s += time.perf_counter() - t0
        except Exception as e:  # an exception is a failed check
            status[name] = "FAIL"
            failures.append(Failure(name, "oracle", _first_line(e)))
            continue
        if sorted(s_cols) != sorted(o_cols):
            problem = f"columns {sorted(s_cols)} vs {sorted(o_cols)}"
        else:
            s_ix = [s_cols.index(c) for c in sorted(s_cols)]
            o_ix = [o_cols.index(c) for c in sorted(o_cols)]
            s = sorted(tuple(_canon(r[i]) for i in s_ix) for r in s_rows)
            o = sorted(tuple(_canon(r[i]) for i in o_ix) for r in o_rows)
            problem = None if s == o else f"rows differ ({len(s)} vs {len(o)})"
        if problem:
            status[name] = "FAIL"
            failures.append(Failure(name, "oracle", problem))
        else:
            status[name] = f"ok ({len(s_rows)} rows)"
    con.close()
    return status, duck_s


# ---------------------------------------------------------------- session


def session_objects(spark) -> dict[str, int]:
    """Temp views, catalog tables, active streams and cached RDDs."""
    tables = spark.catalog.listTables()
    return {
        "temp_views": sum(1 for t in tables if t.isTemporary),
        "tables": sum(1 for t in tables if not t.isTemporary),
        "streams": len(spark.streams.active),
        "cached_rdds": spark.sparkContext._jsc.getPersistentRDDs().size(),
    }


def objects_growth(first: dict[str, int], last: dict[str, int]) -> int:
    return sum(last.values()) - sum(first.values())


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident memory (VmHWM) of the driver JVM plus this process."""
    total_kb = 0
    for pid in (jvm_pid, os.getpid()):
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


def setup_once(app: str):
    """``get_spark`` plus a trivial job; returns the session, its wall
    seconds and the CPU seconds the process session spent on it. The first
    call in a process also launches the JVM."""
    from hadoop_1_spark.session import get_spark

    t0, cpu0 = time.perf_counter(), session_cpu_s()
    spark = get_spark(app)
    spark.range(1).count()
    return spark, time.perf_counter() - t0, session_cpu_s() - cpu0


# -------------------------------------------------------------- the run


@dataclass
class RunConfig:
    workload: str
    seed: int
    seconds: float
    trace: bool
    data_dir: str
    cores: int


def run(cfg: RunConfig, queries: dict, oracles: dict, names: list[str]) -> dict:
    """Measure one workload. ``queries``/``oracles`` map names to builders
    and DuckDB SQL (normally ``registry.QUERIES``/``registry.ORACLE``)."""
    from pyspark import SparkContext

    spark, setup_s, setup_cpu_s = setup_once("perfbench")
    jvm_pid = SparkContext._gateway.proc.pid
    rng = random.Random(f"{cfg.workload}:{cfg.seed}")

    def order() -> list[str]:
        out = list(names)
        rng.shuffle(out)
        return out

    failures: list[Failure] = []
    attempted = 0
    layers = TraceSession(spark, cfg) if cfg.trace else None
    untraced = NullTracer()
    try:
        if layers:
            layers.start()
        cold = run_pass(spark, order(), queries, cfg.data_dir,
                        layers.tracer if layers else untraced, failures, "cold")
        attempted += len(names)
        if layers:
            layers.collect(cold)

        warm: list[PassResult] = []  # untraced warm passes
        traced_warm: list[PassResult] = []
        objects_first = objects_last = None
        t_loop = time.perf_counter()
        while (len(warm) + len(traced_warm) < MIN_WARM_PASSES
               or time.perf_counter() - t_loop < cfg.seconds):
            # traced runs alternate traced and untraced passes; the
            # difference of their medians is the tracing overhead
            traced = layers is not None and len(warm) == len(traced_warm)
            label = f"warm{len(warm) + len(traced_warm) + 1}"
            p = run_pass(spark, order(), queries, cfg.data_dir,
                         layers.tracer if traced else untraced, failures, label)
            attempted += len(names)
            (traced_warm if traced else warm).append(p)
            if layers:
                if traced:
                    layers.collect(p)
                else:
                    layers.skip()
                objects_last = session_objects(spark)
                objects_first = objects_first or objects_last
        t_oracle = time.perf_counter()
        status, duck_s = oracle_check(spark, names, queries, oracles, cfg.data_dir, failures)
        attempted += len(names)
        record = {
            "setup_s": setup_s,
            "setup_cpu_s": setup_cpu_s,
            "cold_pass_s": cold.wall_s,
            "cold_query_s": cold.query_s,
            "phase_s": {"warm": t_oracle - t_loop, "oracle": time.perf_counter() - t_oracle},
            "warm_pass_s": [p.wall_s for p in warm],
            "cold_cpu_s": cold.cpu_s,
            "warm_cpu_s": [p.cpu_s for p in warm],
            "steal_s": [p.steal_s for p in [cold] + warm],
            "warm_query_s": [s for p in warm for _, s in p.query_s],
            "peak_rss_mb": peak_rss_mb(jvm_pid),
            "oracle": status,
            "duckdb_oracle_s": duck_s,
            "attempted": attempted,
            "failures": [f.__dict__ for f in failures],
            "versions": {
                "spark": spark.version,
                "java": spark.sparkContext._jvm.System.getProperty("java.version"),
                "python": platform.python_version(),
            },
        }
        if layers:
            record["traced_pass_s"] = [p.wall_s for p in traced_warm]
            record["layers"] = layers.metrics(cold, traced_warm, warm,
                                              objects_first, objects_last)
            record["spans"] = [p.root.to_json() for p in [cold] + traced_warm]
        return record
    finally:
        if layers:
            layers.stop()
        spark.stop()


class TraceSession:
    """Everything the traced run adds: spans, the load_table wrapper, py4j
    counting, the stream listener and the status-store readers."""

    def __init__(self, spark, cfg: RunConfig):
        self.spark = spark
        self.cfg = cfg
        self.tracer = tr.Tracer(spark)
        self.batches: list[tr.Span] = []
        self._lock = threading.Lock()
        self._stack = contextlib.ExitStack()

    def start(self) -> None:
        from hadoop_1_spark import session

        self.reader = tr.StatusReader(self.spark)
        self.tracer.storage_bytes = self.reader.storage_bytes
        self.listener = tr.make_stream_listener(self.batches, self._lock)
        self.spark.streams.addListener(self.listener)
        self._stack.enter_context(tr.counting_py4j(self.tracer))
        original = session.load_table
        tracer = self.tracer

        def traced_load_table(spark, sf_dir, name):
            with tracer.span("load_table", name):
                return original(spark, sf_dir, name)

        session.load_table = traced_load_table
        self._stack.callback(setattr, session, "load_table", original)

    def stop(self) -> None:
        self._stack.close()
        with contextlib.suppress(Exception):
            self.spark.streams.removeListener(self.listener)

    def collect(self, p: PassResult) -> None:
        """After a traced pass: attach its jobs and stream batches to its
        query spans and remember its Python-worker metrics."""
        self.reader.flush()
        jobs = self.reader.new_jobs()
        with self._lock:
            batches, self.batches[:] = list(self.batches), []
        for q in p.root.children:
            tr.attach(q, [s for s in jobs + batches if q.start <= s.start <= q.end])
        p.root.attrs["python"] = self.reader.new_python_metrics()

    def skip(self) -> None:
        """After an untraced pass: advance the readers past its work."""
        self.reader.flush()
        self.reader.new_jobs()
        self.reader.new_python_metrics()
        with self._lock:
            self.batches[:] = []

    def metrics(self, cold, traced, untraced, objects_first, objects_last) -> dict:
        per_pass = [self._pass_metrics(p) for p in traced]
        keys = per_pass[0].keys() if per_pass else []
        out = {k: statistics.median(m[k] for m in per_pass) for k in keys}
        out["queries.cold_build_s"] = sum(
            s.duration for s in cold.root.walk() if s.kind == "build"
        )
        # written tables are usually parked by the cold pass, so the file
        # output counts cover the cold pass as well as the traced warm ones
        jobs = [s for p in [cold] + traced for s in p.root.walk() if s.kind == "job"]
        for key in ("output_bytes", "output_records"):
            out[f"sources.{key}"] = sum(j.attrs[key] for j in jobs)
        out["session.objects_growth"] = (
            objects_growth(objects_first, objects_last) if objects_first else 0
        )
        t_med = statistics.median(p.wall_s for p in traced)
        u_med = statistics.median(p.wall_s for p in untraced)
        out["trace.traced_pass_s"] = t_med
        out["trace.untraced_pass_s"] = u_med
        out["trace.overhead_s"] = t_med - u_med
        return out

    def _pass_metrics(self, p: PassResult) -> dict:
        spans = list(p.root.walk())

        def of(kind):
            return [s for s in spans if s.kind == kind]

        def jobs_under(kind):
            return [j for s in of(kind) for j in s.walk() if j.kind == "job"]

        def job_sum(jobs, key):
            return sum(j.attrs[key] for j in jobs)

        m: dict[str, float] = {}
        m["session.load_table_s"] = sum(s.duration for s in of("load_table"))
        m["session.load_table_jobs"] = len(jobs_under("load_table"))
        builds = of("build")
        m["queries.build_s"] = sum(s.duration for s in builds)
        m["queries.build_py4j_calls"] = sum(s.attrs["py4j_calls"] for s in builds)
        m["queries.build_jobs"] = len(jobs_under("build"))
        blocking = sum(
            tr.union_length([
                (c.start, c.end) for c in b.walk() if c.kind in tr.ATTACHED_KINDS
            ])
            for b in builds
        )
        m["queries.build_job_s"] = blocking
        m["queries.build_plan_s"] = m["queries.build_s"] - blocking
        m["caching.release_s"] = sum(s.duration for s in of("release_caches"))
        m["caching.storage_bytes_peak"] = max(
            (s.attrs.get("storage_bytes", 0) for s in of("query")), default=0
        )
        exec_jobs = jobs_under("write")
        exec_s = sum(s.duration for s in of("write"))
        m["operators.exec_s"] = exec_s
        m["operators.jobs"] = len(exec_jobs)
        for key in ("stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
                    "shuffle_read_bytes", "shuffle_write_bytes", "input_bytes"):
            m[f"operators.{key}"] = job_sum(exec_jobs, key)
        m["operators.spill_bytes"] = job_sum(exec_jobs, "memory_spill_bytes") + job_sum(
            exec_jobs, "disk_spill_bytes")
        m["operators.slot_util"] = (
            m["operators.executor_run_s"] / (exec_s * self.cfg.cores) if exec_s else 0.0
        )
        batches = of("stream_batch")
        m["streaming.batches"] = len(batches)
        m["streaming.batch_s"] = sum(b.duration for b in batches)
        m["streaming.state_commit_s"] = sum(b.attrs["state_commit_s"] for b in batches)
        m["streaming.state_rows"] = sum(b.attrs["state_rows"] for b in batches)
        py = p.root.attrs["python"]
        m["pipes.bytes_to_python"] = py["bytes_to_python"]
        m["pipes.bytes_from_python"] = py["bytes_from_python"]
        m["pipes.python_rows"] = py["python_rows"]
        exclusive = tr.exclusive_time_by_kind(p.root)
        for kind in SELF_KINDS:
            m[f"self.{kind}_s"] = exclusive.get(kind, 0.0)
        m["self.total_s"] = sum(exclusive.values())
        return m


SELF_KINDS = ("pass", "query", "release_caches", "build", "load_table", "write",
              "job", "stream_batch")


def main(argv: list[str]) -> int:
    workload, seed, seconds, trace, data_dir, out_json = argv
    from hadoop_1_spark import registry

    cfg = RunConfig(workload, int(seed), float(seconds), trace == "1", data_dir,
                    int(os.environ["SPARK_GRAFT_CPUS"]))
    names = WORKLOADS[workload]
    try:
        record = run(cfg, registry.QUERIES, registry.ORACLE, names)
    except Exception:
        traceback.print_exc()
        return 1
    with open(out_json, "w") as f:
        json.dump(record, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
