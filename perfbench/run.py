"""Benchmark entry point.

    python3 perfbench/run.py --workload stream_io --seed 1 --seconds 5 --trace 0

Run from the repository root. Generates the seeded inputs, then measures
the workload in a child process with its own warehouse, temp and Spark
local directories (all removed afterwards), four cores and a pinned
driver memory. Prints a provenance header and every metric with its unit,
then, as the last line, one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``). The full record, and with
``--trace 1`` the spans, go to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import spans  # noqa: E402
from harness import WORKLOADS, session_procs  # noqa: E402

CORES = 4
DRIVER_MEM = "1g"
CHILD_TIMEOUT_S = 150

# printed and recorded, not gated: time the hypervisor steals for other
# guests moves wall times by more than any bound BENCHMARK.json may set,
# so the gated end-to-end metrics use CPU seconds (see README.md)
WALL = {
    "setup_wall_s": "s",
    "cold_pass_s": "s",
    "warm_pass_s": "s",
    "query_p50_s": "s",
}


def spec_units(section: str) -> dict[str, str]:
    """Metric name -> unit for one section of BENCHMARK.json."""
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec[section]}


def source_digest(root: str) -> str:
    """sha256 over the engine's source files, for checkouts without git."""
    h = hashlib.sha256()
    pkg = os.path.join(root, "hadoop_1_spark")
    for dirpath, dirnames, files in sorted(os.walk(pkg)):
        dirnames.sort()
        for fn in sorted(files):
            if fn.endswith(".py"):
                path = os.path.join(dirpath, fn)
                h.update(os.path.relpath(path, root).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def git_state(root: str) -> tuple[str | None, bool | None]:
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                             text=True, timeout=10, check=True).stdout.strip()
        dirty = subprocess.run(["git", "status", "--porcelain"], cwd=root,
                               capture_output=True, text=True, timeout=10,
                               check=True).stdout.strip() != ""
        return sha, dirty
    except (OSError, subprocess.SubprocessError):
        return None, None


def run_child(root: str, work: str, args, data_dir: str, out_json: str) -> int:
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join([root, HERE]),
        "SPARK_GRAFT_CPUS": str(CORES),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "SPARK_GRAFT_SF_DIR": data_dir,
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "PYSPARK_PYTHON": sys.executable,
        # keep the JVM's temp files (native-library extraction) inside the
        # work directory and stop it writing /tmp/hsperfdata_<user>
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    })
    env.pop("OMP_NUM_THREADS", None)
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    cmd = [sys.executable, os.path.join(HERE, "harness.py"), args.workload,
           str(args.seed), str(args.seconds), str(args.trace), data_dir, out_json]
    # the child and everything it starts (the JVM, Python workers, pipe
    # processes) share one process group, removed as a whole afterwards
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr,
                            start_new_session=True)
    try:
        return proc.wait(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"measurement exceeded {CHILD_TIMEOUT_S} s", file=sys.stderr)
        return 1
    finally:
        # give the JVM a moment to exit after its driver, then kill what is left
        if not wait_session_gone(proc.pid, 5.0):
            with contextlib.suppress(ProcessLookupError):
                os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        wait_session_gone(proc.pid, 10.0)


def session_pids(sid: int) -> list[int]:
    # zombies are dead already; their parent reaps them
    return [pid for pid, f in session_procs(sid) if f[0] != "Z"]


def wait_session_gone(sid: int, timeout: float) -> bool:
    """Wait until no live process of session ``sid`` remains."""
    deadline = time.monotonic() + timeout
    while session_pids(sid):
        if time.monotonic() > deadline:
            return False
        time.sleep(0.1)
    return True


def end_to_end(rec: dict) -> dict[str, float]:
    return {
        "setup_s": rec["setup_cpu_s"],
        "setup_wall_s": rec["setup_s"],
        "cold_pass_cpu_s": rec["cold_cpu_s"],
        # a mean, not a median: per-pass CPU still falls pass by pass as the
        # JIT compiles, and the mean follows that trend less erratically
        "warm_pass_cpu_s": statistics.mean(rec["warm_cpu_s"]),
        "peak_rss_mb": rec["peak_rss_mb"],
        "cold_pass_s": rec["cold_pass_s"],
        "warm_pass_s": statistics.median(rec["warm_pass_s"]),
        "query_p50_s": statistics.median(rec["warm_query_s"]),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # on SIGTERM unwind through run_child's cleanup of the child session
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "hadoop_1_spark", "registry.py")):
        print("run from the repository root: hadoop_1_spark/ not found", file=sys.stderr)
        return 2

    out_dir = os.path.join(root, ".perfbench_out")
    work = os.path.join(root, ".perfbench_work", f"run-{os.getpid()}")
    os.makedirs(out_dir, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    out_json = os.path.join(work, "record.json")
    try:
        t0 = time.perf_counter()
        data_dir = os.path.join(work, "data")
        manifest = gen.generate(data_dir, args.seed)
        gen_s = time.perf_counter() - t0
        code = run_child(root, work, args, data_dir, out_json)
        if code != 0 or not os.path.exists(out_json):
            print(f"measurement failed (exit {code})", file=sys.stderr)
            return 1
        with open(out_json) as f:
            rec = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    sha, dirty = git_state(root)
    rec["provenance"] = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cores": CORES, "host_cpus": os.cpu_count(),
        "driver_mem": DRIVER_MEM, "git_sha": sha, "git_dirty": dirty,
        "source_sha256": source_digest(root),
        "duckdb": __import__("duckdb").__version__, **rec.pop("versions"),
        "platform": platform.platform(),
    }
    rec["inputs"] = {"generate_s": gen_s, "tables": manifest}
    span_trees = rec.pop("spans", None)
    if span_trees is not None:
        with open(os.path.join(out_dir, f"spans-{tag}.json"), "w") as f:
            json.dump(span_trees, f)
    with open(os.path.join(out_dir, f"record-{tag}.json"), "w") as f:
        json.dump(rec, f, indent=1)

    for k, v in rec["provenance"].items():
        print(f"# {k}: {v}")
    for name, info in manifest.items():
        print(f"# input {name}: {info['rows']} rows sha256 {info['sha256']}")
    for name, status in rec["oracle"].items():
        print(f"# oracle {name}: {status}")
    for fail in rec["failures"]:
        print(f"# FAILED {fail['query']} [{fail['where']}]: {fail['error']}")

    e2e = end_to_end(rec)
    warm_q = rec["warm_query_s"]
    tail = spans.tail_percentile(warm_q)
    kind = "untraced warm" if args.trace else "warm"
    print(f"# {kind} passes: {len(rec['warm_pass_s'])}, {kind} query samples: {len(warm_q)}")
    print("# tail percentile (>= 10 samples beyond): "
          + (f"p{tail[0]:g} = {tail[1]:.4f} s" if tail else "none at this sample count"))
    print(f"# duckdb_oracle_s: {rec['duckdb_oracle_s']:.4f} s (machine-speed context)")
    attempted = rec["attempted"]
    failed = len(rec["failures"])
    print(f"# failed_frac: {failed / attempted:.4f} ({failed} of {attempted})")
    gated = spec_units("end_to_end")
    for name, unit in {**gated, **WALL}.items():
        print(f"{name} {e2e[name]:.6g} {unit}")
    if args.trace:
        metrics = {k: {"value": rec["layers"][k], "unit": u}
                   for k, u in spec_units("per_layer").items()}
        for k, m in metrics.items():
            print(f"{k} {m['value']:.6g} {m['unit']}")
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in gated.items()}
    correct = failed == 0 and all(s.startswith("ok") for s in rec["oracle"].values())
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
