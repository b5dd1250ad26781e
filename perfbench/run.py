"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \\
        --trace <0|1>

Run from the repository root.  Each invocation is one fresh-process run:
it pins the envelope (cpus, driver heap, local dirs), builds or verifies
the etl_10x fixture when needed, starts ``engine.py`` in a scratch
directory under ``perfbench/.work``, samples the summed RSS of that
process tree from ``/proc``, and removes the scratch directory at the end.

It prints each metric with its unit and sample count, a line with the
envelope, and as its last line one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.  It exits non-zero
without that line when the program or its data are missing.  With
``--workload all`` it runs every workload in turn, untraced.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import workloads as W  # noqa: E402
from check import etl_verify  # noqa: E402
from probes import RssSampler, median_with_count  # noqa: E402

FIXTURE_TOOL = os.path.join(ROOT, "tools", "make_scale_fixture.py")
CALIBRATE_TOOL = os.path.join(ROOT, "tools", "host_calibrate.py")
WORK_DIR = os.path.join(HERE, ".work")
CACHE_DIR = os.path.join(HERE, ".cache")
#: the measured process is killed after this long, so a run, fixture build
#: aside, always ends within three minutes
CHILD_TIMEOUT_S = 150
MB = 1e6
FIXTURE_FILES = {*(f"{t}.parquet" for t in W.ETL_TABLES), W.ETL_DERIVED}

#: metric -> unit, in the order they are printed
END_TO_END = {"setup_s": "s", "work_s": "s", "peak_python_rss_mb": "MB"}
PER_LAYER = {
    "session.start_s": "s", "queries.load_s": "s",
    "catalog.register_s": "s", "catalog.first_scan_s": "s",
    "queries.build_s": "s", "queries.build_jobs": "count",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.sql_s": "s", "exec.run_s": "s", "exec.cpu_s": "s",
    "exec.gc_s": "s", "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB", "exec.shuffle_wait_s": "s",
    "exec.spill_mb": "MB",
    "operators.python_boot_s": "s", "operators.python_init_s": "s",
    "operators.python_run_s": "s", "operators.python_sent_mb": "MB",
    "operators.python_recv_mb": "MB",
    "collect.s": "s", "collect.rows": "count",
    "caching.released": "count",
    "sources.write_s": "s", "sources.write_mb": "MB",
    "sources.files": "count", "sources.read_s": "s",
    "sources.write_rows_s": "1/s", "sources.read_rows_s": "1/s",
    "sources.stored_bytes_per_row": "B",
    "operators.merge_upsert_s": "s",
    "memory.jvm_rss_mb": "MB", "memory.python_rss_mb": "MB",
    "trace.work_s": "s", "trace.overhead_s": "s", "trace.other_s": "s",
    "trace.max_other_share": "ratio", "trace.build_share": "ratio",
}


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# --- envelope ---------------------------------------------------------------

def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def driver_heap_mb() -> int:
    """35% of host RAM, within [1 GiB, 8 GiB]: the session's own default
    (90g) exceeds small hosts."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f
                        if line.startswith("MemTotal:"))
    return max(1024, min(8192, int(total_kb / 1024 * 0.35)))


def versions() -> dict:
    import pyarrow
    import pyspark

    java = subprocess.run(["java", "-version"], capture_output=True,
                          text=True, timeout=60).stderr.splitlines()
    return {"spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "java": java[0] if java else "unknown",
            "python": sys.version.split()[0]}


def anchors() -> dict:
    """The two host anchors of tools/host_calibrate.py (a pure-Python loop
    and a float64 matmul), at a quarter of the tool's default sizes so
    they add well under a second to a run."""
    import importlib.util

    spec = importlib.util.spec_from_file_location("host_calibrate",
                                                  CALIBRATE_TOOL)
    cal = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(cal)
    return {"pyloop_2m_sec": cal.pyloop_once(2_000_000),
            "blas32_1024_sec": cal.blas32_once(1024)}


# --- etl_10x fixture ----------------------------------------------------------

def _sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def fixture_key() -> str:
    """Hash of everything the fixture is built from: the tool, the scale,
    the derived table's SQL and the source tables."""
    h = hashlib.sha256()
    h.update(f"{W.ETL_SCALE} {W.ETL_TABLES} {W.ETL_DERIVED_SQL}".encode())
    h.update(_sha256(FIXTURE_TOOL).encode())
    for name in sorted(os.listdir(W.DATA_DIR)):
        h.update(f"{name}:{_sha256(os.path.join(W.DATA_DIR, name))}".encode())
    return h.hexdigest()[:16]


def fixture_ok(path: str) -> bool:
    """The fixture has the files its manifest lists, with the sizes they
    were built with.  (Hashing 340 MB on every run would cost a second.)"""
    try:
        with open(os.path.join(path, "manifest.json")) as f:
            manifest = json.load(f)
    except (OSError, ValueError):
        return False
    return set(manifest) == FIXTURE_FILES and all(
        os.path.isfile(os.path.join(path, n))
        and os.path.getsize(os.path.join(path, n)) == size
        for n, size in manifest.items())


def ensure_fixture() -> str:
    """The cached 10x fixture, rebuilt when missing or when its content no
    longer matches its manifest.  It holds the tables etl_10x reads and
    the derived table its output check compares with."""
    import duckdb

    path = os.path.join(CACHE_DIR, f"etl_{W.ETL_SCALE}x-{fixture_key()}")
    if fixture_ok(path):
        return path
    os.makedirs(CACHE_DIR, exist_ok=True)
    for stale in os.listdir(CACHE_DIR):
        shutil.rmtree(os.path.join(CACHE_DIR, stale), ignore_errors=True)
    tmp = f"{path}.tmp{os.getpid()}"
    os.makedirs(tmp)
    subprocess.run([sys.executable, FIXTURE_TOOL, str(W.ETL_SCALE),
                    W.DATA_DIR, tmp], check=True, stdout=subprocess.DEVNULL,
                   cwd=tmp, timeout=600)
    con = duckdb.connect()
    try:
        con.execute(f"SET temp_directory = '{tmp}'")
        for t in W.ETL_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(tmp, t)}.parquet')")
        con.execute(f"COPY ({W.ETL_DERIVED_SQL}) TO "
                    f"'{os.path.join(tmp, W.ETL_DERIVED)}' (FORMAT PARQUET)")
    finally:
        con.close()
    for name in os.listdir(tmp):
        if name not in FIXTURE_FILES:
            drop = os.path.join(tmp, name)
            shutil.rmtree(drop) if os.path.isdir(drop) else os.remove(drop)
    manifest = {n: os.path.getsize(os.path.join(tmp, n))
                for n in sorted(FIXTURE_FILES)}
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1)
    os.rename(tmp, path)
    return path


# --- the measured child -------------------------------------------------------

def _group_alive(pgid: int) -> list[int]:
    """Live (not zombie) processes of one process group."""
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (FileNotFoundError, ProcessLookupError):
            continue
        # fields after the command name: state, ppid, pgrp, ...
        if int(fields[2]) == pgid and fields[0] != "Z":
            out.append(int(entry))
    return out


def reap_group(pgid: int) -> None:
    """Terminate whatever is left in the child's process group (the JVM,
    the PySpark daemon) and wait until it has gone."""
    for sig, wait_s in ((signal.SIGTERM, 10), (signal.SIGKILL, 10)):
        if not _group_alive(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + wait_s
        while _group_alive(pgid) and time.monotonic() < deadline:
            time.sleep(0.1)


def run_child(args, work: str, fixture: str | None, env: dict):
    cmd = [sys.executable, os.path.join(HERE, "engine.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work]
    if fixture:
        cmd += ["--fixture", fixture]
    cwd = os.path.join(work, "cwd")
    os.makedirs(cwd)
    # write back what earlier runs left dirty, so it does not land in this
    # run's measurements
    os.sync()
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                            start_new_session=True)
    try:
        with RssSampler(proc.pid) as rss:
            out, _ = proc.communicate(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        reap_group(proc.pid)
        proc.wait()
        fail(f"run exceeded {CHILD_TIMEOUT_S} s")
    finally:
        reap_group(proc.pid)
    if proc.returncode != 0:
        fail(f"engine exited with {proc.returncode}")
    lines = out.decode().strip().splitlines()
    if not lines:
        fail("engine printed no result")
    return json.loads(lines[-1]), rss


# --- metrics ------------------------------------------------------------------

def _sum(ops, key) -> float:
    return sum(o.get(key) or 0 for o in ops)


def first_pass(res: dict) -> list[dict]:
    """The ops every metric is taken from."""
    return [o for o in res["ops"] if o["pass"] == 0]


def end_to_end(res: dict, rss) -> tuple[dict, dict]:
    ops = first_pass(res)
    values = {"setup_s": (res["setup_s"], 1),
              "work_s": (_sum(ops, "wall_s"), len(ops)),
              "peak_python_rss_mb": (rss.peak["python"] / MB, rss.samples)}
    return ({k: v for k, (v, _) in values.items()},
            {k: c for k, (_, c) in values.items()})


def per_layer(res: dict, rss) -> tuple[dict, dict]:
    ops = first_pass(res)
    m = {k: 0.0 for k in PER_LAYER}
    m.update(res["setup"])
    for o in ops:
        for k, v in o.get("layers", {}).items():
            m[k] += v
    m["queries.build_s"] = _sum(ops, "build_s")
    m["collect.s"] = _sum(ops, "collect_s")
    m["collect.rows"] = _sum(ops, "rows_out")
    m["caching.released"] = _sum(ops, "released")
    writes = [o for o in ops if o.get("kind") == "write"]
    reads = [o for o in ops if o.get("kind") == "read"]
    upserts = [o for o in ops if o.get("kind") == "upsert"]
    m["sources.write_s"] = _sum(writes, "latency_s")
    m["sources.write_mb"] = _sum(writes, "bytes") / MB
    m["sources.files"] = _sum(writes, "files")
    m["sources.read_s"] = _sum(reads, "latency_s")
    m["operators.merge_upsert_s"] = _sum(upserts, "latency_s")
    rows_written = _sum(writes, "rows")
    if rows_written:
        m["sources.write_rows_s"] = rows_written / m["sources.write_s"]
        m["sources.stored_bytes_per_row"] = (_sum(writes, "bytes")
                                             / rows_written)
    if m["sources.read_s"]:
        m["sources.read_rows_s"] = _sum(reads, "rows") / m["sources.read_s"]
    m["memory.jvm_rss_mb"] = rss.peak["jvm"] / MB
    m["memory.python_rss_mb"] = rss.peak["python"] / MB
    work = _sum(ops, "wall_s")
    m["trace.work_s"] = work
    m["trace.overhead_s"] = res["trace_s"]
    m["trace.build_share"] = m["queries.build_s"] / work
    shares, other = [], 0.0
    for o in ops:
        parts = (o["build_s"] + o.get("layers", {}).get("exec.sql_s", 0.0)
                 + o["collect_s"])
        o["other_s"] = o["latency_s"] - parts
        other += o["other_s"]
        shares.append(abs(o["other_s"]) / o["latency_s"])
    m["trace.other_s"] = other
    m["trace.max_other_share"] = max(shares)
    counts = {k: len(ops) for k in m}
    counts.update({k: 1 for k in res["setup"]})
    counts.update({k: rss.samples for k in m if k.startswith("memory.")})
    return m, counts


def report(args, res, rss, envelope) -> dict:
    ops = res["ops"]
    failed = [o for o in ops if o["error"] or o["check"]]
    values, counts = (per_layer if args.trace else end_to_end)(res, rss)
    units = PER_LAYER if args.trace else END_TO_END
    for o in failed:
        print(f"# FAILED {o['op']}: {o['error'] or o['check']}")
    if args.trace:
        for o in first_pass(res):
            print(f"# op {o['op']}: latency {o['latency_s']:.3f} s = build "
                  f"{o['build_s']:.3f} + sql "
                  f"{o.get('layers', {}).get('exec.sql_s', 0):.3f} + collect "
                  f"{o['collect_s']:.3f} + other {o['other_s']:.3f}")
    for k, unit in units.items():
        print(f"{args.workload} {k} = {values[k]:.6g} {unit} "
              f"(n={counts[k]})")
    print(json.dumps({"envelope": envelope}))
    return {
        "correct": not failed,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": {k: {"value": values[k], "unit": u}
                    for k, u in units.items()},
    }


def run_one(args) -> dict:
    if not os.path.isdir(os.path.join(ROOT, "arrow_ballista_spark")):
        fail("the arrow_ballista_spark package is not beside perfbench/")
    for path in (FIXTURE_TOOL, CALIBRATE_TOOL, W.DATA_DIR):
        if not os.path.exists(path):
            fail(f"missing {os.path.relpath(path, ROOT)}")
    fixture = ensure_fixture() if args.workload == "etl_10x" else None
    cpus, heap = host_cpus(), driver_heap_mb()
    work = os.path.join(WORK_DIR, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    local_dirs = os.path.join(work, "local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local_dirs)
    os.makedirs(tmp)
    env = dict(os.environ,
               SPARK_GRAFT_CPUS=str(cpus), SPARK_DRIVER_MEM=f"{heap}m",
               SPARK_LOCAL_DIRS=local_dirs, TMPDIR=tmp,
               SPARK_GRAFT_UI="1" if args.trace else "0",
               SPARK_GRAFT_ORACLE_SF_DIR=W.DATA_DIR,
               PYSPARK_PYTHON=sys.executable,
               PYSPARK_DRIVER_PYTHON=sys.executable)
    env.pop("SPARK_MASTER", None)
    try:
        envelope = {"workload": args.workload, "seed": args.seed,
                    "trace": args.trace, "cpus": cpus,
                    "driver_heap_mb": heap,
                    "spark_local_dirs": os.path.relpath(local_dirs, ROOT),
                    **versions(), "anchors": anchors()}
        res, rss = run_child(args, work, fixture, env)
        if fixture:
            a = time.monotonic()
            etl_verify(res["ops"], fixture, cpus, tmp)
            res["check_s"] += time.monotonic() - a
        for k in ("passes", "steal_s", "check_s", "check_rss_mb"):
            envelope[k] = res[k]
        ops = first_pass(res)
        envelope["work_cpu_s"] = _sum(ops, "cpu_s")
        envelope["op_p50_s"], envelope["op_count"] = median_with_count(
            [o["latency_s"] for o in ops])
        envelope["peak_rss_mb"] = {k: v / MB for k, v in rss.peak.items()}
        return report(args, res, rss, envelope)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if os.path.isdir(WORK_DIR) and not os.listdir(WORK_DIR):
            os.rmdir(WORK_DIR)


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=[*W.WORKLOADS, "all"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    if args.workload != "all":
        print(json.dumps(run_one(args)))
        return
    results = {}
    for name in W.WORKLOADS:
        results[name] = run_one(argparse.Namespace(**{**vars(args),
                                                      "workload": name}))
    print(json.dumps({
        "correct": all(r["correct"] for r in results.values()),
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": sum(r["failed"] for r in results.values()),
        "metrics": {f"{w}.{k}": v for w, r in results.items()
                    for k, v in r["metrics"].items()},
    }))


if __name__ == "__main__":
    main()
