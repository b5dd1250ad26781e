"""One measured benchmark run, in a fresh process.

Started by ``run.py`` with the run's environment (cpus, heap, local dirs,
temp dir) already set and a scratch directory as its working directory.
It sets up the engine, runs whole passes of the workload's ops in a closed
loop with one client until ``--seconds`` have been measured, checks every
op's output outside the timed region, stops Spark and waits for its JVM,
and prints one JSON line with what it measured: per op its wall time and
the CPU time its process tree (this interpreter, the JVM, the PySpark
daemon and workers) used, and the steal the host took meanwhile.

With ``--trace 1`` it also reads Spark's own records of every op (the
REST API of the UI, the listener bus and the QueryPlanningTracker) and
splits each op's wall time into layers.
"""

from __future__ import annotations

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

from check import compare, load_expected, value_hash  # noqa: E402
from probes import (  # noqa: E402
    parse_metric,
    peak_rss_self_bytes,
    steal_s,
    tree_cpu_s,
)
import workloads as W  # noqa: E402

MB = 1e6

#: SQL metric names of the Python-worker nodes (MapInArrow, ArrowEvalPython
#: and friends), mapped to the per-layer metric they add to.
PYTHON_NODE_METRICS = {
    "time to start Python workers": "operators.python_boot_s",
    "time to initialize Python workers": "operators.python_init_s",
    "time to run Python workers": "operators.python_run_s",
    "data sent to Python workers": "operators.python_sent_mb",
    "data returned from Python workers": "operators.python_recv_mb",
}

#: REST stage fields summed into exec.* (field, metric, scale to the unit).
STAGE_FIELDS = (
    ("numTasks", "exec.tasks", 1),
    ("executorRunTime", "exec.run_s", 1e-3),
    ("executorCpuTime", "exec.cpu_s", 1e-9),
    ("jvmGcTime", "exec.gc_s", 1e-3),
    ("shuffleWriteBytes", "exec.shuffle_write_mb", 1 / MB),
    ("shuffleReadBytes", "exec.shuffle_read_mb", 1 / MB),
    ("shuffleFetchWaitTime", "exec.shuffle_wait_s", 1e-3),
    ("diskBytesSpilled", "exec.spill_mb", 1 / MB),
)


class Tracer:
    """Reads Spark's records of one op after it has finished.

    Every Spark job an op starts carries the job group ``<tag>:build`` or
    ``<tag>:run``; the job description it sets also names every SQL
    execution the op starts, including the plan-build actions that are
    not the returned frame's plan."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.base = (f"{self.sc.uiWebUrl}/api/v1/applications/"
                     f"{self.sc.applicationId}")
        self.sql_seen = len(self._get("/sql?details=false&length=1000000"))

    def _get(self, path: str):
        import urllib.request

        with urllib.request.urlopen(self.base + path, timeout=60) as r:
            return json.load(r)

    def group(self, tag: str, phase: str) -> None:
        self.sc.setJobGroup(f"{tag}:{phase}", f"{tag}:{phase}")

    def layers(self, tag: str, df) -> dict:
        """Per-layer record of the op whose jobs carry ``tag``."""
        for key in ("spark.jobGroup.id", "spark.job.description"):
            self.sc.setLocalProperty(key, None)
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        out: dict[str, float] = {}
        groups = {f"{tag}:build": "build", f"{tag}:run": "run"}

        execs = self._get("/sql?details=true&planDescription=false"
                          f"&offset={self.sql_seen}&length=1000000")
        self.sql_seen += len(execs)
        for e in execs:
            phase = groups.get(e["description"])
            if phase is None:
                continue
            if phase == "run":
                out["exec.sql_s"] = (out.get("exec.sql_s", 0.0)
                                     + e["duration"] / 1e3)
            seen_nodes = set()
            for node in e["nodes"]:
                if node["nodeId"] in seen_nodes:
                    continue
                seen_nodes.add(node["nodeId"])
                for m in node["metrics"]:
                    key = PYTHON_NODE_METRICS.get(m["name"])
                    if key is None:
                        continue
                    value, kind = parse_metric(m["value"])
                    out[key] = out.get(key, 0.0) + (
                        value / MB if kind == "B" else value)

        stage_ids = set()
        for j in self._get("/jobs"):
            phase = groups.get(j.get("jobGroup"))
            if phase is None:
                continue
            out["exec.jobs"] = out.get("exec.jobs", 0) + 1
            if phase == "build":
                out["queries.build_jobs"] = out.get("queries.build_jobs",
                                                    0) + 1
            stage_ids.update(j["stageIds"])
        for s in self._get("/stages"):
            if s["stageId"] not in stage_ids or s["status"] == "SKIPPED":
                continue
            out["exec.stages"] = out.get("exec.stages", 0) + 1
            for field, key, scale in STAGE_FIELDS:
                out[key] = out.get(key, 0.0) + s.get(field, 0) * scale

        if df is not None:
            phases = df._jdf.queryExecution().tracker().phases()
            for name in ("analysis", "optimization", "planning"):
                opt = phases.get(name)
                if not opt.isEmpty():
                    out[f"catalyst.{name}_ms"] = float(
                        opt.get().durationMs())
        return out


class Run:
    """State of one run: the session and the record of every op."""

    def __init__(self, args, spark, reg, sf_dir):
        self.args = args
        self.spark = spark
        self.reg = reg
        self.sf_dir = sf_dir
        self.tracer = Tracer(spark) if args.trace else None
        self.ops: list[dict] = []
        self.pass_no = 0
        self.check_s = 0.0
        #: how much the output checks raised this interpreter's peak RSS
        self.check_rss_bytes = 0
        self.trace_s = 0.0

    def op(self, tag: str, build, action) -> dict:
        """Time ``build()`` (the frame) and ``action(frame)``; returns the
        op record, with the error if either raised."""
        from arrow_ballista_spark.operators.caching import release_caches

        rec = {"op": tag, "pass": self.pass_no, "error": None,
               "check": None, "collect_s": 0.0}
        tr = self.tracer
        tag = f"{len(self.ops)}-{tag}"  # job groups must not repeat
        me = os.getpid()
        cpu0 = tree_cpu_s(me)
        t0 = time.monotonic()
        df = None
        try:
            if tr:
                tr.group(tag, "build")
            df = build()
            t1 = time.monotonic()
            if tr:
                tr.group(tag, "run")
            result, rec["collect_s"] = action(df)
            t2 = time.monotonic()
        except Exception as e:  # noqa: BLE001 -- an op failure is a result
            t1 = t2 = time.monotonic()
            result = None
            rec["error"] = f"{type(e).__name__}: {e}"[:500]
        released = release_caches()
        t3 = time.monotonic()
        rec.update(wall_s=t3 - t0, latency_s=t2 - t0, build_s=t1 - t0,
                   action_s=t2 - t1, cpu_s=tree_cpu_s(me) - cpu0,
                   released=released, result=result,
                   rows_out=len(result) if result is not None else 0)
        if tr:
            a = time.monotonic()
            try:
                rec["layers"] = tr.layers(tag, df)
            finally:
                self.trace_s += time.monotonic() - a
        self.ops.append(rec)
        return rec

    def collect(self, df):
        """``DataFrame.collect`` split in two: the JVM action, then the
        driver materialisation (reading and unpickling the rows), whose
        time is returned with the rows."""
        from pyspark.rdd import _load_from_socket
        from pyspark.serializers import BatchedSerializer, CPickleSerializer
        from pyspark.traceback_utils import SCCallSiteSync

        with SCCallSiteSync(self.spark.sparkContext):
            sock = df._jdf.collectToPython()
        t0 = time.monotonic()
        rows = list(_load_from_socket(
            sock, BatchedSerializer(CPickleSerializer())))
        return rows, time.monotonic() - t0

    # --- registry workloads -------------------------------------------------

    def registry_op(self, name: str, expected: dict) -> None:
        qd = self.reg[name]
        rec = self.op(name, lambda: qd.spark(self.spark, self.sf_dir),
                      self.collect)
        rows = rec.pop("result")
        if rows is None:
            return
        a, hwm = time.monotonic(), peak_rss_self_bytes()
        cols = list(rows[0].__fields__) if rows else []
        n = len(rows)
        rec["check"] = compare(expected.get(name), n, value_hash(cols, rows))
        self.check_rss_bytes += peak_rss_self_bytes() - hwm
        self.check_s += time.monotonic() - a

    # --- etl_10x --------------------------------------------------------------

    def etl_pass(self, out_dir: str) -> None:
        from pyspark.sql import functions as F

        from arrow_ballista_spark.operators.merge import merge_upsert
        from arrow_ballista_spark.sources.readers import read_parquet
        from arrow_ballista_spark.sources.writers import write_parquet

        spark = self.spark
        part = ["l_returnflag"]

        def write(path):
            def action(df):
                write_parquet(df, path, partition_by=part)
                return None, 0.0
            return action

        def readback(path):
            def build():
                read_parquet(spark, path).createOrReplaceTempView("snap")
                return spark.sql(W.ETL_READBACK_SQL.format(src="snap"))
            return build

        for r in range(W.ETL_ROUNDS):
            seed = self.args.seed + self.pass_no * W.ETL_ROUNDS + r
            snap = os.path.join(out_dir, f"snap_{self.pass_no}_{r}")
            upserted = snap + "_upserted"

            rec = self.op(f"write_{r}",
                          lambda: spark.sql(W.ETL_DERIVE_SQL), write(snap))
            rec.update(kind="write", path=snap, key=None)
            rec.pop("result")

            rec = self.op(f"read_{r}", readback(snap), self.collect)
            rec.update(kind="read", key=None, read_back=rec.pop("result"))

            def build_upsert(snap=snap, seed=seed):
                base = read_parquet(spark, snap)
                picked = base.filter(W.upsert_pick(seed))
                updates = picked.withColumn(
                    "revenue", F.col("revenue") * F.lit(1.1)
                ).unionByName(picked.withColumn("lk", -F.col("lk")))
                return merge_upsert(base, updates, "lk")

            # run.py checks the upserted snapshot with DuckDB after this
            # process has exited, so its read-back is neither timed nor
            # counted in the run's memory
            rec = self.op(f"upsert_{r}", build_upsert, write(upserted))
            rec.update(kind="upsert", path=upserted, key=seed)
            rec.pop("result")

    def etl_sizes(self) -> None:
        """Rows, bytes and files each write left on disk.  A write's rows
        are the rows its snapshot's read-back counted."""
        a = time.monotonic()
        last_write = None
        for rec in self.ops:
            if rec["error"]:
                continue
            if "read_back" in rec:
                rec["read_back"] = [list(r) for r in rec["read_back"]]
                rows = sum(r[2] for r in rec["read_back"])
                if rec["kind"] == "read" and last_write is not None:
                    last_write["rows"] = rows
                rec["rows"] = rows
            if rec["kind"] in ("write", "upsert"):
                last_write = rec
                size = files = 0
                path = rec.pop("path")
                if rec["kind"] == "upsert":
                    rec["snapshot"] = path
                for d, _dirs, names in os.walk(path):
                    for f in names:
                        if f.endswith(".parquet"):
                            size += os.path.getsize(os.path.join(d, f))
                            files += 1
                rec.update(bytes=size, files=files)
        self.check_s += time.monotonic() - a


def stop_spark(spark) -> None:
    """Stop the session, then close the gateway and wait for its JVM."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        proc.wait(timeout=60)


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=W.WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--work", required=True)
    p.add_argument("--fixture")
    args = p.parse_args()

    setup: dict[str, float] = {}
    steal0 = steal_s()
    extra = {
        "spark.sql.warehouse.dir": os.path.join(args.work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} "
            f"-Dderby.system.home={os.path.join(args.work, 'derby')} "
            "-XX:-UsePerfData"
        ),
    }
    if args.trace:
        for k in ("spark.ui.retainedJobs", "spark.ui.retainedStages",
                  "spark.sql.ui.retainedExecutions"):
            extra[k] = "1000000"
    from arrow_ballista_spark.session import get_session

    spark = get_session(app_name=f"perfbench-{args.workload}",
                        extra_conf=extra)
    t = time.monotonic()
    setup["session.start_s"] = t - T_START
    try:
        from arrow_ballista_spark.catalog import ALL_TABLES, register_tables
        from arrow_ballista_spark.queries import load_all

        reg = load_all()
        setup["queries.load_s"] = time.monotonic() - t
        t = time.monotonic()
        etl = args.workload == "etl_10x"
        sf_dir = args.fixture if etl else W.DATA_DIR
        register_tables(spark, sf_dir, W.ETL_TABLES if etl else ALL_TABLES)
        setup["catalog.register_s"] = time.monotonic() - t
        t = time.monotonic()
        spark.sql("SELECT COUNT(*) FROM lineitem").collect()
        setup["catalog.first_scan_s"] = time.monotonic() - t
        setup_s = time.monotonic() - T_START

        steal = {"setup": steal_s() - steal0}

        run = Run(args, spark, reg, sf_dir)
        expected = {} if etl else load_expected()
        names = [] if etl else W.REGISTRY_WORKLOADS[args.workload]
        t_work = time.monotonic()
        # The metrics come from the first pass alone, so that what they
        # measure does not change with the program's speed.  Later passes,
        # run only while less than --seconds has been measured, are
        # checked like the first.
        while True:
            a = steal_s()
            if etl:
                run.etl_pass(os.path.join(args.work, "out"))
            else:
                for name in names:
                    run.registry_op(name, expected)
            steal.setdefault("first_pass", steal_s() - a)
            run.pass_no += 1
            measured = (time.monotonic() - t_work - run.check_s
                        - run.trace_s)
            if measured >= args.seconds:
                break
        if etl:
            run.etl_sizes()
    finally:
        stop_spark(spark)

    for rec in run.ops:
        rec.pop("result", None)
        rec.pop("path", None)
    print(json.dumps({
        "setup_s": setup_s,
        "setup": setup,
        "passes": run.pass_no,
        "steal_s": steal,
        "check_s": run.check_s,
        "check_rss_mb": run.check_rss_bytes / MB,
        "trace_s": run.trace_s,
        "ops": run.ops,
    }))


if __name__ == "__main__":
    main()
