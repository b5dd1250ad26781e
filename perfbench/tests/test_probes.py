"""Tests of the benchmark's own measurement code; no Spark session needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

from check import close_rows, compare, value_hash  # noqa: E402
from probes import (  # noqa: E402
    RssSampler,
    median_with_count,
    parse_metric,
    peak_rss_self_bytes,
    rss_bytes,
    steal_s,
    tree_cpu_s,
    tree_rss,
    valid_name,
    valid_unit,
)


@pytest.mark.parametrize("text, value, kind", [
    ("213 ms", 0.213, "s"),
    ("17.5 s", 17.5, "s"),
    ("2.1 m", 126.0, "s"),
    ("1.5 h", 5400.0, "s"),
    ("3.5 MiB", 3.5 * 2**20, "B"),
    ("1216.4 KiB", 1216.4 * 1024, "B"),
    ("0.0 B", 0.0, "B"),
    ("5,000", 5000.0, ""),
    ("1,234,567", 1234567.0, ""),
    ("total (min, med, max (stageId: taskId))\n"
     "17.5 s (4.2 s, 4.3 s, 5.0 s (stage 3.0: task 12))", 17.5, "s"),
    ("total (min, med, max (stageId: taskId))\n"
     "4.9 MiB (1216.4 KiB, 1249.7 KiB, 1360.0 KiB (stage 14.0: task 18))",
     4.9 * 2**20, "B"),
])
def test_parse_metric(text, value, kind):
    got, got_kind = parse_metric(text)
    assert got_kind == kind
    assert got == pytest.approx(value)


@pytest.mark.parametrize("text", ["", "n/a", "12 parsecs", "total (min)"])
def test_parse_metric_rejects(text):
    with pytest.raises(ValueError):
        parse_metric(text)


def test_median_and_sample_count():
    assert median_with_count([3.0, 1.0, 2.0]) == (2.0, 3)
    assert median_with_count([4.0, 1.0, 3.0, 2.0]) == (2.5, 4)
    assert median_with_count([7.5]) == (7.5, 1)
    with pytest.raises(ValueError):
        median_with_count([])


@pytest.mark.parametrize("name, ok", [
    ("setup_s", True), ("queries.build_s", True), ("exec.shuffle_read_mb", True),
    ("9lives", True), ("a" * 64, True), ("a" * 65, False), ("_x", False),
    (".x", False), ("has space", False), ("semi;colon", False), ("", False),
])
def test_metric_name_pattern(name, ok):
    assert valid_name(name) is ok


def test_unit_pattern():
    for unit in ("ms", "s", "1/s", "count", "MB", "%", "ratio"):
        assert valid_unit(unit)
    for unit in ("", "x" * 17, "m s", "µs"):
        assert not valid_unit(unit)


def test_declared_metric_names_and_units_are_valid():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        spec = json.load(f)
    import run

    declared = {m["name"]: m["unit"]
                for m in spec["end_to_end"] + spec["per_layer"]}
    assert declared == {**run.END_TO_END, **run.PER_LAYER}
    assert all(valid_name(n) and valid_unit(u) for n, u in declared.items())


def _fake_proc(root, procs, cpu_ticks=None):
    """A /proc look-alike: {pid: (ppid, comm, rss_kb)}, with
    {pid: (utime, stime, cutime, cstime)} in clock ticks."""
    for pid, (ppid, comm, rss_kb) in procs.items():
        d = root / str(pid)
        d.mkdir()
        ticks = " ".join(map(str, (cpu_ticks or {}).get(pid, (0,) * 4)))
        # pid (comm) state ppid pgrp session tty_nr tpgid flags minflt
        # cminflt majflt cmajflt utime stime cutime cstime priority ...
        (d / "stat").write_text(f"{pid} ({comm}) S {ppid} {pid} 0 0 -1 0 "
                                f"0 0 0 0 {ticks} 20 0 1\n")
        (d / "status").write_text(
            f"Name:\t{comm}\nVmPeak:\t1 kB\nVmRSS:\t{rss_kb} kB\n"
            f"VmHWM:\t{rss_kb + 7} kB\n")
    (root / "self").mkdir()
    (root / "self" / "status").write_text("VmRSS:\t10 kB\nVmHWM:\t12 kB\n")
    return str(root)


def test_tree_rss_splits_jvm_and_python(tmp_path):
    proc = _fake_proc(tmp_path, {
        10: (1, "python3", 100),        # the measured driver
        11: (10, "java", 2000),         # its JVM
        12: (11, "java", 2000),         # JVM spawning from its main thread
        16: (11, "Executor task l", 2000),  # ... from a task thread
        13: (11, "python3", 50),        # PySpark daemon
        14: (13, "python3", 30),        # a worker
        15: (11, "chmod", 1),           # a helper after exec
        20: (1, "python3", 999),        # not in the tree
    })
    parts = tree_rss(10, proc)
    assert parts == {"jvm": 2000 * 1024, "python": (100 + 50 + 30) * 1024}
    assert rss_bytes(12345, proc) == 0


def test_tree_cpu_sums_threads_and_reaped_children(tmp_path):
    tick = 1.0 / os.sysconf("SC_CLK_TCK")
    proc = _fake_proc(tmp_path, {
        10: (1, "python3", 1),
        11: (10, "my java", 1),   # a space in comm must not shift fields
        13: (11, "python3", 1),
        20: (1, "python3", 1),    # not in the tree
    }, cpu_ticks={10: (5, 1, 0, 0), 11: (300, 40, 7, 3),
                  13: (20, 2, 50, 6), 20: (999, 999, 999, 999)})
    assert tree_cpu_s(10, proc) == pytest.approx(
        (6 + 350 + 78) * tick)
    assert tree_cpu_s(11, proc) == pytest.approx((350 + 78) * tick)
    assert tree_cpu_s(12345, proc) == 0.0


def test_steal_and_peak_rss_readers(tmp_path):
    tick = 1.0 / os.sysconf("SC_CLK_TCK")
    proc = _fake_proc(tmp_path, {})
    (tmp_path / "stat").write_text(
        "cpu  2314738 0 111704 2005980 862 0 38624 22286 0 0\n"
        "cpu0 1 0 1 1 0 0 0 9 0 0\n")
    assert steal_s(proc) == pytest.approx(22286 * tick)
    assert peak_rss_self_bytes(proc) == 12 * 1024
    # the real ones: this process has used some CPU, and steal only grows
    assert tree_cpu_s(os.getpid()) > 0
    assert steal_s() >= 0
    assert peak_rss_self_bytes() >= rss_bytes(os.getpid())


def test_rss_of_a_real_process_tree():
    child = subprocess.Popen([sys.executable, "-c",
                              "import time; b = bytearray(64 << 20); "
                              "time.sleep(30)"])
    try:
        deadline = time.monotonic() + 20
        while rss_bytes(child.pid) < 64 << 20:
            assert time.monotonic() < deadline, "child never grew"
            time.sleep(0.05)
        with RssSampler(os.getpid(), interval_s=0.01) as s:
            time.sleep(0.1)
        assert s.samples >= 1
        assert s.peak["python"] >= (64 << 20) + rss_bytes(os.getpid()) // 2
        assert s.peak["total"] == s.peak["python"] + s.peak["jvm"]
    finally:
        child.kill()
        child.wait(timeout=10)
    assert child.poll() is not None


def test_value_hash_is_order_insensitive_and_rounds_floats():
    rows = [(1, "a", 0.123), (2, "b", 9.999)]
    h = value_hash(["k", "s", "f"], list(rows))
    assert h == value_hash(["k", "s", "f"], list(reversed(rows)))
    assert h == value_hash(["k", "s", "f"], [(1, "a", 0.1249),
                                             (2, "b", 9.9951)])
    # columns are taken in name order, so a permuted projection agrees
    assert h == value_hash(["f", "k", "s"], [(0.123, 1, "a"),
                                             (9.999, 2, "b")])
    assert h != value_hash(["k", "s", "f"], [(1, "a", 0.13), (2, "b", 9.99)])


def test_compare_names_the_cause():
    exp = {"rows": 2, "hash": "abc"}
    assert compare(exp, 2, "abc") is None
    assert "rows" in compare(exp, 3, "abc")
    assert "hash" in compare(exp, 2, "abd")
    assert compare(None, 2, "abc") == "no expected value stored"


def test_close_rows_tolerates_last_digit_float_noise():
    want = [["A", 1993, 10, 1.0e10, 3.0]]
    assert close_rows([["A", 1993, 10, 1.0e10 * (1 + 1e-12), 3.0]],
                      want) is None
    assert close_rows([["A", 1993, 10, 1.0e10 * (1 + 1e-6), 3.0]],
                      want) is not None
    assert close_rows([["A", 1993, 11, 1.0e10, 3.0]], want) is not None
    assert close_rows([], want) is not None


def test_value_hash_streams_the_joined_digest():
    import hashlib

    rows = [(2, "b"), (1, "a"), (3, None)]
    want = hashlib.md5("1|a\n2|b\n3|NULL".encode()).hexdigest()
    assert value_hash(["k", "s"], rows) == want
    assert rows == []  # consumed
    assert value_hash(["k"], []) == hashlib.md5(b"").hexdigest()


class _Rss:
    peak = {"total": 3e9, "jvm": 2e9, "python": 1e9}
    samples = 40


def test_end_to_end_takes_the_first_pass_only():
    import run

    def op(pass_no, wall):
        return {"pass": pass_no, "wall_s": wall, "latency_s": wall - 0.1}

    res = {"setup_s": 9.0, "passes": 2,
           "ops": [op(0, 2.0), op(0, 4.0), op(0, 1.0),
                   op(1, 0.5), op(1, 0.5), op(1, 0.5)]}
    values, counts = run.end_to_end(res, _Rss())
    assert values["work_s"] == pytest.approx(7.0)
    assert values["peak_python_rss_mb"] == pytest.approx(1000.0)
    assert counts["work_s"] == 3 and counts["peak_python_rss_mb"] == 40
    assert set(values) == set(run.END_TO_END)


def test_etl_verify_reads_upserted_snapshots_with_duckdb(tmp_path):
    duckdb = pytest.importorskip("duckdb")
    import workloads as W
    from check import etl_verify

    fixture = tmp_path / "fixture"
    fixture.mkdir()
    derived = fixture / W.ETL_DERIVED
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE d AS SELECT i AS lk, i * 1.5 AS revenue, "
        "i % 7 AS l_quantity, ['A', 'N', 'R'][i % 3 + 1] AS l_returnflag, "
        "1992 + i % 5 AS o_year, i % 11 AS o_custkey "
        "FROM range(2000) t(i)")
    con.execute(f"COPY d TO '{derived}' (FORMAT PARQUET)")
    seed = 5
    pick = W.upsert_pick(seed)

    def snapshot(name, scale):
        path = tmp_path / name
        con.execute(
            f"COPY (SELECT * FROM d WHERE NOT ({pick}) UNION ALL "
            f"SELECT * REPLACE (revenue * {scale} AS revenue) FROM d "
            f"WHERE {pick} UNION ALL SELECT * REPLACE (-lk AS lk) FROM d "
            f"WHERE {pick}) TO '{path}' "
            "(FORMAT PARQUET, PARTITION_BY (l_returnflag))")
        return str(path)

    ops = [{"op": "upsert_0", "key": seed, "snapshot": snapshot("ok", 1.1)},
           {"op": "upsert_1", "key": seed,
            "snapshot": snapshot("bad", 1.2)},
           {"op": "upsert_2", "key": seed, "error": "boom"}]
    con.close()
    etl_verify(ops, str(fixture), 1, str(tmp_path))
    assert ops[0]["check"] is None
    assert "expected" in ops[1]["check"]
    assert "check" not in ops[2]
    assert all("snapshot" not in o for o in ops)
