"""Tests of the benchmark itself: seeded inputs, job attribution, the
correctness gate and the span arithmetic.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import gen  # noqa: E402
import run as bench  # noqa: E402
import spans  # noqa: E402


def _digest(path: str) -> dict[str, str]:
    out = {}
    for root, _, names in os.walk(path):
        for n in sorted(names):
            p = os.path.join(root, n)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, path)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_same_seed_same_files_other_seed_other_files(tmp_path):
    small = gen.MedallionParams(rows=2_000, increment_rows=200)
    for seed, name in ((7, "a"), (7, "b"), (8, "c")):
        gen.write_medallion(str(tmp_path / name / "med"), seed, small)
        gen.write_catalog(str(tmp_path / name / "cat"), seed, 0.0005)
    a, b, c = (_digest(str(tmp_path / n)) for n in "abc")
    assert a == b
    assert a.keys() == c.keys()
    assert all(a[k] != c[k] for k in a if "region" not in k and "nation" not in k)


def test_medallion_inputs_carry_the_stated_hazards(tmp_path):
    import duckdb

    p = gen.MedallionParams(rows=20_000, increment_rows=2_000)
    info = gen.write_medallion(str(tmp_path), 3, p)
    assert info["rows"] == p.rows and info["input_bytes"] > 0
    con = duckdb.connect()
    bronze = f"read_parquet('{tmp_path}/bronze/events.parquet')"
    nulls, dups, months, days = con.sql(
        f"SELECT count(*) FILTER (WHERE value IS NULL OR event_type IS NULL), "
        f"count(*) - count(DISTINCT (user_id, ts)), "
        f"count(DISTINCT date_trunc('month', ts)), count(DISTINCT ts::DATE) "
        f"FROM {bronze}").fetchone()
    assert nulls == pytest.approx(p.rows * p.null_rate, rel=0.2)
    assert dups == pytest.approx(p.rows * p.dup_rate, rel=0.05)
    assert months == p.months and days == p.months * p.days_per_month
    late = con.sql(
        f"SELECT count(*) FROM read_parquet('{tmp_path}/increments/*.parquet') "
        f"WHERE ts < TIMESTAMP '{p.start}-01' + INTERVAL {p.months} MONTH").fetchone()[0]
    assert late == pytest.approx(p.increments * p.increment_rows * p.late_rate, rel=0.3)


def test_self_time_subtracts_the_union_of_children():
    S = spans.Span
    recorded = [
        S(0, "op.x", 0.0, 10.0, None, "1:x", {}),
        S(1, "plans.build", 1.0, 5.0, 0, "1:x", {}),
        S(2, "sources.load_table", 2.0, 3.0, 1, "1:x", {}),
        S(3, "sinks.write_table", 4.0, 8.0, 0, "1:x", {}),
    ]
    got = spans.self_times(recorded)
    assert got == {"op.x": 3.0, "plans.build": 3.0,
                   "sources.load_table": 1.0, "sinks.write_table": 4.0}


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ["SPARK_GRAFT_CPUS"] = "2"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp_path_factory.mktemp("spark-local"))
    from data_pipelines_using_llm_spark.session import get_spark

    s = get_spark("perfbench-test")
    yield s
    s.stop()


def test_jobs_and_bytes_belong_to_their_operation_only(spark, tmp_path):
    import counters
    from data_pipelines_using_llm_spark.registry import all_queries

    gen.write_catalog(str(tmp_path), 1, 0.001)
    reg = all_queries()
    c = counters.SparkCounters(spark)
    seen_before = set(c.job_ids(["pb-a", "pb-b"]))
    assert not seen_before
    for group, row in (("pb-a", "q1_pricing_summary"), ("pb-b", "monthly_event_gold")):
        c.set_group(group)
        reg[row].fn(spark, str(tmp_path)).write.format("noop").mode("overwrite").save()
    spark.sparkContext.setJobGroup("pb-none", "pb-none")
    a, b = c.job_ids(["pb-a"]), c.job_ids(["pb-b"])
    assert a and b and not set(a) & set(b)
    for group, ids in (("pb-a", a), ("pb-b", b)):
        for jid in ids:
            assert c.store.job(jid).jobGroup().get() == group
    sa, sb = c.summarize(a, 60.0), c.summarize(b, 60.0)
    # q1 scans lineitem, monthly gold scans events: each op's input bytes
    # are its own table's bytes read, never the other's.
    li = os.path.getsize(tmp_path / "lineitem.parquet")
    ev = os.path.getsize(tmp_path / "events.parquet")
    assert 0 < sa["spark.input_bytes"] <= li * 1.5
    assert 0 < sb["spark.input_bytes"] <= ev * 1.5
    assert sa["spark.jobs"] == len(a) and sa["spark.tasks"] >= sa["spark.stages"] > 0
    assert sa["spark.exec_s"] + sa["spark.driver_gap_s"] == pytest.approx(60.0)


def test_corrupted_output_fails_the_run():
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "query_build",
         "--seed", "1", "--seconds", "1", "--trace", "0", "--corrupt-output"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode != 0
    last = json.loads(proc.stdout.strip().splitlines()[-1])
    assert last["correct"] is False and last["failed"] >= 1
