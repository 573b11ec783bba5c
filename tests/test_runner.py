"""tools/runner.py: the one loop behind bench.py and every parity sweep."""

from __future__ import annotations

import pytest

from rag_system_vector_db_spark.registry import ORACLES, QUERIES
from tests.oracle import duck_connection
from tools import runner

NAMES = ["dedup_exact", "agg_pricing_summary"]


@pytest.fixture
def cli(spark, monkeypatch):
    """runner.main on the test session instead of a fresh one."""
    monkeypatch.setattr(runner, "get_spark", lambda *a, **k: spark)
    return runner.main


def test_check_mode_matches(cli, sf_dir, capsys):
    assert cli(["check", "--sf", sf_dir, "--names", ",".join(NAMES)]) == 0
    out = capsys.readouterr().out
    assert [line.split()[1] for line in out.splitlines() if line.startswith("[")] == [
        "MATCH",
        "MATCH",
    ]
    assert "RUNNER DONE 2 entries, 0 failures" in out


def test_check_mode_reports_a_wrong_oracle(cli, sf_dir, capsys, monkeypatch):
    monkeypatch.setitem(ORACLES, NAMES[1], "SELECT 1 AS wrong")
    assert cli(["check", "--sf", sf_dir, "--names", ",".join(NAMES)]) != 0
    out = capsys.readouterr().out
    assert f"MISMATCH {NAMES[1]}" in out
    assert "RUNNER DONE 2 entries, 1 failures" in out


def test_time_mode_returns_one_positive_time_per_name(spark, sf_dir):
    results = runner.run(spark, sf_dir, NAMES, "time")
    assert list(results) == NAMES
    assert all(status == "TIME" and sec > 0 for status, sec in results.values())


def test_checksum_compare_rejects_float_columns(spark, sf_dir):
    df = spark.range(3).selectExpr("id * 0.5 AS x")
    with pytest.raises(TypeError, match="int/str columns"):
        runner.checksum_compare(df, duck_connection(sf_dir), "SELECT 0.5 AS x", "floaty")


def test_stamp_names_the_host(spark):
    rec = runner.stamp(spark)
    assert {"nproc", "mem_total_mb", "cpus", "driver_memory", "spark", "duckdb", "pyarrow"} <= rec.keys()
    assert rec["nproc"] >= 1 and rec["mem_total_mb"] > 0
    assert rec["duckdb"] and rec["pyarrow"]


@pytest.mark.parametrize("mode", ["check", "time"])
def test_jobs_carry_the_entry_name(spark, sf_dir, monkeypatch, mode):
    seen = []

    def stub(spark, sf_dir):
        seen.append(spark.sparkContext.getLocalProperty("spark.job.description"))
        return spark.sql("SELECT 1 AS x")

    monkeypatch.setitem(QUERIES, "stub_entry", stub)
    monkeypatch.setitem(ORACLES, "stub_entry", "SELECT 1 AS x")
    status, _ = runner.run(spark, sf_dir, ["stub_entry"], mode)["stub_entry"]
    assert status in runner.OK and seen and set(seen) == {"stub_entry"}
    assert spark.sparkContext.getLocalProperty("spark.job.description") is None
