"""r11 scan fan-out contract: OPT-IN per call site, default off.

The r10 blanket fan-out repartitioned every loaded table in every
query (driver geomean 0.863 vs r9) and suppressed runtime bloom-filter
injection engine-wide; r11 made it a per-call-site decision backed by
a full-bench A/B. These tests pin the contract so a future blanket
regression (either direction) is caught structurally.
"""

from __future__ import annotations

import os
import shutil

import pytest

from movie_rankings_spark.catalog import _SCAN_PARTS_CACHE, load_table
from movie_rankings_spark.plans.relational_queries import sql_api_pricing_summary

SF_DIR = "/root/testdata/sf0.001"
#: big enough to clear _FANOUT_MIN_BYTES at sf0.001 (117 KB)
TABLE = "lineitem"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(autouse=True)
def _default_mode(monkeypatch):
    monkeypatch.delenv("MRS_SCAN_FANOUT", raising=False)


def test_default_load_is_bare_scan(spark):
    plan = _plan(load_table(spark, SF_DIR, TABLE))
    assert "REPARTITION_BY_NUM" not in plan


def test_fanout_opt_in_adds_keyed_repartition(spark):
    plan = _plan(load_table(spark, SF_DIR, TABLE, fanout=True))
    assert "REPARTITION_BY_NUM" in plan
    # keyed (deterministic, retry-safe), not round-robin
    assert "hashpartitioning(l_orderkey" in plan


def test_fanout_env_kill_switch(spark, monkeypatch):
    monkeypatch.setenv("MRS_SCAN_FANOUT", "0")
    plan = _plan(load_table(spark, SF_DIR, TABLE, fanout=True))
    assert "REPARTITION_BY_NUM" not in plan


def test_fanout_env_blanket_mode(spark, monkeypatch):
    monkeypatch.setenv("MRS_SCAN_FANOUT", "all")
    plan = _plan(load_table(spark, SF_DIR, TABLE))
    assert "REPARTITION_BY_NUM" in plan


def test_fanout_skips_dimension_sized_files(spark):
    # region is 1.9 KB — under _FANOUT_MIN_BYTES even when opted in
    plan = _plan(load_table(spark, SF_DIR, "region", fanout=True))
    assert "REPARTITION_BY_NUM" not in plan


def _scan_copy(tmp_path):
    """A private copy of the fan-out table, so memo entries are this test's."""
    path = tmp_path / f"{TABLE}.parquet"
    shutil.copyfile(os.path.join(SF_DIR, f"{TABLE}.parquet"), path)
    return str(tmp_path)


def test_fanout_memo_tracks_split_size_confs(spark, tmp_path):
    sf = _scan_copy(tmp_path)
    assert "REPARTITION_BY_NUM" in _plan(load_table(spark, sf, TABLE, fanout=True))
    # splits this small cut the file into twice as many partitions as
    # cores, so the scan is wide enough without the exchange
    cores = spark.sparkContext.defaultParallelism
    split = str(os.path.getsize(os.path.join(sf, f"{TABLE}.parquet")) // (2 * cores))
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", split)
        spark.conf.set("spark.sql.files.openCostInBytes", split)
        plan = _plan(load_table(spark, sf, TABLE, fanout=True))
    finally:
        spark.conf.unset("spark.sql.files.maxPartitionBytes")
        spark.conf.unset("spark.sql.files.openCostInBytes")
    assert "REPARTITION_BY_NUM" not in plan


def test_fanout_memo_reprobes_rewritten_file(spark, tmp_path):
    sf = _scan_copy(tmp_path)
    path = os.path.join(sf, f"{TABLE}.parquet")

    def probes():
        return {k for k in _SCAN_PARTS_CACHE if k[0] == path}

    load_table(spark, sf, TABLE, fanout=True)
    first = probes()
    # same bytes, same size: only the mtime tells the rewrite apart
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    load_table(spark, sf, TABLE, fanout=True)
    assert len(first) == 1 and len(probes()) == 2


def test_sql_surface_leaves_plain_lineitem_view(spark):
    df = sql_api_pricing_summary(spark, SF_DIR)
    assert "REPARTITION_BY_NUM" in _plan(df)
    assert df.count() > 0
    later = spark.sql("SELECT count(*) FROM lineitem")
    assert "REPARTITION" not in _plan(later)
