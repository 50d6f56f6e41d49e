"""The scale-adaptive scan respread (tables._maybe_respread): the
driver testdata is single-row-group parquet, so scans gain a keyed
repartition; any REAL multi-row-group / multi-file layout must gate
the condition FALSE and add no exchange (VERDICT r16 Next #6 — prove
the respread at the next layout up, not just assert it)."""

import os

import pyarrow.parquet as pq
import pytest

from rakam_api_spark.tables import load_table


@pytest.fixture(scope="module")
def multi_rg_dir(tmp_path_factory):
    """sf0.01 lineitem rewritten as a DIRECTORY of 16 files — the
    shape a production table presents.  (A small multi-row-group
    single file still scans as ONE byte-range split, so the respread
    correctly fires on it; multiple files are what raise the
    footer-estimated split count.)"""
    src = "/root/testdata/sf0.01/lineitem.parquet"
    if not os.path.exists(src):
        pytest.skip("sf0.01 testdata not present")
    d = tmp_path_factory.mktemp("layout") / "sf_multi"
    part_dir = d / "lineitem.parquet"
    part_dir.mkdir(parents=True)
    t = pq.read_table(src)
    step = max(1, t.num_rows // 16)
    for i in range(16):
        sl = t.slice(i * step, step if i < 15 else t.num_rows - 15 * step)
        if sl.num_rows:
            pq.write_table(sl, str(part_dir / f"part-{i:02d}.parquet"))
    return str(d)


def _n_repartitions(df):
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return plan.count("RepartitionByExpression")


def test_single_row_group_scan_gains_keyed_repartition(spark):
    n = pq.ParquetFile("/root/testdata/sf0.01/lineitem.parquet").metadata.num_row_groups
    if n != 1:
        pytest.skip("driver testdata no longer single-row-group")
    df = load_table(spark, "/root/testdata/sf0.01", "lineitem")
    assert _n_repartitions(df) == 1


def test_multi_file_scan_adds_no_exchange(spark, multi_rg_dir):
    files = os.listdir(os.path.join(multi_rg_dir, "lineitem.parquet"))
    assert len([f for f in files if f.endswith(".parquet")]) >= 8
    df = load_table(spark, multi_rg_dir, "lineitem")
    assert _n_repartitions(df) == 0


def test_multi_file_downstream_repartition_is_single_exchange(spark, multi_rg_dir):
    """A query that repartitions by a DIFFERENT key downstream must
    see exactly its own exchange on a real layout — the respread must
    not stack a second one under it."""
    df = load_table(spark, multi_rg_dir, "lineitem").repartition(8, "l_suppkey")
    assert _n_repartitions(df) == 1

