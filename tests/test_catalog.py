"""catalog: one cached scan per table per Spark application, keyed by the
table's absolute path and file listing, opened lazily and cleared with the
session memos."""

from __future__ import annotations

import os
import shutil

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from aws_saas_etl_spark import catalog
from aws_saas_etl_spark.catalog import (
    TABLES,
    load_table,
    load_tables,
    table_path,
    table_row_count,
)
from tests.conftest import SF_SMOKE


@pytest.fixture
def sf_copy(tmp_path):
    """A private, writable copy of the sf0.001 tables."""
    for name in TABLES:
        shutil.copy(table_path(SF_SMOKE, name), table_path(str(tmp_path), name))
    return str(tmp_path)


def _cached_tables(sf_dir: str) -> set[str]:
    root = os.path.abspath(sf_dir)
    return {
        os.path.basename(path)[: -len(".parquet")]
        for _app, path, _listing in catalog._SCANS
        if os.path.dirname(path) == root
    }


def test_repeat_load_returns_same_scan(spark):
    assert load_table(spark, SF_SMOKE, "orders") is load_table(spark, SF_SMOKE, "orders")
    # the key is the canonical path: a trailing slash does not alias
    assert load_table(spark, SF_SMOKE + "/", "orders") is load_table(
        spark, SF_SMOKE, "orders"
    )


def test_rewritten_table_gets_fresh_scan_and_count(spark, sf_copy):
    path = table_path(sf_copy, "nation")
    before = load_table(spark, sf_copy, "nation")
    assert table_row_count(spark, sf_copy, "nation") == 25

    pq.write_table(pq.read_table(path).slice(0, 3), path)

    after = load_table(spark, sf_copy, "nation")
    assert after is not before
    assert sorted(r.n_nationkey for r in after.collect()) == [0, 1, 2]
    assert table_row_count(spark, sf_copy, "nation") == 3


def test_lazy_namespace_opens_only_accessed_table(spark, sf_copy):
    t = load_tables(spark, sf_copy)
    assert _cached_tables(sf_copy) == set()
    orders = t.orders
    assert _cached_tables(sf_copy) == {"orders"}
    assert t.orders is orders is load_table(spark, sf_copy, "orders")
    with pytest.raises(AttributeError):
        t.not_a_table


def test_clear_session_memos_empties_scan_cache(spark):
    from aws_saas_etl_spark.session import clear_session_memos

    load_table(spark, SF_SMOKE, "region")
    table_row_count(spark, SF_SMOKE, "region")
    assert len(catalog._SCANS) and len(catalog._ROW_COUNTS)
    clear_session_memos()
    assert len(catalog._SCANS) == 0 and len(catalog._ROW_COUNTS) == 0


def test_self_join_through_two_loads_matches_duckdb(spark, duck):
    a = load_table(spark, SF_SMOKE, "nation")
    b = load_table(spark, SF_SMOKE, "nation")
    assert a is b
    got = (
        a.alias("a")
        .join(b.alias("b"), F.col("a.n_regionkey") == F.col("b.n_regionkey"))
        .where(F.col("a.n_nationkey") < F.col("b.n_nationkey"))
        .select(F.col("a.n_name").alias("l"), F.col("b.n_name").alias("r"))
    )
    want = duck.execute(
        "SELECT a.n_name AS l, b.n_name AS r FROM nation a JOIN nation b"
        " ON a.n_regionkey = b.n_regionkey WHERE a.n_nationkey < b.n_nationkey"
    ).fetchall()
    assert sorted((r.l, r.r) for r in got.collect()) == sorted(want)
    assert len(want) == 50  # 5 regions × C(5, 2) same-region pairs
