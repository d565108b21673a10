"""Pin for tools/plan_audit.py's operator inventory (VERDICT r05 #7).

The audit's ``shuffles`` column is a plan INVENTORY, not a lint — but a
counter that can go negative (the old code subtracted a doubled
BroadcastExchange count from a word count that never included it)
undermines trust in the numbers next to the lint.  These tests pin the
counting rule on plans whose shape is known by construction:

- a repartition + differently-keyed groupBy is exactly TWO shuffle
  Exchanges;
- a broadcast-joined plan has ZERO shuffle Exchanges (never -1), one
  BroadcastHashJoin, and its BroadcastExchange is not miscounted as a
  shuffle.

They also pin the extraction plan shapes: ``run_extraction`` over a
parquet pages table is the scan plus one Python stage with no shuffle,
and ``resolve_single_page`` leaves only its replacement pass in Python.
"""

from __future__ import annotations

import importlib.util
import os

import pytest

from graby_spark.session import get_spark

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_spec = importlib.util.spec_from_file_location(
    "plan_audit", os.path.join(REPO, "tools", "plan_audit.py")
)
plan_audit = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(plan_audit)


@pytest.fixture(scope="module")
def spark():
    session = get_spark(
        app_name="graby-plan-audit-tests", master="local[2]", shuffle_partitions=2
    )
    session.sparkContext.setLogLevel("ERROR")
    yield session


def test_two_shuffle_plan_counts_two(spark):
    from pyspark.sql import functions as F

    df = (
        spark.range(100)
        .withColumn("k", F.col("id") % 7)
        .withColumn("k2", F.col("id") % 3)
        .repartition(4, "k")
        .groupBy("k2")
        .count()
    )
    res = plan_audit.audit_one("two_shuffle", df)
    assert res["shuffles"] == 2, res
    assert res["violations"] == [], res


def test_broadcast_only_plan_counts_zero_not_negative(spark):
    from pyspark.sql import functions as F

    big = spark.range(100).withColumn("k", F.col("id") % 10)
    small = spark.range(10).select(F.col("id").alias("k"), F.lit("x").alias("v"))
    df = big.join(F.broadcast(small), "k")
    res = plan_audit.audit_one("broadcast_only", df)
    assert res["shuffles"] == 0, res
    assert res["joins"].get("BroadcastHashJoin") == 1, res
    assert res["violations"] == [], res


def test_python_stage_counted_once(spark):
    import pandas as pd

    def ident(batches):
        for b in batches:
            yield b

    df = spark.range(10).mapInPandas(ident, "id long")
    res = plan_audit.audit_one("one_py_stage", df)
    assert res["python_stages"] == 1, res


@pytest.fixture(scope="module")
def sf_dir(spark, tmp_path_factory):
    """A 40-row documents table in the testdata layout the page builders read."""
    path = tmp_path_factory.mktemp("sf")
    spark.range(40).selectExpr(
        "id AS doc_id",
        "concat('Article ', id, ' says the quick brown fox jumps over the lazy dog.') AS text",
        "'en' AS lang",
        "'synthetic' AS source",
        "60L AS n_chars",
    ).write.parquet(str(path / "documents.parquet"))
    return str(path)


def _pages_table(spark, build, sf_dir, tmp_path):
    path = str(tmp_path / "pages")
    build(spark, sf_dir).write.parquet(path)
    return spark.read.parquet(path)


def test_extraction_is_scan_order(spark, sf_dir, tmp_path):
    from graby_spark.job import run_extraction
    from graby_spark.pages import build_pages_df, pages_ruleset

    pages = _pages_table(spark, build_pages_df, sf_dir, tmp_path)
    res = plan_audit.audit_one("extract", run_extraction(spark, pages, pages_ruleset()))
    assert res["shuffles"] == 0, res
    assert res["python_stages"] == 1, res
    with pytest.raises(ValueError):
        run_extraction(spark, pages, pages_ruleset(), repartition=True)


def test_single_page_extracts_each_page_once(spark, sf_dir, tmp_path):
    """The replacement pass is the only Python stage left in the result:
    the input extraction is materialized once, not re-run by the
    candidate probe and again by the anti-join."""
    from graby_spark.job import resolve_single_page, run_extraction
    from graby_spark.pages import build_singlepage_pages_df, pages_ruleset

    pages = _pages_table(spark, build_singlepage_pages_df, sf_dir, tmp_path)
    extracted = run_extraction(spark, pages, pages_ruleset())
    final = resolve_single_page(spark, pages, extracted, pages_ruleset())
    res = plan_audit.audit_one("single_page", final)
    assert res["python_stages"] == 1, res
    assert final.count() == pages.count()  # each replaced row swapped, none doubled
