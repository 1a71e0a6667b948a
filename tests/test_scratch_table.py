"""sinks.scratch_table — the parquet-round-trip alternative to .persist()
for wide multi-consumer intermediates (the columnar cache build measured
3.2x slower and anti-scaling at local[32]; numbers in the docstring)."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from cpg_spark.session import SCRATCH_DIR_CONF
from cpg_spark.sinks import scratch_table


def test_scratch_table_roundtrip_and_pruning(spark, tmp_path):
    df = spark.range(1000).select(
        F.col("id"),
        (F.col("id") * 2).alias("x"),
        F.concat(F.lit("v"), F.col("id")).alias("s"),
    )
    scan, path = scratch_table(df, "t", base=str(tmp_path))
    try:
        assert scan.count() == 1000
        assert scan.columns == ["id", "x", "s"]
        assert scan.filter(F.col("id") == 7).collect()[0]["s"] == "v7"
        # the scan is a real parquet source: column pruning reaches the
        # file scan (ReadSchema lists only the projected column)
        plan = scan.select("x")._jdf.queryExecution().executedPlan().toString()
        assert "ReadSchema" in plan and "struct<x:bigint>" in plan
        assert os.path.isdir(path)
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_scratch_table_base_env(spark, tmp_path):
    """The default base is the session's ``spark.cpg.scratchDir``."""
    old = spark.conf.get(SCRATCH_DIR_CONF, None)
    spark.conf.set(SCRATCH_DIR_CONF, str(tmp_path / "scr"))
    try:
        scan, path = scratch_table(spark.range(5), "env")
    finally:
        if old is None:
            spark.conf.unset(SCRATCH_DIR_CONF)
        else:
            spark.conf.set(SCRATCH_DIR_CONF, old)
    assert path.startswith(str(tmp_path / "scr"))
    assert scan.count() == 5
