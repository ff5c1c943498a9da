"""The session contract on the shared fixture session: :func:`tune` sets
only runtime-modifiable confs and derives shuffle parallelism; launch
confs come from the builder."""

from __future__ import annotations

from tscan_spark.session import _RUNTIME_CONF, tune


def test_tune_sets_runtime_confs_and_derived_shuffle_partitions(spark):
    n = max(spark.sparkContext.defaultParallelism, 8)
    expected = {**_RUNTIME_CONF, "spark.sql.shuffle.partitions": str(n)}
    assert [k for k in expected if not spark.conf.isModifiable(k)] == []
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    tune(spark)
    assert {k: spark.conf.get(k) for k in expected} == expected
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
