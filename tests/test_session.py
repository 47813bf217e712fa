"""Session factory settings that the compile path depends on."""

from __future__ import annotations


def test_dataframe_debugging_disabled(spark):
    # pyspark's per-call call-site capture multiplies the Py4J round trips
    # of SPARQL compilation; get_spark switches it off
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
