"""The package's environment knobs are a closed set: adding a
``SPARK_GRAFT_*`` variable to ``rdflib_r2r_spark/`` must update this list,
so every new knob shows up as a reviewed diff."""

import pathlib
import re

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "rdflib_r2r_spark"

KNOBS = {
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_SHUFFLE_PARTS",
    "SPARK_GRAFT_JAVA_OPTS",
    "SPARK_GRAFT_MAX_PART_BYTES",
    "SPARK_GRAFT_PARQUET_CODEC",
    "SPARK_GRAFT_LM_KERNEL",
}


def test_package_knobs_are_the_declared_set():
    found = {
        m
        for path in PACKAGE.rglob("*.py")
        for m in re.findall(r"SPARK_GRAFT_[A-Z_]+", path.read_text(encoding="utf-8"))
    }
    assert found == KNOBS
