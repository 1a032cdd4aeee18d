"""Defaults of the session factory that reach the driver JVM itself."""

from __future__ import annotations


def test_driver_jvm_has_fixed_young_generation(spark):
    """get_spark launches the driver with a fixed young generation, so the
    heap a job touches does not depend on G1's adaptive eden growth."""
    jvm = spark.sparkContext._jvm
    args = list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments())
    assert "-XX:NewRatio=5" in args
    assert spark.sparkContext.getConf().get("spark.driver.defaultJavaOptions") == "-XX:NewRatio=5"
