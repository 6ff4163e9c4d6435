"""The session factory's launch-time contract (``dw_etl_spark.session``)."""

from __future__ import annotations


def test_driver_jvm_runs_c1_only(spark):
    """``get_spark`` launches the driver JVM with
    ``-XX:TieredStopAtLevel=1`` (C1 only, no profiling tier, no C2) and
    keeps tiered's 240 MB code cache, which C1-only would cut to 48 MB."""
    jvm = spark.sparkContext._jvm
    mf = jvm.java.lang.management.ManagementFactory
    assert "-XX:TieredStopAtLevel=1" in list(
        mf.getRuntimeMXBean().getInputArguments()
    )
    hotspot = mf.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    assert hotspot.getVMOption("TieredStopAtLevel").getValue() == "1"
    assert hotspot.getVMOption("ReservedCodeCacheSize").getValue() == str(240 << 20)
