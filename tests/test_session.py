"""Session defaults must fit the machine the session runs on."""

import os

from website_to_agent_spark.session import (
    default_driver_memory, physical_memory_bytes)


def _bytes(size: str) -> int:
    return int(size[:-1]) << {"m": 20, "g": 30}[size[-1]]


def test_default_heap_fits_physical_memory(spark):
    """Without SPARK_DRIVER_MEM the driver heap is at most half of
    physical memory (a fixed 24g heap gets the JVM OOM-killed on a
    15 GB box); with it, the override is what the session got."""
    phys = physical_memory_bytes()
    assert 0 < _bytes(default_driver_memory()) <= phys // 2

    conf = spark.sparkContext.getConf().get("spark.driver.memory")
    override = os.environ.get("SPARK_DRIVER_MEM")
    if override:
        assert conf == override
    else:
        assert conf == default_driver_memory()
        runtime = spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
        assert runtime.maxMemory() <= phys // 2
