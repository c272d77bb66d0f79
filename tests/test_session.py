"""get_spark's driver heap: sized to the host unless given."""

import os

from hgt2osm2_spark.session import default_driver_memory


def test_default_driver_memory_is_half_the_host_at_most_24g():
    mb = int(default_driver_memory().removesuffix("m"))
    assert 0 < mb <= 24 * 1024
    if os.path.exists("/proc/meminfo"):
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f
                      if line.startswith("MemTotal:"))
        assert mb <= kb // 2048


def test_explicit_driver_memory_wins(spark):
    # the session fixture passes driver_memory="8g"
    assert spark.sparkContext.getConf().get("spark.driver.memory") == "8g"
