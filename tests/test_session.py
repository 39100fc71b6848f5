"""The local session's driver heap follows the host (no Spark needed)."""

from frankensearch_spark.session import driver_memory

GIB = 1 << 30


def test_driver_memory_is_a_quarter_of_the_host_capped_at_8g(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    assert driver_memory(15 * GIB) == "3840m"
    assert driver_memory(32 * GIB) == "8192m"
    assert driver_memory(256 * GIB) == "8192m"


def test_driver_memory_env_override_wins(monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEM", "12g")
    assert driver_memory(15 * GIB) == "12g"
