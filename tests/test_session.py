"""Engine defaults that are decided without starting a JVM."""

from gp_ann_spark.session import driver_memory


def _meminfo(tmp_path, total_kb):
    path = tmp_path / "meminfo"
    path.write_text(f"MemFree:         1000 kB\nMemTotal:       {total_kb} kB\nSwapTotal:  0 kB\n")
    return str(path)


def test_driver_memory_is_half_the_ram_at_most_48g(tmp_path, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert driver_memory(_meminfo(tmp_path, 16 << 20)) == "8192m"
    assert driver_memory(_meminfo(tmp_path, 15_990_000)) == "7807m"
    assert driver_memory(_meminfo(tmp_path, 256 << 20)) == "49152m"


def test_driver_memory_env_overrides_meminfo(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert driver_memory(str(tmp_path / "absent")) == "3g"
