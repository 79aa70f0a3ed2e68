"""The default session is sized from the machine it runs on."""

from jmdfane_spark import session


def test_session_heap_fits_machine_memory(spark):
    """The heap the live session asked for never exceeds machine memory
    (a heap sized past physical memory grows until the JVM is killed)."""
    heap = spark.sparkContext.getConf().get("spark.driver.memory")
    to_bytes = spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes
    assert 0 < to_bytes(heap) < session.machine_memory_bytes()


def test_default_sizing_and_overrides(monkeypatch, tmp_path):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    machine = session.machine_memory_bytes()
    heap = session.default_driver_memory()
    assert heap.endswith("m") and 0 < int(heap[:-1]) * 2**20 <= machine // 2
    assert session.default_cpus() >= 1

    # a cgroup limit below MemTotal caps the heap; "max" means no limit
    limit, unlimited = tmp_path / "memory.max", tmp_path / "v2.max"
    limit.write_text(f"{2**30}\n")
    unlimited.write_text("max\n")
    monkeypatch.setattr(session, "CGROUP_MEMORY_LIMITS", (str(unlimited), str(limit)))
    assert session.machine_memory_bytes() == min(machine, 2**30)
    assert session.default_driver_memory() == f"{min(machine, 2**30) // 2 // 2**20}m"

    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert session.default_driver_memory() == "3g"
    assert session.default_cpus() == 3
