"""Default driver heap: derived from the memory the process may use,
overridable with SPARK_GRAFT_DRIVER_MEM."""

from glaredb_spark import session

GIB = 1 << 30


def test_heap_is_a_quarter_of_usable_memory_in_whole_gib():
    assert session.driver_heap_for(int(15.7 * GIB)) == "3g"
    assert session.driver_heap_for(64 * GIB) == "16g"


def test_heap_is_clamped_to_1g_and_48g():
    assert session.driver_heap_for(2 * GIB) == "1g"
    assert session.driver_heap_for(192 * GIB) == "48g"
    assert session.driver_heap_for(1024 * GIB) == "48g"


def test_cgroup_limit_lowers_the_usable_memory(tmp_path, monkeypatch):
    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": 16 * GIB // 4096}
    monkeypatch.setattr(session.os, "sysconf", pages.__getitem__)
    v2, v1 = tmp_path / "memory.max", tmp_path / "memory.limit_in_bytes"
    monkeypatch.setattr(session, "_CGROUP_MEMORY_LIMITS", (str(v2), str(v1)))
    assert session._usable_memory_bytes() == 16 * GIB  # no cgroup files
    v2.write_text("max\n")
    v1.write_text("9223372036854771712\n")  # v1's "no limit"
    assert session._usable_memory_bytes() == 16 * GIB
    v2.write_text(f"{6 * GIB}\n")
    assert session._usable_memory_bytes() == 6 * GIB
    assert session.driver_heap_for(session._usable_memory_bytes()) == "1g"


def test_env_override_is_used_unchanged(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "5000m")
    assert session.driver_memory() == "5000m"
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM")
    assert session.driver_memory() == session.driver_heap_for(
        session._usable_memory_bytes()
    )


def test_session_launched_with_the_default(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.driver.memory") == session.driver_memory()
