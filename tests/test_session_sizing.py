"""Driver-heap sizing from the host's memory limit (no JVM needed)."""

import os

from lab02_citation_matching_and_entity_resolution_spark.session import (
    cgroup_limit_files,
    driver_memory,
    tmpfs_local_dir,
)

GIB = 1024**3
V1_UNLIMITED = 9223372036854771712


def _limit_file(tmp_path, name, text):
    path = tmp_path / name
    path.write_text(text + "\n")
    return str(path)


def _mib(setting):
    assert setting.endswith("m"), setting
    return int(setting[:-1])


def test_small_host_gets_at_most_half_its_limit(tmp_path):
    limit = int(15.7 * GIB)
    v2 = _limit_file(tmp_path, "memory.max", str(limit))
    mem = driver_memory(env={}, limit_files=[("cgroup v2", v2)], physical_ram=lambda: 64 * GIB)
    assert mem.source == "cgroup v2"
    assert mem.limit_bytes == limit
    assert 0 < _mib(mem.setting) * 1024**2 <= limit // 2


def test_large_host_keeps_48g(tmp_path):
    v1 = _limit_file(tmp_path, "memory.limit_in_bytes", str(128 * GIB))
    mem = driver_memory(env={}, limit_files=[("cgroup v1", v1)], physical_ram=lambda: 256 * GIB)
    assert mem.source == "cgroup v1"
    assert _mib(mem.setting) == 48 * 1024


def test_unlimited_cgroups_fall_back_to_physical_ram(tmp_path):
    files = [
        ("cgroup v2", _limit_file(tmp_path, "memory.max", "max")),
        ("cgroup v1", _limit_file(tmp_path, "memory.limit_in_bytes", str(V1_UNLIMITED))),
        ("cgroup v2", str(tmp_path / "absent" / "memory.max")),
    ]
    ram = int(15.7 * GIB)
    mem = driver_memory(env={}, limit_files=files, physical_ram=lambda: ram)
    assert mem.source == "physical RAM"
    assert mem.limit_bytes == ram
    assert _mib(mem.setting) == ram // 2 // 1024**2


def test_tightest_limit_wins(tmp_path):
    files = [
        ("cgroup v1", _limit_file(tmp_path, "a", str(12 * GIB))),
        ("cgroup v2", _limit_file(tmp_path, "b", str(4 * GIB))),
    ]
    mem = driver_memory(env={}, limit_files=files, physical_ram=lambda: 16 * GIB)
    assert (mem.source, mem.setting) == ("cgroup v2", "2048m")


def test_env_override_passes_through(tmp_path):
    v2 = _limit_file(tmp_path, "memory.max", str(2 * GIB))
    mem = driver_memory(
        env={"SPARK_GRAFT_DRIVER_MEM": "48g"},
        limit_files=[("cgroup v2", v2)],
        physical_ram=lambda: 4 * GIB,
    )
    assert mem.setting == "48g"
    assert mem.source == "SPARK_GRAFT_DRIVER_MEM"


def test_cgroup_limit_files_follow_proc_self_cgroup(tmp_path):
    proc = tmp_path / "cgroup"
    proc.write_text("4:memory:/jobs/abc\n1:cpu:/\n0::/svc\n")
    files = cgroup_limit_files(proc_cgroup=str(proc), root="/cg")
    assert ("cgroup v1", "/cg/memory/jobs/abc/memory.limit_in_bytes") in files
    assert ("cgroup v1", "/cg/memory/memory.limit_in_bytes") in files
    assert ("cgroup v2", "/cg/svc/memory.max") in files
    assert ("cgroup v2", "/cg/memory.max") in files
    # an unreadable /proc file still yields the hierarchy roots
    roots = cgroup_limit_files(proc_cgroup=str(tmp_path / "missing"), root="/cg")
    assert roots == [("cgroup v2", "/cg/memory.max"), ("cgroup v1", "/cg/memory/memory.limit_in_bytes")]


def test_tmpfs_local_dir_needs_free_space(tmp_path):
    st = os.statvfs(tmp_path)
    free = st.f_bavail * st.f_frsize
    assert tmpfs_local_dir(free // 2, shm=str(tmp_path)) == str(tmp_path / "spark-local")
    assert tmpfs_local_dir(free + GIB, shm=str(tmp_path)) is None
    assert tmpfs_local_dir(0, shm=str(tmp_path / "absent")) is None
