"""Session defaults are derived from the host, never a fixed 32-core /
16g shape (computed without starting a session)."""

from anomaly_detection_spark.session import MAX_DRIVER_MB, session_defaults

GB = 2**30


def test_defaults_follow_the_host():
    assert session_defaults({}, cpu_count=4, phys_bytes=16 * GB) == (4, "8192m")
    assert session_defaults({}, cpu_count=2, phys_bytes=3 * GB) == (2, "1536m")


def test_driver_memory_is_capped():
    cores, mem = session_defaults({}, cpu_count=64, phys_bytes=512 * GB)
    assert (cores, mem) == (64, f"{MAX_DRIVER_MB}m")


def test_env_overrides_win():
    env = {"SPARK_GRAFT_CPUS": "3", "SPARK_GRAFT_DRIVER_MEM": "5g"}
    assert session_defaults(env, cpu_count=64,
                            phys_bytes=512 * GB) == (3, "5g")


def test_host_probe_is_sane():
    cores, mem = session_defaults({})
    assert cores >= 1
    assert 0 < int(mem.removesuffix("m")) <= MAX_DRIVER_MB
