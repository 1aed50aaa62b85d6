"""Session defaults: the driver heap is sized to the machine."""

from sparketl.session import driver_memory


def _files(tmp_path, available_kib, cgroup=None):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text(
        f"MemTotal:       99999999 kB\nMemAvailable:   {available_kib} kB\n"
    )
    limit = tmp_path / "memory.max"
    if cgroup is not None:
        limit.write_text(f"{cgroup}\n")
    return str(meminfo), str(limit)


def test_driver_memory_is_half_of_what_the_process_may_use(tmp_path, monkeypatch):
    monkeypatch.delenv("SPARKETL_DRIVER_MEM", raising=False)
    gib = 2**30
    # no cgroup limit file: half of MemAvailable, rounded down to GiB
    assert driver_memory(*_files(tmp_path, 15 * gib // 1024)) == "7g"
    # an unlimited cgroup leaves MemAvailable in charge
    assert driver_memory(*_files(tmp_path, 16 * gib // 1024, "max")) == "8g"
    # a cgroup limit below MemAvailable wins
    assert driver_memory(*_files(tmp_path, 16 * gib // 1024, 6 * gib)) == "3g"
    # never below 1g
    assert driver_memory(*_files(tmp_path, 1024, None)) == "1g"
    # nothing readable: physical memory, still a whole-GiB size
    missing = str(tmp_path / "absent")
    assert driver_memory(missing, missing).endswith("g")


def test_driver_memory_env_override(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARKETL_DRIVER_MEM", "4g")
    assert driver_memory(*_files(tmp_path, 64 * 2**20)) == "4g"

