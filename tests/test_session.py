"""Session config resolution (ADVICE r3): local mode pins shuffle
partitions to max(cores, 8); cluster mode (cores=0, spark-submit) must
inherit the cluster default instead of pinning a tiny local value."""

from __future__ import annotations

from humid_spark.session import _resolve_shuffle_partitions


def test_local_mode_pins_to_cores():
    assert _resolve_shuffle_partitions(32, None) == 32
    assert _resolve_shuffle_partitions(2, None) == 8
    assert _resolve_shuffle_partitions(32, 64) == 64


def test_cluster_mode_inherits_default(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_SHUFFLE", raising=False)
    assert _resolve_shuffle_partitions(0, None) is None  # leave unset
    assert _resolve_shuffle_partitions(0, 400) == 400    # explicit wins
    monkeypatch.setenv("SPARK_GRAFT_SHUFFLE", "2000")
    assert _resolve_shuffle_partitions(0, None) == 2000


def test_aqe_broadcast_ceiling_topology_rule(monkeypatch):
    """VERDICT r3 item 6: the AQE broadcast ceiling is an automatic
    cores-fed rule (8m/core in [32m, 256m]), not a fixed constant."""
    from humid_spark.session import _resolve_aqe_broadcast_threshold as r

    monkeypatch.delenv("SPARK_GRAFT_AQE_BCAST", raising=False)
    assert r(4) == "32m"     # round-3 min-of-3 leader at local[4]
    assert r(8) == "64m"
    assert r(32) == "256m"   # prior default, reproduced at full width
    assert r(64) == "256m"   # clamped
    assert r(0) == "256m"    # cluster: unknown topology, keep prior default
    monkeypatch.setenv("SPARK_GRAFT_AQE_BCAST", "10m")
    assert r(32) == "10m"    # env still wins


def test_driver_memory_follows_host_ram(monkeypatch, tmp_path):
    """spark.driver.memory defaults to half of MemTotal, capped at 24g;
    SPARK_DRIVER_MEM still wins."""
    from humid_spark.session import _resolve_driver_memory as r

    def meminfo(kb):
        p = tmp_path / f"meminfo{kb}"
        p.write_text(f"MemFree:  1000 kB\nMemTotal:  {kb} kB\n")
        return str(p)

    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    assert r(meminfo(16_000_000)) == "7812m"     # 15 GiB host: half
    assert r(meminfo(128 * 2**20)) == "24576m"   # capped at 24g
    assert r(str(tmp_path / "missing")) == "24g"
    monkeypatch.setenv("SPARK_DRIVER_MEM", "6g")
    assert r(meminfo(16_000_000)) == "6g"
