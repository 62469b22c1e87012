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


_ZIP_SESSION = r'''
import sys
sys.path.insert(0, sys.argv[1])
from pyspark.sql.functions import udf
from humid_spark.session import get_spark

spark = get_spark("zip-clash", cores=1)
if sys.argv[2] == "wait":
    print("READY", flush=True)
    sys.stdin.readline()

@udf("string")
def package_file(_):
    import humid_spark
    return humid_spark.__file__

print("WORKER", spark.range(1).select(package_file("id")).first()[0], flush=True)
spark.stop()
'''


def test_sessions_from_two_trees_share_tmpdir(tmp_path):
    """Two checkouts whose packages differ by one comment line run one
    session each against a shared TMPDIR.  Tree A's session adds its zip
    before tree B's session starts and runs its first task after B's
    session has come and gone — the window in which a zip written to a
    fixed path would have changed under A ("exists and does not match
    contents").  Both sessions must run, each on its own package."""
    import os
    import shutil
    import subprocess
    import sys

    import humid_spark

    src = os.path.dirname(os.path.abspath(humid_spark.__file__))
    trees = {}
    for name in ("a", "b"):
        trees[name] = tmp_path / name
        shutil.copytree(
            src, trees[name] / "humid_spark",
            ignore=shutil.ignore_patterns("__pycache__"),
        )
    with open(trees["b"] / "humid_spark" / "config.py", "a") as f:
        f.write("# tree b\n")
    shared = tmp_path / "tmp"
    shared.mkdir()
    env = dict(
        os.environ, TMPDIR=str(shared), SPARK_GRAFT_NO_PREWARM="1",
        SPARK_DRIVER_MEM="1g",
    )

    def session(tree, mode, err, **kw):
        return subprocess.Popen(
            [sys.executable, "-c", _ZIP_SESSION, str(tree), mode],
            cwd=tmp_path, env=env, stdout=subprocess.PIPE, stderr=err,
            text=True, **kw,
        )

    with open(tmp_path / "wait.err", "w") as a_err, \
            open(tmp_path / "run.err", "w") as b_err:
        a = session(trees["a"], "wait", a_err, stdin=subprocess.PIPE)
        try:
            assert a.stdout.readline().strip() == "READY"
            b_out, _ = session(trees["b"], "run", b_err).communicate(
                timeout=300
            )
            a_out, _ = a.communicate("go\n", timeout=300)
        finally:
            a.kill()

    def worker_zip(out, mode):
        lines = [ln for ln in out.splitlines() if ln.startswith("WORKER")]
        err = (tmp_path / f"{mode}.err").read_text()
        assert lines, f"session {mode} ran no job:\n{err[-3000:]}"
        path = lines[0].split()[1]
        return os.path.basename(path.split(os.sep + "humid_spark" + os.sep)[0])

    za, zb = worker_zip(a_out, "wait"), worker_zip(b_out, "run")
    assert za != zb
    zips = [f for f in os.listdir(shared) if f.startswith("humid_spark_")]
    assert sorted(zips) == sorted([za, zb])


def test_repeated_web_pass_compiles_no_class(spark, tmp_path):
    """Spark's whole-stage codegen cache holds a web pass's plan set: a
    second identical pass (containment on, dedup table written) compiles
    no class.  Spark's default cache of 100 classes is smaller than one
    pass's ~130, so every repeated pass evicted and recompiled them all."""
    from humid_spark.config import DedupConfig
    from humid_spark.plans.webdedup import run_web_pipeline
    from humid_spark.sources.pages import fx_webtext, to_spark

    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def compiled() -> int:
        return metrics.METRIC_COMPILATION_TIME().getCount()

    src, out = str(tmp_path / "pages"), str(tmp_path / "dedup")
    to_spark(spark, fx_webtext(n_seeds=20, seed=5)).write.parquet(src)
    cfg = DedupConfig(use_containment=True)

    def web_pass() -> int:
        before = compiled()
        res = run_web_pipeline(spark.read.parquet(src), cfg)
        res.dedup.write.mode("overwrite").parquet(out)
        res.release(checkpoints=True)
        return compiled() - before

    web_pass()
    assert compiled() > 0  # the counter is live in this JVM
    assert web_pass() == 0
