"""The engine's Python worker daemon (uci_searchengine_spark/pyworker.py):
zip archives are re-read only when they change, and Spark sessions from
``get_spark`` run their Python tasks under it from any working dir."""

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from uci_searchengine_spark import pyworker

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="3.13 re-reads lazily")
def test_zip_reread_only_when_changed(tmp_path, monkeypatch):
    archive = str(tmp_path / "pw_mods.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("pw_mod_a.py", "X = 1\n")
    reads = []
    real = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", pyworker.invalidate_caches
    )
    monkeypatch.syspath_prepend(archive)
    for m in ("pw_mod_a", "pw_mod_b"):
        monkeypatch.delitem(sys.modules, m, raising=False)

    assert importlib.import_module("pw_mod_a").X == 1
    importlib.invalidate_caches()  # first stamp of this importer: one read
    n = len(reads)
    for _ in range(3):
        importlib.invalidate_caches()
    assert len(reads) == n  # unchanged archive: not re-read

    with zipfile.ZipFile(archive, "a") as z:
        z.writestr("pw_mod_b.py", "Y = 2\n")
    importlib.invalidate_caches()
    assert len(reads) == n + 1
    assert importlib.import_module("pw_mod_b").Y == 2


@pytest.mark.spark
def test_tasks_run_under_engine_daemon_from_any_cwd(tmp_path):
    """A driver started outside the repo, with the engine on its own
    sys.path only: the daemon imports through spark.executorEnv, and the
    task sees the engine's invalidate_caches."""
    script = tmp_path / "drive.py"
    script.write_text(textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {ROOT!r})
        from uci_searchengine_spark.session import get_spark

        def probe(_):
            import zipimport
            yield zipimport.zipimporter.invalidate_caches.__module__

        spark = get_spark(app_name="pyworker", master="local[1]",
                          shuffle_partitions=1)
        out = spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()
        spark.stop()
        print("MODULE", out[0])
    """))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "512m"
    res = subprocess.run(
        [sys.executable, str(script)], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    want = "uci_searchengine_spark.pyworker"
    if sys.version_info >= (3, 13):
        want = "zipimport"
    assert f"MODULE {want}" in res.stdout.splitlines()


def _drive(tmp_path, tmpdir: str, probe_body: str) -> list[str]:
    """Run a driver script outside the repo with ``TMPDIR=tmpdir``;
    ``probe_body`` is the body of a one-task probe yielding strings.
    Returns the driver's stdout lines."""
    head = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {ROOT!r})
        from uci_searchengine_spark.session import get_spark

        def probe(_):
    """)
    tail = textwrap.dedent("""
        spark = get_spark(app_name="pyworker", master="local[1]",
                          shuffle_partitions=1)
        uds = spark.conf.get("spark.python.unix.domain.socket.enabled", "false")
        out = spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()
        spark.stop()
        print("UDS", uds)
        for line in out:
            print(line)
    """)
    script = tmp_path / "drive.py"
    script.write_text(
        head + textwrap.indent(textwrap.dedent(probe_body), "    ") + tail
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "512m"
    env["TMPDIR"] = tmpdir
    res = subprocess.run(
        [sys.executable, str(script)], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    return res.stdout.splitlines()


@pytest.mark.spark
def test_tasks_use_unix_socket_and_a_warm_frozen_worker(tmp_path):
    """On a local master the task's channel is a Unix socket whose file
    lies in the session's temp dir, and the forked worker already holds
    the preloaded modules with the daemon's heap frozen."""
    import tempfile

    sock_dir = tempfile.mkdtemp(prefix="uds")  # short: fits sun_path
    try:
        lines = _drive(tmp_path, sock_dir, """
            import gc, os, sys
            yield "ENV " + os.environ.get("PYTHON_UNIX_DOMAIN_ENABLED", "").lower()
            yield "DIR " + os.environ.get("PYTHON_WORKER_FACTORY_SOCK_DIR", "")
            d = os.environ.get("PYTHON_WORKER_FACTORY_SOCK_DIR", "")
            socks = [f for f in os.listdir(d) if f.endswith(".sock")] if d else []
            yield "SOCKS " + str(len(socks))
            yield "PANDAS " + str("pandas" in sys.modules)
            yield "FROZEN " + str(gc.get_freeze_count() > 0)
        """)
    finally:
        import shutil

        shutil.rmtree(sock_dir, ignore_errors=True)
    assert "UDS true" in lines
    assert "ENV true" in lines
    assert f"DIR {sock_dir}" in lines
    assert "SOCKS 0" not in lines  # the daemon's socket file is there
    assert "PANDAS True" in lines
    assert "FROZEN True" in lines


@pytest.mark.spark
def test_overlong_temp_dir_falls_back_to_tcp(tmp_path):
    """A temp dir whose socket paths would pass the OS limit keeps the
    TCP channel, and tasks still run."""
    long_dir = tmp_path / ("d" * 80)
    long_dir.mkdir()
    lines = _drive(tmp_path, str(long_dir), """
        import os
        yield "ENV " + os.environ.get("PYTHON_UNIX_DOMAIN_ENABLED", "false").lower()
    """)
    assert "UDS false" in lines
    assert "ENV false" in lines
