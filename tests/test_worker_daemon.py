"""The Python worker daemon: zip archives are re-read only when they
change, and sessions run Python UDFs from any working directory."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

from distributed_stream_processing_spark import worker_daemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_invalidate_caches_rereads_only_a_changed_zip(tmp_path, monkeypatch):
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"zd_old": "X = 1\n"})
    reads = []
    real_read = zipimport._read_directory
    monkeypatch.setattr(
        zipimport,
        "_read_directory",
        lambda archive: reads.append(archive) or real_read(archive),
    )
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", worker_daemon.invalidate_caches
    )
    monkeypatch.syspath_prepend(path)
    for name in ("zd_old", "zd_new"):
        monkeypatch.delitem(sys.modules, name, raising=False)

    assert importlib.import_module("zd_old").X == 1
    importlib.invalidate_caches()  # first call on the importer: reads
    del reads[:]
    for _ in range(5):
        importlib.invalidate_caches()
    assert reads == []  # unchanged archive: never re-read

    # rewrite in place with a new module (the size changes)
    _write_zip(path, {"zd_old": "X = 1\n", "zd_new": "Y = 2\n"})
    importlib.invalidate_caches()
    assert reads == [path]
    assert importlib.import_module("zd_new").Y == 2


def test_udf_runs_from_foreign_cwd_with_patched_daemon(tmp_path):
    """A session started outside the repo with no PYTHONPATH still runs
    Python UDFs, and its workers carry the change-checked re-read."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from distributed_stream_processing_spark.session import get_spark

        def probe(batches):
            import zipimport
            import pandas as pd
            fn = zipimport.zipimporter.invalidate_caches
            for pdf in batches:
                yield pd.DataFrame({{"f": [fn.__code__.co_filename] * len(pdf)}})

        spark = get_spark("worker-daemon-test")
        rows = spark.range(10).mapInPandas(probe, "f string").collect()
        print("FILES", sorted({{r.f for r in rows}}), len(rows))
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="1", SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    line = [ln for ln in out.stdout.splitlines() if ln.startswith("FILES")][-1]
    assert line == f"FILES {[worker_daemon.__file__]!r} 10"
