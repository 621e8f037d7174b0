"""The engine's Python worker daemon: stat-checked zip invalidation."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport
from pathlib import Path

from etl_demos_spark import pydaemon

REPO = Path(__file__).resolve().parent.parent


def _write_zip(path: Path, body: str) -> None:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("graft_zmod.py", body)


def test_stat_checked_invalidation_rereads_only_changed_archives(tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, "V = 1\n")
    monkeypatch.syspath_prepend(str(archive))
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", pydaemon.stat_checked_invalidate_caches
    )
    monkeypatch.setattr(pydaemon, "_read_at", {})
    reads = []
    stock_read = zipimport._read_directory

    def counted(path):
        reads.append(path)
        return stock_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    try:
        import graft_zmod

        assert graft_zmod.V == 1
        del reads[:]
        importlib.invalidate_caches()  # first sweep records the stamp
        assert reads.count(str(archive)) == 1
        del reads[:]
        for _ in range(3):
            importlib.invalidate_caches()
        assert reads.count(str(archive)) == 0

        _write_zip(archive, "V = 22  # a rewrite with a new size\n")
        importlib.invalidate_caches()
        assert reads.count(str(archive)) == 1
        del sys.modules["graft_zmod"]
        import graft_zmod

        assert graft_zmod.V == 22
    finally:
        sys.modules.pop("graft_zmod", None)
        sys.path_importer_cache.pop(str(archive), None)
        zipimport._zip_directory_cache.pop(str(archive), None)


def test_session_workers_run_the_stat_checked_daemon(spark):
    # nested, so cloudpickle ships it by value: tests/ is not on the
    # workers' path
    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pyarrow as pa

        for _ in batches:
            pass
        reads = []
        stock_read = zipimport._read_directory
        zipimport._read_directory = lambda path: reads.append(path) or stock_read(path)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = stock_read
        fn = zipimport.zipimporter.invalidate_caches
        yield pa.RecordBatch.from_pylist(
            [
                {
                    "invalidate": f"{fn.__module__}.{fn.__qualname__}",
                    "zip_importers": sum(
                        isinstance(v, zipimport.zipimporter)
                        for v in sys.path_importer_cache.values()
                    ),
                    "reads": len(reads),
                    "py313": sys.version_info >= (3, 13),
                }
            ]
        )

    schema = "invalidate string, zip_importers long, reads long, py313 boolean"
    rows = spark.range(0, 2, 1, 2).mapInArrow(probe, schema).collect()
    assert len(rows) == 2
    for r in rows:
        if r.py313:
            continue
        assert r.invalidate == "etl_demos_spark.pydaemon.stat_checked_invalidate_caches"
        assert r.zip_importers > 0  # pyspark.zip is imported from, and unchanged
        assert r.reads == 0


def test_udf_runs_from_another_cwd_without_pythonpath(tmp_path):
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {str(REPO)!r})
        from etl_demos_spark.session import get_spark

        def double(batches):
            import pyarrow.compute as pc

            for b in batches:
                yield b.set_column(0, "id", pc.multiply(b[0], 2))

        spark = get_spark("pydaemon-cwd", cpus=1, shuffle_partitions=1)
        got = sorted(r.id for r in spark.range(3).mapInArrow(double, "id long").collect())
        spark.stop()
        print("GOT", got)
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "GOT [0, 2, 4]" in proc.stdout
