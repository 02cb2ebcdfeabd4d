"""The package worker daemon (``ferenda_spark.pyworker``) and the
session settings that start it.

These check the mechanism, not its timing: an unchanged archive is not
re-read, a rewritten one is, the Python workers of a session run the
wrapper, and a session started away from the checkout still runs a
Python UDF.
"""

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport
from pathlib import Path

import pandas as pd

from ferenda_spark import pyworker

REPO = Path(__file__).resolve().parents[1]


def _write_zip(path, members):
    with zipfile.ZipFile(path, "w") as z:
        for name, source in members.items():
            z.writestr(name, source)


def _counting_reads(monkeypatch):
    reads = []
    read = zipimport._read_directory

    def counted(archive):
        reads.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    monkeypatch.setattr(pyworker, "_read_stamps", {})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        pyworker.invalidate_unless_unchanged)
    return reads


def test_unchanged_zip_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "pw_unchanged.zip")
    _write_zip(archive, {"pw_unchanged_a.py": "X = 1\n"})
    reads = _counting_reads(monkeypatch)
    importers = [zipimport.zipimporter(archive) for _ in range(3)]
    assert len(reads) <= 1      # the constructor reads it once at most
    reads.clear()
    for imp in importers:
        imp.invalidate_caches()
        imp.invalidate_caches()
    assert reads == [archive]   # read once to stamp it, then never
    assert all(imp._files for imp in importers)


def test_rewritten_zip_is_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "pw_rewritten.zip")
    _write_zip(archive, {"pw_rewritten_a.py": "X = 1\n"})
    reads = _counting_reads(monkeypatch)
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("pw_rewritten_a").X == 1
        importlib.invalidate_caches()
        reads.clear()
        importlib.invalidate_caches()
        assert reads == []
        _write_zip(archive, {"pw_rewritten_a.py": "X = 1\n",
                             "pw_rewritten_b.py": "Y = 2\n"})
        importlib.invalidate_caches()
        assert reads == [archive]
        assert importlib.import_module("pw_rewritten_b").Y == 2
    finally:
        for name in ("pw_rewritten_a", "pw_rewritten_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)


def test_session_starts_workers_from_the_package_daemon(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == "ferenda_spark.pyworker"
    assert conf.get("spark.ui.showConsoleProgress") == "false"

    def report(batches):
        for _ in batches:
            yield pd.DataFrame({"fn": [
                zipimport.zipimporter.invalidate_caches.__qualname__]})

    rows = spark.range(4).repartition(2).mapInPandas(
        report, "fn string").collect()
    assert {r.fn for r in rows} == {"invalidate_unless_unchanged"}


def test_session_from_another_directory_runs_a_udf(tmp_path):
    """The daemon imports before any task ships files, so the workers
    find the package without the caller's working directory or
    ``PYTHONPATH``."""
    job = (
        "import sys\n"
        f"sys.path.insert(0, {str(REPO)!r})\n"
        "from ferenda_spark.session import get_spark\n"
        "s = get_spark(master='local[1]', shuffle_partitions=1,\n"
        "              extra_conf={'spark.driver.memory': '512m'})\n"
        "def plus_one(batches):\n"
        "    for pdf in batches:\n"
        "        yield pdf + 1\n"
        "rows = s.range(3).mapInPandas(plus_one, 'id long').collect()\n"
        "print('ROWS', sorted(r.id for r in rows))\n"
        "s.stop()\n")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run([sys.executable, "-c", job], cwd=tmp_path, env=env,
                         capture_output=True, text=True, timeout=600)
    assert "ROWS [1, 2, 3]" in out.stdout, out.stderr[-3000:]
