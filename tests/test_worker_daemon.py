"""The Python worker daemon (challenge8_movies_etl_spark.daemon) and its
one fix, zipcache: a zipimporter re-reads its archive directory only
when the archive changed, and sessions built without the daemon still
compute oracle-equal results."""

from __future__ import annotations

import importlib
import subprocess
import sys
import zipfile
import zipimport

import pytest

from challenge8_movies_etl_spark import zipcache
from tests.conftest import REPO, SF_SMOKE


def _write_zip(path, members: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in members.items():
            zf.writestr(name, src)


@pytest.mark.skipif(sys.version_info >= (3, 13), reason=(
    "CPython 3.13 invalidates lazily; zipcache.install leaves it as is"))
def test_zipimporter_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = tmp_path / "zc_lib.zip"
    members = {"zc_pkg/__init__.py": "", "zc_pkg/old.py": "VALUE = 1\n"}
    _write_zip(archive, members)
    # the stock method is put back when the test ends
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.syspath_prepend(str(archive))
    stock, reads = zipcache._stock_invalidate, []

    def counting_stock(importer):
        reads.append(importer.archive)
        stock(importer)

    monkeypatch.setattr(zipcache, "_stock_invalidate", counting_stock)
    zipcache.install()
    assert zipcache.installed()

    assert importlib.import_module("zc_pkg.old").VALUE == 1
    # two importers over one archive: the top-level path entry and zc_pkg
    assert sum(isinstance(f, zipimport.zipimporter) and f.archive == str(archive)
               for f in sys.path_importer_cache.values()) == 2
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads.count(str(archive)) == 1, "unchanged archive was re-read"

    _write_zip(archive, {**members, "zc_pkg/new.py": "VALUE = 2\n"})
    importlib.invalidate_caches()
    assert reads.count(str(archive)) == 2, "rewritten archive was not re-read"
    assert importlib.import_module("zc_pkg.new").VALUE == 2
    importlib.invalidate_caches()
    assert reads.count(str(archive)) == 2


def test_get_spark_workers_run_the_fix(spark):
    def report(batches):
        import pandas as pd

        from challenge8_movies_etl_spark import zipcache
        for _ in batches:
            pass
        yield pd.DataFrame({"installed": [zipcache.installed()]})

    rows = spark.range(4).mapInPandas(report, "installed boolean").collect()
    assert rows and all(r.installed for r in rows)


def test_plain_session_without_daemon_matches_oracle():
    """``__spark_entry__`` callers build their own SparkSession, without
    the daemon conf: an llm_arrow query must still match its oracle there."""
    proc = subprocess.run(
        [sys.executable, "tools/check.py", "--plain-session", "--sf",
         SF_SMOKE, "q_zip_extract"],
        capture_output=True, text=True, cwd=str(REPO), timeout=600)
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
    assert "PASS  q_zip_extract" in proc.stdout
