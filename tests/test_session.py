"""Session defaults: the driver heap (16g, capped at half of physical
memory) and Python workers that import the installed pyspark."""

import os
import sys
import zipfile

import pytest

from libpostal_spark import daemon
from libpostal_spark.daemon import spark_archives
from libpostal_spark.session import _default_driver_mem


@pytest.mark.parametrize(
    "mem_kib,want",
    [
        (64 * (1 << 20), "16g"),      # ≥ 32 GiB keeps the 16g default
        (32 * (1 << 20), "16g"),
        (16479424, "7g"),             # a 15.7 GiB machine
        (3 * (1 << 20), "1g"),
        (1 << 20, "1g"),              # never below 1g
    ],
)
def test_default_driver_mem_is_half_of_physical(tmp_path, mem_kib, want):
    f = tmp_path / "meminfo"
    f.write_text(f"MemTotal:       {mem_kib} kB\nMemFree:  1 kB\n")
    assert _default_driver_mem(str(f)) == want


def test_default_driver_mem_falls_back_to_16g(tmp_path):
    assert _default_driver_mem(str(tmp_path / "missing")) == "16g"
    f = tmp_path / "meminfo"
    f.write_text("MemTotal: lots\n")
    assert _default_driver_mem(str(f)) == "16g"


def test_workers_import_installed_pyspark(spark):
    """Python workers of a ``get_spark`` session import pyspark from the
    installed package and hold no zipimporter, so pyspark's per-task
    ``importlib.invalidate_caches()`` re-reads no archive directory."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def origin(s: pd.Series) -> pd.Series:
        import sys
        import zipimport

        import pyspark

        n = sum(isinstance(v, zipimport.zipimporter)
                for v in sys.path_importer_cache.values())
        return pd.Series([f"{n}|{pyspark.__file__}"] * len(s))

    df = spark.range(4).repartition(4)
    got = {r.o for r in df.select(origin(df.id.cast("string")).alias("o"))
           .collect()}
    for row in got:
        n, path = row.split("|", 1)
        assert os.path.isfile(path), row          # not inside an archive
        assert n == "0", row


@pytest.fixture
def spark_home(tmp_path, monkeypatch):
    """A fake SPARK_HOME layout plus an unpacked pyspark/py4j of version
    4.1.2, with a private importer cache so the test leaves none behind."""
    monkeypatch.setattr(sys, "path_importer_cache",
                        dict(sys.path_importer_cache))
    lib = tmp_path / "spark" / "python" / "lib"
    jars = tmp_path / "spark" / "jars"
    site = tmp_path / "site"
    for d in (lib, jars, site / "pyspark", site / "py4j"):
        d.mkdir(parents=True)
    with zipfile.ZipFile(lib / "pyspark.zip", "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("pyspark/version.py", "__version__: str = '4.1.2'\n")
    with zipfile.ZipFile(lib / "py4j-0.10.9.9-src.zip", "w") as z:
        z.writestr("py4j/__init__.py", "")
    (jars / "spark-core_2.13-4.1.2.jar").write_bytes(b"")
    (site / "pyspark" / "__init__.py").write_text("")
    (site / "pyspark" / "version.py").write_text(
        "__version__: str = '4.1.2'\n")
    (site / "py4j" / "__init__.py").write_text("")
    with zipfile.ZipFile(tmp_path / "deps.zip", "w") as z:
        z.writestr("deps/__init__.py", "")
    archives = [str(lib / "pyspark.zip"), str(lib / "py4j-0.10.9.9-src.zip"),
                str(jars / "spark-core_2.13-4.1.2.jar")]
    path = [str(tmp_path / "cwd"), *archives, str(tmp_path / "deps.zip"),
            str(site)]
    return path, archives, site


def test_daemon_keeps_archives_on_version_mismatch(spark_home):
    path, _, site = spark_home
    (site / "pyspark" / "version.py").write_text("__version__ = '4.0.0'\n")
    assert spark_archives(path) == []


def test_daemon_keeps_archives_without_unpacked_py4j(spark_home):
    path, _, site = spark_home
    (site / "py4j" / "__init__.py").unlink()
    (site / "py4j").rmdir()
    assert spark_archives(path) == []


def test_daemon_main_prunes_path_and_importer_cache(spark_home, monkeypatch):
    path, archives, _ = spark_home
    ran = []
    monkeypatch.setattr(daemon.runpy, "run_module",
                        lambda *a, **k: ran.append((a, k)))
    monkeypatch.setattr(sys, "path", list(path))
    for a in archives:
        sys.path_importer_cache[a] = object()
        sys.path_importer_cache[os.path.join(a, "pyspark")] = object()
    daemon.main()
    assert sys.path == [p for p in path if p not in archives]  # deps.zip stays
    assert not [k for k in sys.path_importer_cache
                if any(k.startswith(a) for a in archives)]
    assert ran == [(("pyspark.daemon",),
                    {"run_name": "__main__", "alter_sys": True})]


def test_daemon_main_runs_stock_daemon_on_error(spark_home, monkeypatch,
                                               capsys):
    path, archives, _ = spark_home
    with open(archives[0], "wb") as fh:
        fh.write(b"not a zip")                    # zipfile raises
    ran = []
    monkeypatch.setattr(daemon.runpy, "run_module",
                        lambda *a, **k: ran.append(a))
    monkeypatch.setattr(sys, "path", list(path))
    daemon.main()
    assert sys.path == path                       # every entry stays
    assert ran == [("pyspark.daemon",)]
    out = capsys.readouterr()
    assert out.out == "" and "BadZipFile" in out.err
