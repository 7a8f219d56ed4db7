"""The session factory's launch decision: Python workers import the
driver's installed pyspark through an overlay SPARK_HOME when the
driver's pyspark matches the distribution, and the launch is the stock
one otherwise. Also pins that importing the package loads no operator
module, in a fresh interpreter and in Spark's Python workers, while the
registry's first read loads them all."""

from __future__ import annotations

import ast
import logging
import os
import shutil
import subprocess
import sys
import tempfile
import types

import py4j.version
import pyspark
import pytest
from pyspark import SparkContext
from pyspark.sql import SparkSession

import empdia_iceberg_spark
from empdia_iceberg_spark import registry, session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PY4J_ZIP = f"py4j-{py4j.version.__version__}-src.zip"
PYSPARK_DIR = os.path.realpath(os.path.dirname(pyspark.__file__))
PY4J_DIR = os.path.realpath(os.path.dirname(py4j.__file__))


# ------------------------------------------------------ registry loading
def test_package_import_loads_no_operator_module():
    code = (
        "import sys, empdia_iceberg_spark; "
        "print(sorted(m for m in sys.modules if m.startswith('empdia_iceberg_spark.')))"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, capture_output=True, text=True, check=True
    ).stdout
    heavy = [
        m for m in ast.literal_eval(out)
        if m.split(".")[1] in ("operators", "functions", "plans", "sources", "streaming", "tables")
    ]
    assert heavy == []


def test_registry_holds_every_register_decorator_in_the_source():
    """A module the registry's walk skips (say, a subpackage without
    ``__init__.py``) leaves its ``@register`` queries out of the count."""
    calls = 0
    for dirpath, _, files in os.walk(os.path.dirname(empdia_iceberg_spark.__file__)):
        for f in files:
            if not f.endswith(".py"):
                continue
            with open(os.path.join(dirpath, f)) as fh:
                tree = ast.parse(fh.read())
            calls += sum(
                isinstance(d, ast.Call) and getattr(d.func, "id", None) == "register"
                for node in ast.walk(tree)
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
                for d in node.decorator_list
            )
    assert calls > 0
    assert len(registry.specs()) == calls


# ------------------------------------------------------- overlay helper
@pytest.fixture
def fake_home(tmp_path, monkeypatch):
    """A SPARK_HOME matching the driver's pyspark and py4j, no gateway,
    and a private temp dir for the overlay."""
    home = tmp_path / "spark"
    for d in ("bin", "conf", "jars", "python/pyspark", "python/lib"):
        (home / d).mkdir(parents=True)
    (home / "jars" / "spark-core.jar").write_bytes(b"")
    (home / "RELEASE").write_text(f"Spark {pyspark.__version__} (git revision 0) built for Hadoop 3\n")
    lib = home / "python" / "lib"
    (lib / "pyspark.zip").write_bytes(b"PK")
    (lib / PY4J_ZIP).write_bytes(b"PK")
    (lib / "PY4J_LICENSE.txt").write_text("")
    (tmp_path / "tmp").mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "tmp"))
    monkeypatch.setenv("SPARK_HOME", str(home))
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.setattr(SparkContext, "_jvm", None)
    return home


def test_overlay_mirrors_home_and_swaps_the_two_zips(fake_home):
    overlay, reason = session.worker_pyspark_home()
    assert overlay is not None, reason
    assert os.path.dirname(overlay) == tempfile.gettempdir()
    assert sorted(os.listdir(overlay)) == sorted(os.listdir(fake_home))
    for name in os.listdir(fake_home):
        if name != "python":
            assert os.path.islink(os.path.join(overlay, name))
            assert os.path.realpath(os.path.join(overlay, name)) == os.path.realpath(fake_home / name)
    assert os.path.realpath(os.path.join(overlay, "python", "pyspark")) == os.path.realpath(
        fake_home / "python" / "pyspark")
    lib = os.path.join(overlay, "python", "lib")
    assert os.path.islink(os.path.join(lib, "PY4J_LICENSE.txt"))
    for zip_name, pkg, target in [("pyspark.zip", "pyspark", PYSPARK_DIR),
                                  (PY4J_ZIP, "py4j", PY4J_DIR)]:
        entry = os.path.join(lib, zip_name)
        assert os.path.isdir(entry) and not os.path.islink(entry)
        assert os.listdir(entry) == [pkg]
        assert os.path.realpath(os.path.join(entry, pkg)) == target


def _is_overlay_for(path, home):
    """``path`` is a private overlay of ``home`` whose zips lead to the
    driver's packages."""
    st = os.stat(path)
    lib = os.path.join(path, "python", "lib")
    return (st.st_uid == os.getuid() and st.st_mode & 0o777 == 0o700
            and os.path.realpath(os.path.join(path, "bin")) == os.path.realpath(home / "bin")
            and os.path.realpath(os.path.join(lib, "pyspark.zip", "pyspark")) == PYSPARK_DIR)


def test_overlay_never_trusts_a_directory_already_there(fake_home, tmp_path):
    # someone else's look-alike: correct zip links, its own bin
    planted = os.path.join(tempfile.gettempdir(), "spark-home-planted")
    os.makedirs(os.path.join(planted, "python", "lib", "pyspark.zip"))
    os.symlink(PYSPARK_DIR, os.path.join(planted, "python", "lib", "pyspark.zip", "pyspark"))
    (tmp_path / "evil-bin").mkdir()
    os.symlink(tmp_path / "evil-bin", os.path.join(planted, "bin"))
    first, _ = session.worker_pyspark_home()
    second, reason = session.worker_pyspark_home()
    assert second is not None, reason
    assert len({first, second, planted}) == 3
    assert _is_overlay_for(first, fake_home) and _is_overlay_for(second, fake_home)


def test_overlay_is_removed_at_exit(fake_home, monkeypatch):
    at_exit = []
    monkeypatch.setattr(session.atexit, "register",
                        lambda f, *args, **kwargs: at_exit.append((f, args, kwargs)))
    overlay, reason = session.worker_pyspark_home()
    assert overlay is not None, reason
    for f, args, kwargs in at_exit:
        f(*args, **kwargs)
    assert os.listdir(tempfile.gettempdir()) == []


@pytest.mark.parametrize(
    "breakage, phrase",
    [
        ("release", "0.0.1"),
        ("py4j", PY4J_ZIP),
        ("unset", "SPARK_HOME is not set"),
        ("zip-dir", "pyspark.zip is not a regular file"),
        ("gateway", "gateway is already running"),
        ("submit", "gateway is already running"),
    ],
)
def test_overlay_declines_with_a_reason(fake_home, monkeypatch, breakage, phrase):
    lib = fake_home / "python" / "lib"
    if breakage == "release":
        (fake_home / "RELEASE").write_text("Spark 0.0.1 (git revision 0)\n")
    elif breakage == "py4j":
        (lib / PY4J_ZIP).rename(lib / "py4j-0.0.0-src.zip")
    elif breakage == "unset":
        monkeypatch.delenv("SPARK_HOME")
    elif breakage == "zip-dir":
        (lib / "pyspark.zip").unlink()
        (lib / "pyspark.zip").mkdir()
    elif breakage == "gateway":
        monkeypatch.setattr(SparkContext, "_gateway", object())
    elif breakage == "submit":
        monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "1")
    overlay, reason = session.worker_pyspark_home()
    assert overlay is None
    assert phrase in reason
    assert os.listdir(tempfile.gettempdir()) == []


def test_overlay_that_cannot_be_built_declines(fake_home, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(fake_home / "no-such-dir"))
    overlay, reason = session.worker_pyspark_home()
    assert overlay is None and "cannot build an overlay" in reason


# ------------------------------------------- get_spark around the launch
class _Launched:
    """Stands in for the session ``getOrCreate`` would return."""

    def __init__(self, spark_home):
        self.spark_home = spark_home
        self.sparkContext = types.SimpleNamespace(setLogLevel=lambda level: None)


@pytest.mark.parametrize("launch_fails", [False, True], ids=["launched", "launch-raises"])
def test_get_spark_sets_spark_home_only_around_the_launch(fake_home, monkeypatch, caplog,
                                                          launch_fails):
    def get_or_create(builder):
        if launch_fails:
            raise RuntimeError("launch failed")
        return _Launched(os.environ["SPARK_HOME"])

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", get_or_create)
    with caplog.at_level(logging.INFO, logger="empdia_iceberg_spark.session"):
        if launch_fails:
            with pytest.raises(RuntimeError):
                session.get_spark()
        else:
            launched = session.get_spark()
    assert os.environ["SPARK_HOME"] == str(fake_home)
    (overlay,) = os.listdir(tempfile.gettempdir())
    overlay = os.path.join(tempfile.gettempdir(), overlay)
    assert _is_overlay_for(overlay, fake_home)
    if not launch_fails:
        assert launched.spark_home == overlay
    records = [r for r in caplog.records if r.name == "empdia_iceberg_spark.session"]
    assert len(records) == 1
    assert f"worker_pyspark={overlay} " in records[0].getMessage()


def test_get_spark_after_stop_reports_the_earlier_launch(fake_home, monkeypatch, caplog):
    # a stopped session keeps its gateway, and its JVM the overlay home
    overlay, _ = session.worker_pyspark_home()
    system = types.SimpleNamespace(getenv={"SPARK_HOME": overlay}.get)
    monkeypatch.setattr(SparkContext, "_gateway", object())
    monkeypatch.setattr(SparkContext, "_jvm", types.SimpleNamespace(
        java=types.SimpleNamespace(lang=types.SimpleNamespace(System=system))))
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate",
                        lambda builder: _Launched(os.environ["SPARK_HOME"]))
    with caplog.at_level(logging.INFO, logger="empdia_iceberg_spark.session"):
        session.get_spark()
    (record,) = [r for r in caplog.records if r.name == "empdia_iceberg_spark.session"]
    assert record.getMessage().startswith(f"worker_pyspark={overlay} ")
    assert "launched earlier" in record.getMessage()


def test_get_spark_declined_launch_is_stock(fake_home, monkeypatch, caplog):
    (fake_home / "RELEASE").write_text("Spark 0.0.1 (git revision 0)\n")
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate",
                        lambda builder: _Launched(os.environ["SPARK_HOME"]))
    with caplog.at_level(logging.INFO, logger="empdia_iceberg_spark.session"):
        launched = session.get_spark()
    assert launched.spark_home == str(fake_home) == os.environ["SPARK_HOME"]
    (record,) = [r for r in caplog.records if r.name == "empdia_iceberg_spark.session"]
    assert "worker_pyspark=stock " in record.getMessage()
    assert "0.0.1" in record.getMessage()


# ----------------------------------------------- what workers really run
def test_workers_import_the_drivers_pyspark(spark, monkeypatch):
    # nested, so cloudpickle ships it by value and the worker needs no
    # import of this test module
    def probe(batches):
        """Runs in a Python worker: which pyspark it imported, and whether
        importing this package there fans out to the operator registry. The
        package is imported afresh and the worker's modules put back, so the
        answer does not depend on what earlier tasks in a reused worker
        unpickled."""
        import sys

        import pandas as pd
        import pyspark

        def ours():
            return [k for k in sys.modules if k.split(".")[0] == "empdia_iceberg_spark"]

        saved = {k: sys.modules.pop(k) for k in ours()}
        try:
            import empdia_iceberg_spark  # noqa: F401

            fanout = "empdia_iceberg_spark.operators.relational" in sys.modules
        finally:
            for k in ours():
                del sys.modules[k]
            sys.modules.update(saved)
        for _ in batches:
            pass
        yield pd.DataFrame({"pyspark_file": [pyspark.__file__], "fanout": [fanout]})

    (row,) = spark.range(1, numPartitions=1).mapInPandas(
        probe, "pyspark_file string, fanout boolean").collect()
    assert row.fanout is False
    # the session was launched by get_spark in this process: whenever the
    # helper accepts this environment, the JVM must carry its overlay
    monkeypatch.setattr(SparkContext, "_gateway", None)
    overlay, reason = session.worker_pyspark_home()
    monkeypatch.undo()
    if overlay is None:
        return
    shutil.rmtree(overlay)
    launched = spark._jvm.java.lang.System.getenv("SPARK_HOME")
    assert os.path.realpath(os.path.join(launched, "python", "lib", "pyspark.zip",
                                         "pyspark")) == PYSPARK_DIR, reason
    assert os.path.realpath(os.path.dirname(row.pyspark_file)) == PYSPARK_DIR
    # a file the OS can open, so no path component is a zip archive
    assert os.path.isfile(row.pyspark_file)
