"""SparkSession factory tuned for this engine.

Design notes (100 TB posture): AQE on (runtime join re-plan, skew-join
splitting, partition coalescing), shuffle partitions sized by env,
UTC session timezone so timestamp semantics match the DuckDB oracle,
Arrow enabled for every pandas boundary. On a real cluster the same
builder is used — only master/memory change.

Python workers import the driver's pyspark. Spark puts
``$SPARK_HOME/python/lib/pyspark.zip`` and ``py4j-*-src.zip`` first on
the path of every Python process it starts (``PythonUtils.sparkPythonPath``
builds it from ``$SPARK_HOME`` alone, so no conf can reorder it). Stock
Spark ships those zips without bytecode and zipimport never caches any,
so every fresh process compiles pyspark from source again. Spark 4.1
spawns such a process, the streaming-source runner, for every streaming
query start: its import-to-first-call time was 1.17 s from the zip and
0.52 s from the installed, compiled package (4-core host). So when the
driver's pyspark is a directory install of the same version as
``$SPARK_HOME``, ``get_spark`` launches the JVM with ``SPARK_HOME`` pointing
at an overlay (``worker_pyspark_home``): every entry of the real home as
a symlink, except that the two zips are directories of the same names
holding a link to the driver's ``pyspark`` and ``py4j`` packages. Python
treats a directory path entry as a plain import root, so the workers run
the same code from its compiled bytecode. In any other case the launch is
the stock one.
"""

from __future__ import annotations

import atexit
import logging
import os
import re
import shutil
import tempfile

import py4j.version
import pyspark
from pyspark import SparkContext
from pyspark.sql import SparkSession

_LOG = logging.getLogger(__name__)


def _package_dir(module) -> str | None:
    """The directory a package was imported from, or None when it was
    not imported from a plain directory (a zip, a namespace package)."""
    f = getattr(module, "__file__", None) or ""
    if os.path.basename(f) == "__init__.py" and os.path.isfile(f):
        return os.path.dirname(f)
    return None


def worker_pyspark_home() -> tuple[str | None, str]:
    """Return ``(overlay SPARK_HOME, reason)`` for a launch whose Python
    workers import the driver's pyspark and py4j, or ``(None, reason)``
    when the launch must be the stock one. See the module docstring.

    Each call builds a fresh overlay in a private ``mkdtemp`` under
    ``tempfile.gettempdir()``, removed when the interpreter exits. A
    directory that is already there is never used: anyone who can write
    the temp dir could point its ``bin`` or ``jars`` elsewhere.
    """
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home:
        return None, "SPARK_HOME is not set"
    lib = os.path.join("python", "lib")
    if not os.path.isfile(os.path.join(spark_home, lib, "pyspark.zip")):
        return None, f"{spark_home}/{lib}/pyspark.zip is not a regular file"
    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return None, "a gateway is already running"
    pyspark_dir, py4j_dir = _package_dir(pyspark), _package_dir(py4j)
    if pyspark_dir is None or py4j_dir is None:
        return None, "the driver's pyspark or py4j is not a directory install"
    try:
        with open(os.path.join(spark_home, "RELEASE")) as f:
            m = re.match(r"Spark (\S+)", f.readline())
    except OSError as exc:
        return None, f"cannot read {spark_home}/RELEASE: {exc}"
    if m is None or m.group(1) != pyspark.__version__:
        found = m.group(1) if m else "no version"
        return None, f"driver pyspark {pyspark.__version__} != {found} in {spark_home}/RELEASE"
    py4j_zip = f"py4j-{py4j.version.__version__}-src.zip"
    if not os.path.isfile(os.path.join(spark_home, lib, py4j_zip)):
        return None, f"{spark_home}/{lib} has no {py4j_zip} for the driver's py4j"

    real = os.path.realpath(spark_home)
    swaps = {"pyspark.zip": pyspark_dir, py4j_zip: py4j_dir}
    overlay = None
    try:
        overlay = tempfile.mkdtemp(prefix="spark-home-")
        # the fixed layout: every entry a link to the real one, except
        # python/ and python/lib/, whose two zips become directories
        # holding one link each, to the driver's package
        for top in os.listdir(real):
            if top != "python":
                os.symlink(os.path.join(real, top), os.path.join(overlay, top))
        os.mkdir(os.path.join(overlay, "python"))
        for name in os.listdir(os.path.join(real, "python")):
            if name != "lib":
                os.symlink(os.path.join(real, "python", name), os.path.join(overlay, "python", name))
        os.mkdir(os.path.join(overlay, lib))
        for name in os.listdir(os.path.join(real, lib)):
            dst = os.path.join(overlay, lib, name)
            if name in swaps:
                os.mkdir(dst)
                pkg = os.path.realpath(swaps[name])
                os.symlink(pkg, os.path.join(dst, os.path.basename(pkg)))
            else:
                os.symlink(os.path.join(real, lib, name), dst)
    except OSError as exc:
        if overlay is not None:
            shutil.rmtree(overlay, ignore_errors=True)
        return None, f"cannot build an overlay under {tempfile.gettempdir()}: {exc}"
    atexit.register(shutil.rmtree, overlay, ignore_errors=True)
    return overlay, f"pyspark {pyspark.__version__} and py4j {py4j.version.__version__} match {real}"


def get_spark(
    app_name: str = "empdia_iceberg_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Create (or fetch) the engine's SparkSession.

    Env knobs: ``SPARK_GRAFT_CPUS`` (local parallelism, default 32),
    ``SPARK_GRAFT_SHUFFLE`` (shuffle partitions, default = cpus).

    Logs one record on this module's logger: ``worker_pyspark=`` the
    overlay ``SPARK_HOME`` the JVM was launched with, or ``stock``, and
    the reason (``worker_pyspark_home``). When a gateway from an earlier
    launch in this process is still up, the record names the overlay that
    launch used, read from the JVM.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", str(cpus)))

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # local mode: driver is the only JVM; give it headroom but leave
        # room for the OS. Harmless if already set by the launcher.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Parallelism floor: at small scale factors the default 128 MB
        # maxPartitionBytes yields ~3 input splits, idling 29/32 cores
        # (BENCH_r01 showed 3-task stages). Force at least one split per
        # core; at cluster scale files are large enough that
        # maxPartitionBytes governs and this floor is a no-op.
        .config("spark.sql.files.maxPartitionBytes", str(4 * 1024 * 1024))
        .config("spark.sql.files.minPartitionNum", str(cpus))
        # openCostInBytes floors the split size at 4 MB by default, which
        # defeats minPartitionNum on ~10 MB files; lower it so small-SF
        # scans really do fan out to all cores.
        .config("spark.sql.files.openCostInBytes", str(256 * 1024))
        # Don't let AQE coalesce tiny-SF shuffles below the core count.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
    )
    home, reason = worker_pyspark_home()
    shown = home or "stock"
    if SparkContext._jvm is not None:
        # a stopped session keeps its gateway, whose JVM keeps the home it
        # was launched with: report where its workers import pyspark from
        launched = SparkContext._jvm.java.lang.System.getenv("SPARK_HOME")
        if launched and os.path.isdir(os.path.join(launched, "python", "lib", "pyspark.zip")):
            shown = launched
        reason = f"{reason}; launched earlier with SPARK_HOME={launched}"
    _LOG.info("worker_pyspark=%s reason=%s", shown, reason)
    if home is None:
        spark = builder.getOrCreate()
    else:
        # only the launch reads it: the JVM and every Python process it
        # starts keep the overlay, this process keeps the real home
        stock = os.environ["SPARK_HOME"]
        os.environ["SPARK_HOME"] = home
        try:
            spark = builder.getOrCreate()
        finally:
            os.environ["SPARK_HOME"] = stock
    spark.sparkContext.setLogLevel("WARN")
    return spark
