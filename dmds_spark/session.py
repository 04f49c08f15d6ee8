"""SparkSession factory tuned for this engine.

Local mode for tests/bench; the same settings (AQE, adaptive coalesce,
UTC session TZ, Arrow) are what we would ship on a real cluster — only
master/shuffle-partition count change with deployment size.

With a ``local[...]`` master the session's ``file://`` file system is
``dmds_spark.jvm.NioLocalFileSystem`` (``dmds_spark/jvm/``): Hadoop's
checksummed local file system (``.crc`` sidecars written and verified
as before) whose raw layer sets permissions through java.nio, and
which leaves a file that fails its checksum in place instead of moving
it into a ``bad_files/`` dir at the top of the mount. The
stock one forks a ``chmod`` child for every file, ``.crc`` and
directory a write creates, because pyspark ships no ``libhadoop``.
The two classes are compiled once with the JDK's ``javac`` against
pyspark's ``hadoop-client-api`` jar and cached by source hash under
``dmds_spark/jvm/__jarcache__/`` (a temp dir when the package is
read-only), then put on the driver class path. Executors share the
driver JVM only in local mode, so a non-local master, or a host without
``javac``, keeps the stock file system and logs one warning.
"""

from __future__ import annotations

import functools
import glob
import hashlib
import logging
import os
import shutil
import subprocess
import tempfile
import zipfile

from pyspark.sql import SparkSession

log = logging.getLogger(__name__)

JVM_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm")
LOCAL_FS_CLASS = "dmds_spark.jvm.NioLocalFileSystem"


def default_cpus() -> str:
    """``SPARK_GRAFT_CPUS``, else every core this host has."""
    return os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 1)


def default_driver_memory() -> str:
    """``SPARK_GRAFT_DRIVER_MEM``, else half of physical RAM (at least
    1 GiB): in local mode the driver heap holds every executor too, and
    the rest is left to the OS, Python workers and off-heap buffers."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    try:
        ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, ValueError, OSError):
        return "4g"
    return f"{max(1, ram // 2**31)}g"


def _javac() -> str | None:
    home = os.environ.get("JAVA_HOME")
    if home and os.access(os.path.join(home, "bin", "javac"), os.X_OK):
        return os.path.join(home, "bin", "javac")
    return shutil.which("javac")


def build_jvm_jar(src_dir: str = JVM_DIR, cache_dirs: list[str] | None = None) -> str:
    """The jar of the ``*.java`` sources in ``src_dir``, compiled with
    ``javac --release 17`` against pyspark's ``hadoop-client-api`` jar.

    The jar is named by a hash of the sources and reused while they are
    unchanged. It is kept in the first writable of ``cache_dirs``, by
    default beside the sources (like ``__pycache__``), else in a temp
    dir. A build goes to a temp file that is renamed into place, so
    concurrent first sessions do not race. Raises ``OSError`` (no
    ``javac``, no writable cache dir) or ``CalledProcessError``."""
    import pyspark

    sources = sorted(glob.glob(os.path.join(src_dir, "*.java")))
    digest = hashlib.sha256()
    for src in sources:
        with open(src, "rb") as fh:
            digest.update(os.path.basename(src).encode() + b"\0" + fh.read())
    name = f"dmds-jvm-{digest.hexdigest()[:16]}.jar"
    cache_dirs = cache_dirs or [
        os.path.join(src_dir, "__jarcache__"),
        os.path.join(tempfile.gettempdir(), "dmds_spark-jarcache"),
    ]
    for d in cache_dirs:
        if os.path.isfile(os.path.join(d, name)):
            return os.path.join(d, name)
    javac = _javac()
    if javac is None:
        raise FileNotFoundError("no javac in JAVA_HOME or on PATH")
    api = glob.glob(os.path.join(
        os.path.dirname(pyspark.__file__), "jars", "hadoop-client-api-*.jar"))
    for d in cache_dirs:
        try:
            os.makedirs(d, exist_ok=True)
            work = tempfile.mkdtemp(dir=d, prefix=".build-")
            break
        except OSError:
            continue
    else:
        raise PermissionError(f"no writable jar cache dir in {cache_dirs}")
    try:
        classes = os.path.join(work, "classes")
        subprocess.run(
            [javac, "--release", "17", "-nowarn", "-cp", os.pathsep.join(api),
             "-d", classes, *sources],
            check=True, capture_output=True, text=True,
        )
        tmp_jar = os.path.join(work, name)
        with zipfile.ZipFile(tmp_jar, "w") as jar:
            for root, _, files in os.walk(classes):
                for f in files:
                    path = os.path.join(root, f)
                    jar.write(path, os.path.relpath(path, classes))
        os.replace(tmp_jar, os.path.join(d, name))
        return os.path.join(d, name)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@functools.lru_cache(maxsize=None)
def local_fs_jar() -> str | None:
    """``build_jvm_jar()`` once per process; ``None`` (logged once) when
    it cannot be built."""
    try:
        return build_jvm_jar()
    except (OSError, subprocess.CalledProcessError) as e:
        detail = getattr(e, "stderr", None) or e
        log.warning("stock local file system kept (forks chmod per file): "
                    "cannot build %s: %s", LOCAL_FS_CLASS, detail)
        return None


def get_spark(
    app_name: str = "dmds_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Defaults fit the host (``default_cpus``, ``default_driver_memory``;
    explicit arguments and ``extra_conf`` win) but the conf set is
    cluster-ready: AQE handles runtime re-planning (skew join
    splitting, partition coalescing) at any scale, and shuffle
    partition count should track total cores (set explicitly per
    deployment).

    The engine's JVM flags go in ``spark.driver.defaultJavaOptions``, so
    a caller's ``spark.driver.extraJavaOptions`` adds to them; a caller's
    ``spark.driver.extraClassPath`` is appended to the engine's jar.
    A ``local[...]`` master installs ``LOCAL_FS_CLASS`` for ``file://``
    (module docstring).
    """
    cpus = default_cpus()
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", default_driver_memory())
        # Column trees built from Python are converted to expressions
        # recursively on the py4j thread: a 300-deep tree overflowed the
        # default 1 MiB stack while that code still ran interpreted
        .config("spark.driver.defaultJavaOptions", "-Xss4m")
        .config("spark.ui.enabled", "false")
        # the SQL status store keeps every retained execution's plan
        # metrics even with the UI off, and nothing here reads them
        .config("spark.sql.ui.retainedExecutions", "50")
        # plan introspection (plans/inspect.py) needs untruncated
        # FileScan metadata (PushedFilters/ReadSchema lines)
        .config("spark.sql.maxMetadataStringLength", "10000")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.spill.compress", "true")
    )
    extra_conf = dict(extra_conf or {})
    class_path = extra_conf.pop("spark.driver.extraClassPath", None)
    jar = None
    if master.split("[")[0] == "local":
        jar = local_fs_jar()
    else:
        log.warning("stock local file system kept (forks chmod per file): "
                    "%s is not on the executors of master %s",
                    LOCAL_FS_CLASS, master)
    if jar:
        builder = builder.config("spark.hadoop.fs.file.impl", LOCAL_FS_CLASS)
        class_path = os.pathsep.join(filter(None, (jar, class_path)))
    if class_path:
        builder = builder.config("spark.driver.extraClassPath", class_path)
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def release_materialized_state(spark: SparkSession) -> int:
    """Unpersist every persistent RDD (localCheckpoint snapshots from
    the dedup/clustering/curation pipelines) and clear the SQL cache.

    A finished query's checkpoint blocks stay in the block manager
    until the JVM ContextCleaner notices the Python-side reference
    died; across a long session (bench loop, notebook) that backlog
    inflates the heap and turns into multi-second GC pauses landing on
    unrelated queries. Calling this between queries makes memory usage
    per-query, not per-session. Returns the number of RDDs released."""
    jsc = spark.sparkContext._jsc
    rdds = list(jsc.getPersistentRDDs().values())
    for rdd in rdds:
        rdd.unpersist(False)
    spark.catalog.clearCache()
    return len(rdds)
