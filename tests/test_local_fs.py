"""The session's local file system (``dmds_spark/jvm/``): Hadoop's
checksummed ``LocalFileSystem`` whose raw layer sets permissions through
java.nio instead of forking ``chmod``. These tests pin what must not
change (file modes, ``.crc`` sidecars, read-side checksum verification),
what must (no child process per written file), and how the compiled jar
is cached."""

import glob
import json
import os
import shutil
import stat
import subprocess
import sys
import textwrap

import pytest
from py4j.protocol import Py4JJavaError

from dmds_spark import session
from dmds_spark.core.dims import DimSpec, WorldSpec
from dmds_spark.world import World

needs_javac = pytest.mark.skipif(
    session._javac() is None,
    reason="no javac: the session keeps Hadoop's stock local file system",
)

N_PARTS = 32


def spec() -> WorldSpec:
    # 32 chunks along the id: one partition dir per 32 ids
    return WorldSpec(dims=(DimSpec("id", 0, 1023, 32), DimSpec("v", 0, 1023, 1024)))


def loaded_world(spark, path) -> World:
    w = World(spark, spec(), path, physical_factors=(1, 1))
    w.insert_rows([{"id": i, "v": (7 * i) % 1024} for i in range(0, 1024, 4)])
    w.flush()
    return w


def committed_files(w: World) -> list[str]:
    owner = w._read_owner(w.current_version())
    return sorted(
        f
        for k, v in owner.items()
        for f in glob.glob(os.path.join(w._part_dir(k, w._version_dir(v)), "*.parquet"))
    )


def clone_counts(spark) -> tuple[int, int]:
    """(clones on the host, threads the driver JVM started): the first
    is ``/proc/stat``'s host-wide ``processes`` counter, which counts
    every new thread as well as every child process."""
    with open("/proc/stat") as fh:
        clones = next(int(line.split()[1]) for line in fh if line.startswith("processes"))
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return clones, mx.getThreadMXBean().getTotalStartedThreadCount()


def java_causes(exc: Py4JJavaError) -> list[str]:
    """Class names along the Java cause chain of ``exc``."""
    jexc = exc.java_exception
    names = []
    while jexc is not None:
        names.append(jexc.getClass().getName())
        jexc = jexc.getCause()
    return names


@needs_javac
def test_session_local_fs_is_nio(spark):
    fs = spark._jvm.org.apache.hadoop.fs.FileSystem.getLocal(
        spark._jsc.hadoopConfiguration())
    assert fs.getClass().getName() == session.LOCAL_FS_CLASS
    assert fs.getRaw().getClass().getName() == "dmds_spark.jvm.NioRawLocalFileSystem"


@needs_javac
def test_set_permission_sets_the_requested_mode(spark, tmp_path):
    """A no-op ``setPermission`` would leave the modes a file or dir is
    created with; each mode here differs from them. The sticky bit goes
    to the stock path."""
    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.FileSystem.getLocal(spark._jsc.hadoopConfiguration())
    f, d = tmp_path / "f", tmp_path / "d"
    f.write_bytes(b"x")
    d.mkdir()
    for path, mode in ((f, "604"), (f, "750"), (f, "000"), (d, "711"), (d, "1755")):
        fs.setPermission(jvm.org.apache.hadoop.fs.Path(str(path)),
                         jvm.org.apache.hadoop.fs.permission.FsPermission(mode))
        assert stat.S_IMODE(os.stat(path).st_mode) == int(mode, 8), (path, mode)


@needs_javac
def test_flush_writes_hadoop_default_modes_and_crc_sidecars(spark, tmp_path):
    w = loaded_world(spark, str(tmp_path / "w"))
    files = committed_files(w)
    assert len(files) == N_PARTS
    jvm = spark._jvm
    perm = jvm.org.apache.hadoop.fs.permission.FsPermission
    umask = perm.getUMask(spark._jsc.hadoopConfiguration())
    file_mode = perm.getFileDefault().applyUMask(umask).toShort()
    dir_mode = perm.getDirDefault().applyUMask(umask).toShort()
    vdir = w._version_dir(w.current_version())
    dirs = [root for root, _, _ in os.walk(vdir) if root != vdir]
    assert len(dirs) >= N_PARTS
    for d in dirs:
        assert stat.S_IMODE(os.stat(d).st_mode) == dir_mode, d
    for f in files:
        crc = os.path.join(os.path.dirname(f), f".{os.path.basename(f)}.crc")
        assert os.path.isfile(crc), f
        for p in (f, crc):
            assert stat.S_IMODE(os.stat(p).st_mode) == file_mode, p


@needs_javac
def test_corrupt_byte_fails_every_read_with_checksum_exception(spark, tmp_path):
    w = loaded_world(spark, str(tmp_path / "w"))
    victim = committed_files(w)[N_PARTS // 2]
    with open(victim, "r+b") as fh:
        size = fh.seek(0, os.SEEK_END)
        fh.seek(size // 2)
        byte = fh.read(1)
        fh.seek(size // 2)
        fh.write(bytes([byte[0] ^ 0xFF]))
    for _ in range(2):
        with pytest.raises(Py4JJavaError) as err:
            w.snapshot().collect()
        assert "org.apache.hadoop.fs.ChecksumException" in java_causes(err.value)
        # left in place: the next read fails the same way
        assert os.path.isfile(victim)


@needs_javac
def test_flush_forks_no_child_process_per_file(spark, tmp_path):
    """The stock file system forks ``chmod`` for every file, ``.crc``
    and directory a write creates (about 3.6 child processes per file
    on a 128-file load). The host counter also counts threads, so the
    threads the driver JVM started are taken off it; what is left (the
    child processes, plus any other process on the host) must stay
    below one per file written."""
    w = World(spark, spec(), str(tmp_path / "w"), physical_factors=(1, 1))
    w.insert_rows([{"id": i, "v": (7 * i) % 1024} for i in range(0, 1024, 4)])
    clones0, threads0 = clone_counts(spark)
    w.flush()
    clones1, threads1 = clone_counts(spark)
    files = committed_files(w)
    assert len(files) == N_PARTS
    children = (clones1 - clones0) - (threads1 - threads0)
    assert children < len(files), (clones1 - clones0, threads1 - threads0)


@needs_javac
def test_jar_is_cached_by_source_hash(tmp_path, monkeypatch):
    src, cache = tmp_path / "src", str(tmp_path / "cache")
    shutil.copytree(session.JVM_DIR, src, ignore=shutil.ignore_patterns("__jarcache__"))
    jar = session.build_jvm_jar(str(src), [cache])
    assert os.path.isfile(jar) and os.path.dirname(jar) == cache

    def no_javac(*a, **kw):
        raise AssertionError(f"javac ran: {a}")

    monkeypatch.setattr(session.subprocess, "run", no_javac)
    assert session.build_jvm_jar(str(src), [cache]) == jar
    monkeypatch.undo()

    runs = []
    real_run = subprocess.run

    def counted(*a, **kw):
        runs.append(a)
        return real_run(*a, **kw)

    monkeypatch.setattr(session.subprocess, "run", counted)
    with open(src / "NioLocalFileSystem.java", "a") as fh:
        fh.write("// changed\n")
    rebuilt = session.build_jvm_jar(str(src), [cache])
    assert rebuilt != jar and os.path.isfile(rebuilt) and len(runs) == 1
    # no temp build dir is left beside the jars
    assert sorted(os.listdir(cache)) == sorted(
        os.path.basename(p) for p in (jar, rebuilt))


@needs_javac
def test_jar_falls_back_to_the_next_cache_dir(tmp_path):
    src = tmp_path / "src"
    shutil.copytree(session.JVM_DIR, src, ignore=shutil.ignore_patterns("__jarcache__"))
    blocked = tmp_path / "file"
    blocked.write_text("")  # a file: nothing can be made below it
    fallback = str(tmp_path / "fallback")
    jar = session.build_jvm_jar(str(src), [str(blocked / "cache"), fallback])
    assert os.path.dirname(jar) == fallback


@needs_javac
def test_caller_jvm_options_and_class_path_add_to_the_engine_ones(tmp_path):
    """A new driver JVM (its options are fixed at launch) built with a
    caller's ``extraJavaOptions`` and ``extraClassPath``."""
    extra = str(tmp_path / "extra.jar")
    code = textwrap.dedent(f"""
        import json
        from dmds_spark.session import get_spark
        spark = get_spark(master="local[1]", shuffle_partitions=1, extra_conf={{
            "spark.driver.memory": "512m",
            "spark.driver.extraJavaOptions": "-Ddmds.probe=1",
            "spark.driver.extraClassPath": {extra!r},
        }})
        jvm = spark.sparkContext._jvm
        fs = jvm.org.apache.hadoop.fs.FileSystem.getLocal(spark._jsc.hadoopConfiguration())
        print(json.dumps({{
            "args": list(jvm.java.lang.management.ManagementFactory
                         .getRuntimeMXBean().getInputArguments()),
            "cp": jvm.java.lang.System.getProperty("java.class.path"),
            "fs": fs.getClass().getName(),
        }}))
        spark.stop()
    """)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "PYTHONPATH": os.pathsep.join(
        p for p in (repo, os.environ.get("PYTHONPATH")) if p)}
    out = subprocess.run([sys.executable, "-c", code], cwd=repo, env=env,
                         capture_output=True, text=True, timeout=300, check=True)
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert "-Xss4m" in got["args"] and "-Ddmds.probe=1" in got["args"], got["args"]
    cp = got["cp"].split(os.pathsep)
    assert session.local_fs_jar() in cp and extra in cp, cp
    assert got["fs"] == session.LOCAL_FS_CLASS
