"""The fork-free ``file://`` FileSystem (tera_spark/jvm): what it writes
equals what the stock LocalFileSystem writes, it creates files without
forking ``chmod``, and get_spark registers it only in a JVM it launches."""

import importlib.util
import os
import shutil
import stat
import types

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from tera_spark import session
from tera_spark.pipeline.run import write_bucketed


def _reaped_ticks(pid: int) -> int:
    """cutime + cstime of ``pid``: CPU of the children it has reaped."""
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return int(fields[13]) + int(fields[14])


def _fs(spark):
    jvm = spark._jvm
    return jvm, jvm.org.apache.hadoop.fs.FileSystem.get(
        jvm.java.net.URI("file:///"), spark.sparkContext._jsc.hadoopConfiguration()
    )


def _mode(p) -> int:
    return stat.S_IMODE(os.stat(p).st_mode)


def test_file_scheme_is_served_by_the_fork_free_class(spark):
    _, fs = _fs(spark)
    assert fs.getClass().getName() == session.LOCALFS_CLASS
    assert fs.getRawFileSystem().getClass().getName() == "tera_spark.fs.NioRawLocalFileSystem"


def test_bucketed_write_reaps_no_child(spark, tmp_path):
    """The stock class forks chmod for each file, .crc and directory: 21-27
    clock ticks of reaped-child CPU per 32-bucket write on 4 vCPUs."""
    df = spark.range(0, 5000, 1, 4).select(F.col("id").cast("string").alias("conv_id"))
    write_bucketed(df, "mentions", str(tmp_path / "warm"))  # class loading, codegen
    pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    before = _reaped_ticks(pid)
    write_bucketed(df, "mentions", str(tmp_path / "t"))
    assert _reaped_ticks(pid) - before == 0
    assert len([d for d in os.listdir(tmp_path / "t") if d.startswith("_bucket=")]) == 32


def test_modes_and_crc_match_stock_local_fs(spark, tmp_path):
    jvm, fs = _fs(spark)
    stock = jvm.org.apache.hadoop.fs.LocalFileSystem()
    stock.initialize(jvm.java.net.URI("file:///"), spark.sparkContext._jsc.hadoopConfiguration())
    perm = jvm.org.apache.hadoop.fs.permission.FsPermission.valueOf
    seen = {}
    for name, f in (("stock", stock), ("nio", fs)):
        d = tmp_path / name
        for sub in ("dir", "sticky"):  # default creates: fs.permissions.umask-mode 022
            f.mkdirs(jvm.org.apache.hadoop.fs.Path(str(d / sub)))
        out = f.create(jvm.org.apache.hadoop.fs.Path(str(d / "file")))
        out.write(b"abc")
        out.close()
        for mode, sym in ((0o600, "-rw-------"), (0o750, "-rwxr-x---")):
            f.mkdirs(jvm.org.apache.hadoop.fs.Path(str(d / f"dir{mode:o}")), perm("d" + sym[1:]))
            p = jvm.org.apache.hadoop.fs.Path(str(d / f"file{mode:o}"))
            f.create(p).close()
            f.setPermission(p, perm(sym))
            assert _mode(d / f"file{mode:o}") == mode
        f.setPermission(jvm.org.apache.hadoop.fs.Path(str(d / "sticky")), perm("drwxrwxrwt"))
        # a directory made in a set-group-ID directory inherits the bit, and
        # chmod with a numeric mode keeps it
        os.mkdir(d / "sgid")
        os.chmod(d / "sgid", 0o2775)
        f.mkdirs(jvm.org.apache.hadoop.fs.Path(str(d / "sgid" / "child")))
        f.create(jvm.org.apache.hadoop.fs.Path(str(d / "sgid" / "file"))).close()
        seen[name] = {
            os.path.relpath(os.path.join(r, n), d): _mode(os.path.join(r, n))
            for r, dirs, files in os.walk(d)
            for n in dirs + files
        }
    assert seen["nio"] == seen["stock"]
    got = seen["nio"]
    assert got["file"] == 0o644 and got[".file.crc"] == 0o644 and got["dir"] == 0o755
    assert got["sticky"] == 0o1777  # java.nio cannot set it: the parent's chmod path did
    assert got["sgid/child"] == 0o2755 and got["sgid/file"] == 0o644
    assert got["dir600"] == 0o600 and got["dir750"] == 0o750
    assert got["file600"] == 0o600 and got[".file600.crc"] == 0o600
    assert (tmp_path / "nio" / "file").read_bytes() == (tmp_path / "stock" / "file").read_bytes()
    assert (tmp_path / "nio" / ".file.crc").read_bytes() == (tmp_path / "stock" / ".file.crc").read_bytes()


def test_rename_onto_existing_file_fails(spark, tmp_path):
    jvm, fs = _fs(spark)
    a, b = (jvm.org.apache.hadoop.fs.Path(str(tmp_path / n)) for n in "ab")
    for p in (a, b):
        fs.create(p).close()
    assert fs.rename(a, b) is False
    assert (tmp_path / "a").exists() and (tmp_path / "b").exists()
    assert fs.rename(a, jvm.org.apache.hadoop.fs.Path(str(tmp_path / "c"))) is True
    assert not (tmp_path / "a").exists() and (tmp_path / "c").exists()


def test_set_permission_on_missing_path_raises(spark, tmp_path):
    jvm, fs = _fs(spark)
    perm = jvm.org.apache.hadoop.fs.permission.FsPermission.valueOf("-rw-------")
    with pytest.raises(Py4JJavaError) as err:
        fs.setPermission(jvm.org.apache.hadoop.fs.Path(str(tmp_path / "missing")), perm)
    assert jvm.java.lang.Class.forName("java.io.IOException").isInstance(err.value.java_exception)


@pytest.mark.parametrize(
    "master, gateway, expect",
    [
        (None, False, {"driver", "impl"}),
        ("local-cluster[2,1,1024]", False, {"driver", "impl", "executor"}),
        (None, True, set()),
    ],
)
def test_get_spark_registers_the_class_only_in_a_jvm_it_launches(monkeypatch, master, gateway, expect):
    keys = {
        "driver": "spark.driver.extraClassPath",
        "executor": "spark.executor.extraClassPath",
        "impl": "spark.hadoop.fs.file.impl",
    }
    for var in ("SPARK_HOME", "PYTHONPATH", "PYSPARK_GATEWAY_PORT"):
        monkeypatch.setenv(var, os.environ.get(var, ""))
    if gateway:
        monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "1")
    else:
        monkeypatch.delenv("PYSPARK_GATEWAY_PORT")
    seen = []
    fake = types.SimpleNamespace(sparkContext=types.SimpleNamespace(setLogLevel=lambda level: None))
    monkeypatch.setattr(
        SparkSession.Builder, "getOrCreate", lambda self: seen.append(dict(self._options)) or fake
    )
    session.get_spark("wiring", cores=2, master=master)
    (opts,) = seen
    assert {k for k, v in keys.items() if v in opts} == expect
    for k in expect - {"impl"}:
        assert opts[keys[k]] == session.LOCALFS_JAR
    if "impl" in expect:
        assert opts[keys["impl"]] == session.LOCALFS_CLASS


@pytest.mark.skipif(shutil.which("javac") is None, reason="javac not installed")
def test_committed_jar_matches_its_sources():
    """The jar is committed (compiling it at session start would cost every
    session javac's seconds); tools/build_jvm.py rebuilds it."""
    path = os.path.join(os.path.dirname(__file__), "..", "tools", "build_jvm.py")
    spec = importlib.util.spec_from_file_location("build_jvm", path)
    build_jvm = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(build_jvm)
    assert build_jvm.jar_classes() == build_jvm.compile_classes(), "run tools/build_jvm.py"
