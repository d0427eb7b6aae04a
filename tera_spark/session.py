"""SparkSession factory tuned for the KG-construction workload.

Local mode here; the same config block is what we'd pass to spark-submit on
a real cluster (AQE on, Arrow on, skew-join on, UTC, explicit shuffle
parallelism). See SURVEY.md §4.3.

When ``get_spark`` launches the JVM itself it also serves ``file://`` with
``tera_spark.fs.NioLocalFileSystem`` (see ``_localfs_conf``): this install
has no native Hadoop library, so the stock local FileSystem forks ``chmod``
for every file, ``.crc`` sidecar and directory it creates — 910 forks per
kgbench ``build`` — and the class sets the same mode bits in-process.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _mem_available_gb() -> float:
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemAvailable:"):
                    return int(line.split()[1]) / (1024 * 1024)
    except OSError:
        pass
    return 1e9  # unknown → assume plenty (non-Linux dev box)


def _pin_opts(heap: str, pretouch: bool = True) -> str:
    """Heap-pinning JVM flags. ``Xms=Xmx -XX:-ShrinkHeapInSteps`` stops G1
    from growing/uncommitting the heap continuously — the round-2 measured
    pathology where every re-committed page faults on first touch (>60% of
    ALL cpu in kernel time during 32-thread runs). ``AlwaysPreTouch``
    additionally zeroes the whole heap at JVM startup: right for one
    long-lived driver JVM and — measured both ways in round 3 — also right
    for executors on this guest: skipping executor pretouch moved the
    page-zeroing cost INTO the measured runs (warm runs went kernel-bound,
    0.8 cores user vs 5.5 system), strictly worse than paying it once at
    launch. Gated: TERA_SPARK_PIN_HEAP=0 disables, and the pin is skipped
    automatically when the host lacks 1.25× the heap in MemAvailable (a full
    upfront commit on a tight host would OOM where lazy commit survives)."""
    if os.environ.get("TERA_SPARK_PIN_HEAP", "1") == "0":
        return ""
    gb = float(heap.rstrip("gG")) if heap.lower().endswith("g") else 8.0
    if _mem_available_gb() < 1.25 * gb:
        return ""
    pt = " -XX:+AlwaysPreTouch" if pretouch else ""
    return f"-Xms{heap}{pt} -XX:-ShrinkHeapInSteps"


# file:// FileSystem registered for sessions whose JVM get_spark launches;
# the jar is built from tera_spark/jvm/src by tools/build_jvm.py.
LOCALFS_CLASS = "tera_spark.fs.NioLocalFileSystem"
LOCALFS_JAR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm", "tera_spark-fs.jar")


def _localfs_conf(master: str | None) -> dict[str, str]:
    """Spark conf that serves ``file://`` with LOCALFS_CLASS.

    Without Hadoop's native library (``NativeCodeLoader`` finds none in this
    install), ``RawLocalFileSystem.setPermission`` runs ``chmod`` through
    ``Shell.execCommand`` for every file, ``.crc`` sidecar and directory it
    creates. Measured with the stock class on 4 vCPUs: one cold kgbench
    ``build`` forks 910 times (270 part files, 280 ``.crc`` files, 10
    ``_SUCCESS`` files, 350 directories). On the 30-conversation test
    fixture a base run forks 749 times, an apply of 4 conversations 485
    times and a forget of 3 conversations 734 times. Each 32-bucket
    ``write_bucketed`` adds 21-27 clock ticks of reaped-child CPU to the
    JVM. LOCALFS_CLASS writes the same bytes, ``.crc`` sidecars and mode
    bits with no fork (tera_spark/jvm/src).

    Empty under spark-submit (``PYSPARK_GATEWAY_PORT`` set), even when a
    master is passed: that JVM is already running with a class path this
    function cannot extend, and naming a class it cannot load would break
    every file access. ``local-cluster`` executors are JVMs of their own,
    so they get the jar too; ``local[n]`` executors run in the driver.
    """
    if "PYSPARK_GATEWAY_PORT" in os.environ:
        return {}
    conf = {
        "spark.driver.extraClassPath": LOCALFS_JAR,
        "spark.hadoop.fs.file.impl": LOCALFS_CLASS,
    }
    if master and master.startswith("local-cluster["):
        conf["spark.executor.extraClassPath"] = LOCALFS_JAR
    return conf


def get_spark(
    app_name: str = "tera_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    master: str | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` defaults to $SPARK_GRAFT_CPUS or all local cores. Shuffle
    partitions default to the core count — right-sized for local mode; on a
    real cluster this knob scales with executor count (and AQE coalesces
    down at runtime anyway).

    ``master`` overrides the default ``local[cores]`` — pass
    ``local-cluster[W,C,MB]`` to run W separate executor JVMs on this box
    (the multi-executor memory topology of a real cluster; used by the
    scaling bench to measure N→4N executor efficiency without sharing one
    JVM's memory subsystem across all cores).
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 4)

    # Make tera_spark importable by python workers/daemon (the warm daemon
    # module below is resolved by the worker python, whose PYTHONPATH does
    # not automatically include the repo).
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if repo_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = repo_root + (os.pathsep + pp if pp else "")

    driver_mem = os.environ.get("TERA_SPARK_DRIVER_MEM", "8g")
    conf = dict(extra_conf or {})
    # Merge (never replace) user-supplied JVM options with the heap pin.
    user_jvm = conf.pop("spark.driver.extraJavaOptions", "")
    driver_jvm = " ".join(x for x in (user_jvm, _pin_opts(driver_mem)) if x)

    # Under spark-submit (PythonRunner sets the gateway port) the master
    # comes from the submit command line — forcing local[cores] here would
    # silently override `spark-submit --master ...`. Only set a master when
    # the caller asked for one or we're a plain `python` process.
    builder = SparkSession.builder
    if master is not None or "PYSPARK_GATEWAY_PORT" not in os.environ:
        builder = builder.master(master or f"local[{cores}]")
    builder = (
        builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # NB (round 6): a global
        # spark.sql.adaptive.coalescePartitions.minPartitionSize=128k was
        # A/B'd both ways and REJECTED. It widened compute-dense
        # small-shuffle stages (t10_results_triples 0.86) — but it also
        # triples the task/output-file count of every 4-32 MB stage
        # shuffle, which cost the STAGED pipeline (pipeline/run.py, the
        # scaling-criterion shape) ~11% at 2M turns (41.6s vs 46.2s warm,
        # knob-isolated interleaved A/B). Compute-dense stages that need
        # width get an explicit, caller-scoped respread instead
        # (operators/extract/effects.py:results_triples(respread=...)).
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # zstd over the snappy default for every parquet write: measured on
        # the 5.7M-turn pipeline (local[32], best-of-2 per codec) the
        # triples stage is 43.9s/196MB with zstd vs 47.6s/345MB snappy vs
        # 45.6s/1699MB uncompressed — no slower to write, 43% fewer bytes,
        # and at the 100 TB design point the byte cut is downstream read
        # bandwidth, not just storage. Overridable via extra_conf.
        .config("spark.sql.parquet.compression.codec", "zstd")
        # Fork UDF workers from a daemon that has pandas/pyarrow already
        # imported (COW-warm) — kills the per-worker cold-import stampede
        # on wide-parallelism UDF stages. See tera_spark/warm_daemon.py.
        .config("spark.python.daemon.module", "tera_spark.warm_daemon")
        .config("spark.python.worker.reuse", "true")
    )
    if driver_jvm:
        builder = builder.config("spark.driver.extraJavaOptions", driver_jvm)
    for k, v in _localfs_conf(master).items():
        # a caller's class path is extended, not replaced
        if k.endswith(".extraClassPath") and conf.get(k):
            v = conf.pop(k) + os.pathsep + v
        builder = builder.config(k, v)
    if master and master.startswith("local-cluster["):
        # Worker JVMs locate spark scripts/jars via SPARK_HOME (pip installs
        # don't set it; the pyspark package dir is the correct value).
        os.environ.setdefault("SPARK_HOME", __import__("pyspark").__path__[0])
        # Multi-executor mode: size + pin each executor JVM the same way the
        # driver is pinned (workers inherit this env via the launched JVMs).
        exec_mem = os.environ.get("TERA_SPARK_EXECUTOR_MEM", "4g")
        builder = builder.config("spark.executor.memory", exec_mem)
        # Optional per-executor thread-pool sizing (GC/JIT/netty pools down
        # from box-width to executor-core-width), the standard knob when
        # packing executors on shared nodes. Measured OFF as the better
        # default on THIS box (A/B at 5.7M turns: [1,8] 217s vs 175s,
        # [4,8] 173s vs 82s with full pools) — with 32 vCPUs and staggered
        # pauses, box-wide GC bursts borrow idle cores profitably. On real
        # multi-tenant nodes turn it on: TERA_SPARK_SIZE_EXEC_POOLS=1.
        exec_jvm = ""
        if os.environ.get("TERA_SPARK_SIZE_EXEC_POOLS", "0") == "1":
            try:
                per_cores = int(master.split("[", 1)[1].split(",")[1])
            except (IndexError, ValueError):
                per_cores = max(2, cores)
            gc_threads = max(2, per_cores)
            io_threads = max(2, per_cores)
            exec_jvm = (
                f"-XX:ParallelGCThreads={gc_threads} "
                f"-XX:ConcGCThreads={max(1, gc_threads // 2)} "
                f"-XX:CICompilerCount={max(2, min(4, per_cores))}"
            )
            builder = (
                builder.config("spark.shuffle.io.serverThreads", str(io_threads))
                .config("spark.shuffle.io.clientThreads", str(io_threads))
            )
        # Executors pin WITH pretouch: on this guest every lazy first-touch
        # page fault is expensive (round-2 measurement), and removing
        # pretouch moved that cost into the measured runs (re-measured in
        # round 3: warm runs went kernel-bound, 0.8 cores user vs 5.5
        # system). Startup pretouch happens before any job runs and is
        # outside the bench's timed region.
        exec_pin = _pin_opts(exec_mem, pretouch=True)
        if exec_pin:
            exec_jvm = (exec_pin + " " + exec_jvm).strip()
        if exec_jvm:
            builder = builder.config("spark.executor.extraJavaOptions", exec_jvm)
        # executors are separate JVMs — they resolve python workers + the
        # warm daemon through this path
        builder = builder.config(
            "spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"]
        )
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
