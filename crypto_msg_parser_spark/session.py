"""SparkSession factory.

Local mode is a stand-in for a multi-executor cluster: shuffle partitions
scale with cores so the same job shape holds at 1000 executors (set
spark.sql.shuffle.partitions ~ 2-3x total cores there; AQE coalesces).
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import subprocess
import tempfile
import uuid
import warnings
import zipfile

import pyspark
from pyspark.sql import DataFrame, SparkSession

# the directory holding this package: the workers import the daemon from it
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# the local FileSystem that forks no chmod or readlink; its FileContext
# twin is f"{NO_FORK_FS}$Fs" (see jvm/NoForkLocalFileSystem.java)
NO_FORK_FS = "crypto_msg_parser_spark.jvm.NoForkLocalFileSystem"
NO_FORK_FS_SOURCE = os.path.join(
    PACKAGE_ROOT, "crypto_msg_parser_spark", "jvm", "NoForkLocalFileSystem.java"
)


def _driver_mem() -> str:
    """Half of physical RAM, 1-48 GiB: the driver heap of local mode holds
    every executor, and the host may be far smaller than a cluster node."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(48, ram // (2 << 30)))}g"


def no_fork_fs_jar() -> str:
    """The jar of NO_FORK_FS, compiled against Spark's Hadoop client jar
    on first use and cached under $XDG_CACHE_HOME (or ~/.cache), keyed by
    the source and that jar's name. Not under the temp dir: a caller that
    points TMPDIR at a per-run dir would compile it every run (~2.5 CPU
    s). Raises OSError, RuntimeError or CalledProcessError if it cannot
    be built."""
    jars_dir = os.path.join(
        os.environ.get("SPARK_HOME") or os.path.dirname(pyspark.__file__), "jars"
    )
    hadoop = glob.glob(os.path.join(jars_dir, "hadoop-client-api-*.jar"))
    if len(hadoop) != 1:
        raise RuntimeError(f"no single hadoop-client-api jar in {jars_dir}")
    with open(NO_FORK_FS_SOURCE, "rb") as f:
        key = hashlib.sha256(f.read() + os.path.basename(hadoop[0]).encode())
    cache = os.path.join(
        os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache"),
        "crypto_msg_parser_spark",
        key.hexdigest(),
    )
    jar = os.path.join(cache, "no-fork-fs.jar")
    if os.path.isfile(jar):
        return jar
    javac = shutil.which("javac")
    if javac is None:
        raise RuntimeError("javac is not on PATH")
    os.makedirs(cache, exist_ok=True)
    with tempfile.TemporaryDirectory() as classes:
        subprocess.run(
            [javac, "--release", "17", "-nowarn", "-cp", hadoop[0], "-d", classes,
             NO_FORK_FS_SOURCE],
            check=True, capture_output=True, text=True,
        )
        # written whole under a temp name, then renamed: a concurrent
        # session sees either no jar or a complete one
        fd, tmp = tempfile.mkstemp(dir=cache, suffix=".tmp")
        try:
            with os.fdopen(fd, "wb") as f, zipfile.ZipFile(f, "w") as z:
                for cls in glob.glob(f"{classes}/**/*.class", recursive=True):
                    z.write(cls, os.path.relpath(cls, classes))
            os.replace(tmp, jar)
        except BaseException:
            os.unlink(tmp)
            raise
    return jar


def _no_fork_fs_conf() -> dict[str, str]:
    """Confs that make the session's file: FileSystem NO_FORK_FS, or none,
    with a warning saying why, when its jar cannot be built."""
    try:
        jar = no_fork_fs_jar()
    except (OSError, RuntimeError, subprocess.SubprocessError) as e:
        why = getattr(e, "stderr", None) or e
        warnings.warn(f"keeping Hadoop's stock local FileSystem: {why}", stacklevel=3)
        return {}
    return {
        "spark.driver.extraClassPath": jar,
        "spark.hadoop.fs.file.impl": NO_FORK_FS,
        "spark.hadoop.fs.AbstractFileSystem.file.impl": f"{NO_FORK_FS}$Fs",
    }


def get_spark(
    app_name: str = "crypto_msg_parser_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    cores: None -> local[*]; otherwise local[cores].
    shuffle_partitions defaults to the core count — on a real cluster this
    would be executors*cores*2; AQE coalesces small post-shuffle partitions
    either way so over-provisioning is safe.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    builder = SparkSession.builder
    # Under spark-submit the master comes from the launcher (--master /
    # cluster manager); forcing local[] here would silently un-cluster the
    # job. SPARK_GRAFT_INHERIT_MASTER=1 defers to the submit-time master.
    if os.environ.get("SPARK_GRAFT_INHERIT_MASTER") == "1":
        warnings.warn(
            "keeping Hadoop's stock local FileSystem: SPARK_GRAFT_INHERIT_MASTER=1",
            stacklevel=2,
        )
    else:
        builder = (
            builder.master(f"local[{cores}]")
            # On Python < 3.12 every task of a reused worker re-read
            # pyspark.zip's directory ~16 times (~0.2 CPU s) before the
            # user function ran; this daemon re-reads it only when it
            # changed (see pydaemon.py). Local mode only: a cluster's
            # executors may get the package per task (--py-files) and
            # could not start it, so they keep pyspark.daemon. The package
            # root on the workers' path lets it start from any cwd.
            .config("spark.python.daemon.module", "crypto_msg_parser_spark.pydaemon")
            .config("spark.executorEnv.PYTHONPATH", PACKAGE_ROOT)
        )
        # Without native Hadoop, Hadoop's local FileSystem forks chmod for
        # every file, .crc and directory a write creates (the three lake
        # writes of 27 files in all started ~330 processes), and readlink
        # for every file a streaming checkpoint renames; NO_FORK_FS does
        # both in-process. Local mode only: the jar is on this host's
        # driver class path, which a cluster's executors do not share.
        for k, v in _no_fork_fs_conf().items():
            builder = builder.config(k, v)
    builder = (
        builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # exchange payloads carry case-significant keys (binance e/E, k.T/k.t)
        .config("spark.sql.caseSensitive", "true")
        # HotSpot refuses to JIT methods over 8000 bytecode bytes; Spark's
        # default hugeMethodLimit (65535) happily emits whole-stage methods
        # above that, which then run INTERPRETED. The routing ladder that
        # once did (19-23s/600k rows) now runs inside a lambda and compiles
        # nothing; the setting still keeps any other oversized stage — a
        # wide parse projection, a union of 20 exchange arms — on
        # per-operator codegen instead. 8000 is the value the Spark docs
        # recommend for HotSpot.
        .config("spark.sql.codegen.hugeMethodLimit", "8000")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", _driver_mem()))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # joins whose keys CONTAIN the storage bucket column (seen-set
        # anti-join on [rank_bucket, url_hash, canonical] over tables
        # bucketed by rank_bucket) are co-partitioned by construction;
        # without this the planner re-shuffles one side to the full key
        # tuple even though the subset partitioning already clusters it
        .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def finalize_memory_sink(df, name: str):
    """Seal a memory-sink-derived streaming result into a self-contained
    frame.

    Streaming rows drain an availableNow job into a uuid-named memory-sink
    temp view and return a frame over it. Left as a lazy view read, every
    run in one session leaks a global temp view (and the sink's driver-held
    rows stay reachable for the session's life) — bench.py's per-pass
    STREAMING rebuild accumulated reps x rows of them (ADVICE r4 #4). So:
    eagerly localCheckpoint the result (it no longer needs the view to
    re-execute), DROP the sink view, and hand back the checkpointed frame —
    callers that rebuild (bench.py) can .unpersist() the previous one to
    release everything.
    """
    out = df.localCheckpoint(eager=True)
    df.sparkSession.catalog.dropTempView(name)
    return out


# seconds an availableNow drain may take before it is stopped as stuck
DRAIN_TIMEOUT_S = 600


def await_drain(q) -> None:
    """Wait for availableNow query ``q`` to finish.

    awaitTermination(t) returns False on timeout WITHOUT stopping the
    query, and a sink read then holds a partial result: a query not
    finished within DRAIN_TIMEOUT_S is stopped and raises, as is one
    whose wait fails any other way."""
    try:
        if not q.awaitTermination(DRAIN_TIMEOUT_S):
            raise RuntimeError(
                f"{q.name or q.id} did not drain in {DRAIN_TIMEOUT_S}s"
            )
    except BaseException:
        q.stop()
        raise


def drain_available_now(
    spark: SparkSession,
    source,
    pipeline=lambda stream: stream,
    *,
    schema: str | None = None,
    max_files_per_trigger: int | None = None,
    output_mode: str = "append",
    project=lambda sink: sink,
    name: str = "drain",
) -> DataFrame:
    """Run ``pipeline(stream)`` under Trigger.availableNow into a
    uuid-named memory sink (await_drain) and return ``project(sink)``,
    finalized.

    ``source`` is what the stream reads:
    - a list of batch frames: each is written as ONE parquet file, with
      mtimes in list order, so ``max_files_per_trigger=1`` makes each its
      own micro-batch;
    - a batch frame: written as partitioned, one file per partition;
    - a streaming frame: read as it is (``schema`` is then unused).
    File sources are read back with ``schema``. ``project`` runs on the
    sink table BEFORE finalize_memory_sink, so the returned frame is the
    checkpointed one callers can unpersist. The source and checkpoint
    dirs are removed, and on failure the sink view is dropped."""
    root = tempfile.mkdtemp(prefix=f"{name}_")
    src, ckpt = os.path.join(root, "src"), os.path.join(root, "ckpt")
    sink = f"{name}_{uuid.uuid4().hex[:12]}"
    try:
        if isinstance(source, DataFrame) and source.isStreaming:
            stream = source
        else:
            if isinstance(source, DataFrame):
                source.write.mode("overwrite").parquet(src)
            else:
                os.makedirs(src)
                for i, part in enumerate(source):
                    tmp = os.path.join(root, f"part_{i}")
                    part.coalesce(1).write.parquet(tmp)
                    (pf,) = glob.glob(f"{tmp}/part-*.parquet")
                    dest = os.path.join(src, f"{i}.parquet")
                    shutil.move(pf, dest)
                    os.utime(dest, (1_700_000_000 + i * 10,) * 2)
            reader = spark.readStream.schema(schema)
            if max_files_per_trigger is not None:
                reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
            stream = reader.parquet(src)
        await_drain(
            pipeline(stream)
            .writeStream.format("memory")
            .queryName(sink)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
    except BaseException:
        spark.catalog.dropTempView(sink)
        raise
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return finalize_memory_sink(project(spark.table(sink)), sink)
