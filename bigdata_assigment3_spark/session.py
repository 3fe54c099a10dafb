"""SparkSession construction, per-session config hardening, private
session clones, and the two pieces of session-global state the
operators share.

Every config here is chosen for the 100 TB target, not just local
tests: AQE re-plans shuffles at runtime (skew joins, partition
coalescing), Arrow keeps the Python<->JVM boundary vectorized, and
UTC session time keeps results comparable across engines/clusters.

Session memos (:func:`session_memo`).  An index-like intermediate
that several queries consume (the shingle inverted index, the
verified minhash pairs, the PQ codebooks, a parquet table's inferred
schema ...) is built once per (session, builder, args) and reused by
every later query of that session; ``args`` are the builder's
arguments after ``spark``, all hashable.  Every DataFrame a builder
returns is ``lineage_checkpoint(df, big=...)`` of its build: the
checkpoint job runs inside the builder, so the value is materialized
before any consumer plans against it, and its logical plan is one
``LogicalRDD`` leaf that reports its measured size.  A warm read therefore plans and runs one scan
instead of re-planning the whole build chain against a cache, and a
consumer's exchange census counts only its own shuffles.  A local
checkpoint never recomputes its blocks, so a value cannot change under
a holder (the curriculum range copy's offsets were collected from ITS
boundaries; a re-sampled rebuild could move them); the price is that a
lost executor takes its blocks with it and later reads of the value
fail.  ``SPARK_GRAFT_CHECKPOINT_DIR`` selects the reliable checkpoint,
which survives executor loss.  Memory level: ``big=True`` marks a
corpus-sized value (the inverted index, signatures, the semantic
assignment, the PQ frame and codes, the range copy) and puts it on
DISK_ONLY, so pinned blocks never compete with execution memory;
bounded values (pair tables, component labels) keep MEMORY_AND_DISK.
A miss first drops the entries of dead sessions — their blocks died
with their SparkContext — and then builds.  An entry of the LIVE
session is never dropped, since a result the caller still holds may
read its blocks; a session therefore holds at most one entry per
(builder, args).  Hits and misses are counted per builder
(:func:`memo_stats`).

Private clones (:func:`isolated`).  Some queries need a conf other
than the caller's (AQE off for partitioning-preserving checkpoints,
keyspace-sized state partitions for a stream, the runtime bloom-filter
gates while a plan optimizes).  Session confs are global to the
session, so such a query never writes the caller's: it runs in a clone
of the caller's session with its confs set there.  The clone shares
the SparkContext, the cache, the memo entries and the staging dirs,
and starts from a copy of the caller's runtime conf and temp views, so
a conf the caller set (a test's hostile partitioning, say) still holds
inside it.  Any number of clones, nested or on other threads, run at
once; a memory sink's view lives in the clone that ran the stream.
A clone is hardened when it is made and then keeps its own confs:
:func:`ensure_session_conf` leaves it alone.  Building one costs about
10 ms and its first plan some 40 ms more, so only the queries that
need another conf make one.

Staging dirs (:func:`stage_dir`, :func:`staged_fixture`).  A query
that writes files to read them back (a sink round trip, a codec
artifact, a streamed micro-batch) stages them in one place:
``scratch_dir()/bd3_{tag}[_{sf_tag(sf_dir)}]_{applicationId}``.  The
sf part (:func:`sf_tag`) hashes the full data-dir path, so two data
dirs that share a basename never share a dir; the applicationId means
two sessions never share one either, so no session can empty or
rewrite files another session is still reading, and nothing needs a
cross-session lock or a stage-and-rename.  :func:`stage_dir` is the
fresh per-call kind: every call empties the dir and leaves it
uncreated for the writer, so a lazy result of an earlier call with the
same (tag, sf_dir) no longer reads.  :func:`staged_fixture` is the
write-once kind: written once per (session, tag, sf_dir) and reused,
with a ``_DONE`` marker written only after the writer returns, so a
crash mid-write is rewritten instead of trusted.
"""

from __future__ import annotations

import functools
import hashlib
import os
import shutil
import threading
import uuid
from collections.abc import Callable
from typing import TypeVar

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession

T = TypeVar("T")

# Dynamic SQL confs that queries rely on.  Applied defensively at query
# entry too (ensure_session_conf) because the driver may hand us a
# session it built itself.
_SQL_CONF = {
    # testdata events.parquet has shipped as TIMESTAMP(NANOS) (rejected
    # by Spark's parquet reader by default; read as long and convert)
    # and as timestamp[us] without timezone (inferred TIMESTAMP_NTZ,
    # which watermarks/unix_micros reject — read as TIMESTAMP instead;
    # session timezone is UTC so the instant is identical).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # DuckDB (the correctness oracle) is UTC-naive; pin Spark to UTC.
    "spark.sql.session.timeZone": "UTC",
    # Pin ANSI mode (the Spark 4 default) explicitly: size(NULL) is -1
    # under non-ANSI legacy sessions, which silently flips NULL-input
    # semantics away from the DuckDB oracles on driver-owned sessions.
    "spark.sql.ansi.enabled": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # BEGIN ... END scripts (sql_scripting_query); the Spark 4.1 default
    "spark.sql.scripting.enabled": "true",
}

# set on every session :func:`isolated` returns (see the module docstring)
_ISOLATED_KEY = "bd3.session.isolated"


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8)))


def scratch_dir() -> str:
    """Fastest writable local scratch for ephemeral engine files
    (streaming state/checkpoints, staged micro-batch inputs, shuffle
    dirs): a tmpfs mount when one exists, else the process tempdir.

    Why this matters (measured, round 14): streaming state-store
    commits are one fsync'd delta file per state partition per
    micro-batch, and on this sandbox's virtio disk those small-file
    fsyncs intermittently stall seconds each — stream_bitmap_overlap's
    recentProgress showed cumulative commitTimeMs of 41-84 SECONDS for
    ~800 state rows while the box sat "idle" (D-state load spikes with
    0% CPU).  The cluster translation is standard ops guidance, not a
    sandbox hack: put spark.local.dir and state checkpoints on the
    fastest local volume (NVMe/instance storage), never a shared or
    latency-spiky device; durable checkpoints for RESTARTABLE
    production streams belong on HDFS/S3 (those queries pass explicit
    checkpointLocation — see stream_restart_resume)."""
    override = os.environ.get("SPARK_GRAFT_SCRATCH")
    if override:
        return override
    shm = "/dev/shm"
    if os.path.isdir(shm) and os.access(shm, os.W_OK):
        # tmpfs is RAM-backed and often tiny (Docker defaults /dev/shm
        # to 64 MB; many hosts cap it at 50% RAM) — a sizable shuffle
        # through an undersized tmpfs fails with ENOSPC or converts
        # spill into memory pressure.  Only prefer it when it has real
        # headroom (round-14 advice); scaled runs pin SPARK_GRAFT_SCRATCH
        # to disk regardless (tests/scale_audit.py).
        try:
            st = os.statvfs(shm)
            shm_free_gb = st.f_bavail * st.f_frsize / 2**30
        except OSError:
            shm_free_gb = 0.0
        if shm_free_gb >= 16.0:
            d = os.path.join(shm, "bd3_scratch")
            os.makedirs(d, exist_ok=True)
            return d
    import tempfile

    return tempfile.gettempdir()


def ensure_session_conf(spark: SparkSession) -> SparkSession:
    """Apply dynamic confs to an existing session (driver-owned or ours).
    A private clone was hardened when it was made and is left alone."""
    if spark.conf.get(_ISOLATED_KEY, None):
        return spark
    for k, v in _SQL_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on this build — best effort
    try:
        # A driver-owned session keeps the 200 default; AQE coalesces
        # that for batch but NOT for stateful streaming (AQE is
        # disabled there), so size it to the actual parallelism.
        if spark.conf.get("spark.sql.shuffle.partitions") == "200":
            spark.conf.set("spark.sql.shuffle.partitions", str(default_parallelism()))
    except Exception:
        pass
    return spark


def lineage_checkpoint(df, big: bool = False):
    """Truncate lineage: in iterative loops (EM, label propagation) and
    at every session-memo boundary (see the module docstring).

    ``localCheckpoint`` stores blocks on executors — fast, but lost
    with a dead executor, which on a 1000-executor cluster means a
    multi-hour EM run dies with one machine.  When
    ``SPARK_GRAFT_CHECKPOINT_DIR`` is set, use a reliable
    ``checkpoint`` to that (HDFS/S3) path instead; default stays local
    for single-box runs.

    ``big=True`` marks a CORPUS-SIZED frame: its local checkpoint goes
    to DISK_ONLY so the pinned (non-evictable) checkpoint blocks never
    compete with execution memory — at the 100x derived-scale audit a
    MEMORY_AND_DISK checkpoint of a 150M-row count table starved the
    downstream hash aggregation into UNABLE_TO_ACQUIRE_MEMORY.
    Bounded frames (scalars, dim^2 tables, vocab-pruned postings)
    keep the default memory level.

    A local checkpoint reports the bytes its blocks hold as its size,
    as a materialized cache does.  Spark would keep the pre-execution
    estimate of the build plan instead, which compounds through joins
    (285.9 GiB for the 3 KB minhash pair table), so every join against
    the checkpoint would plan a shuffle where a broadcast is right.
    """
    ckpt_dir = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
    sc = df.sparkSession.sparkContext
    if ckpt_dir:
        if sc.getCheckpointDir() is None:
            sc.setCheckpointDir(ckpt_dir)
        return df.checkpoint()
    from pyspark.storagelevel import StorageLevel

    # the thread-local call site tags the checkpoint's RDD, so its entry
    # in the storage status can be found without a handle on the RDD
    jsc = sc._jsc
    site = f"lineage_checkpoint {uuid.uuid4().hex}"
    prev = sc.getLocalProperty("callSite.short")
    jsc.setCallSite(site)
    try:
        ckpt = df.localCheckpoint(storageLevel=StorageLevel.DISK_ONLY if big else None)
    finally:
        if prev is None:
            jsc.clearCallSite()
        else:
            jsc.setCallSite(prev)
    # block updates reach the storage status through the listener bus;
    # each was posted before the job ended, so a drained bus has them
    # all.  A bus still busy after 10 s, or one that dropped the
    # updates, leaves Spark's estimate in place.
    try:
        jsc.sc().listenerBus().waitUntilEmpty()
    except Py4JJavaError:
        return ckpt
    sizes = [
        i.memSize() + i.diskSize()
        for i in jsc.sc().getRDDStorageInfo()
        if i.callSite() == site
    ]
    return _with_size(ckpt, sizes[0]) if sizes else ckpt


def _with_size(ckpt, size: int):
    """``ckpt`` with its ``LogicalRDD`` leaf reporting ``size`` bytes.

    py4j returns every scala ``BigInt`` as a Python int, so both
    constructors take argument arrays filled inside the JVM: the size as
    a Range's exact row count (a ``Some(BigInt)``), the leaf's own
    fields from its product iterator."""
    spark = ckpt.sparkSession
    jvm, new_array = spark._jvm, spark.sparkContext._gateway.new_array
    leaf = ckpt._jdf.queryExecution().analyzed()
    old = leaf.stats()
    stats_args = new_array(jvm.java.lang.Object, 4)
    spark.range(size)._jdf.queryExecution().logical().stats().rowCount().toList().copyToArray(
        stats_args
    )
    stats_args[1] = old.rowCount()
    stats_args[2] = old.attributeStats()
    stats_args[3] = old.isRuntime()
    stats = old.getClass().getConstructors()[0].newInstance(stats_args)
    n = leaf.productArity()
    leaf_args = new_array(jvm.java.lang.Object, n + 3)
    leaf.productIterator().copyToArray(leaf_args)
    leaf_args[n] = spark._jsparkSession
    leaf_args[n + 1] = jvm.scala.Some(stats)
    leaf_args[n + 2] = jvm.scala.Some(leaf.constraints())
    plan = leaf.getClass().getConstructors()[0].newInstance(leaf_args)
    jdf = jvm.org.apache.spark.sql.classic.Dataset.ofRows(spark._jsparkSession, plan)
    return DataFrame(jdf, spark)


def get_spark(app_name: str = "bigdata_assigment3_spark") -> SparkSession:
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.master(os.environ.get("SPARK_MASTER", f"local[{cpus}]"))
        .appName(app_name)
        # shuffle partitions ~ cores for local; a real cluster would
        # size this to 2-3x total cores (AQE coalesces the excess).
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        # shuffle/spill blocks and implicit streaming temp checkpoints
        # on the fastest local volume (see scratch_dir): spark.local.dir
        # covers the block manager; java.io.tmpdir covers the temp
        # checkpoint dirs StreamingQueryManager creates for memory-sink
        # streams, whose per-partition fsync'd state commits are the
        # latency-sensitive path
        .config("spark.local.dir", scratch_dir())
        .config(
            "spark.driver.extraJavaOptions",
            f"-Djava.io.tmpdir={scratch_dir()}",
        )
    )
    for k, v in _SQL_CONF.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return ensure_session_conf(spark)


# (applicationId, builder, *args) -> built value; see the module docstring
_MEMO: dict[tuple, object] = {}
# builder -> {"hits": n, "misses": n}, for the life of the process
_MEMO_STATS: dict[str, dict[str, int]] = {}
_STATS_LOCK = threading.Lock()


def _count(name: str, outcome: str) -> None:
    with _STATS_LOCK:
        stats = _MEMO_STATS.setdefault(name, {"hits": 0, "misses": 0})
        stats[outcome] += 1


def memo_stats() -> dict[str, dict[str, int]]:
    """A copy of the hit/miss counts per memoized builder
    (module-qualified name), over every session of this process."""
    with _STATS_LOCK:
        return {name: dict(stats) for name, stats in _MEMO_STATS.items()}


def session_memo(build: Callable[..., T]) -> Callable[..., T]:
    """Memoize a ``(spark, *args)`` builder per live session, keyed on
    the hashable ``args`` (policy in the module docstring).  Two threads
    missing the same key at once both build and the last one is kept;
    both values stay valid."""
    name = f"{build.__module__}.{build.__qualname__}"

    @functools.wraps(build)
    def memoized(spark: SparkSession, *args) -> T:
        app = spark.sparkContext.applicationId
        key = (app, name, *args)
        hit = _MEMO.get(key)
        if hit is not None:
            _count(name, "hits")
            return hit
        _count(name, "misses")
        for k in list(_MEMO):
            if k[0] != app:
                _MEMO.pop(k, None)
        built = _MEMO[key] = build(spark, *args)
        return built

    return memoized


def isolated(spark: SparkSession, confs: dict[str, str]) -> SparkSession:
    """A private clone of ``spark``, hardened, with ``confs`` set on it
    (see the module docstring).  ``spark``'s conf is never written."""
    clone = SparkSession(spark.sparkContext, spark._jsparkSession.cloneSession())
    ensure_session_conf(clone)
    for k, v in {**confs, _ISOLATED_KEY: "true"}.items():
        clone.conf.set(k, v)
    return clone


def sf_tag(sf_dir: str) -> str:
    """``sf_dir``'s basename plus a hash of its full normalised path:
    ``/a/sf0.01`` and ``/b/sf0.01`` get different tags."""
    norm = os.path.normpath(sf_dir)
    base = os.path.basename(norm).replace(".", "_")
    return f"{base}_{hashlib.md5(norm.encode()).hexdigest()[:8]}"


def _stage_path(spark: SparkSession, tag: str, sf_dir: str | None) -> str:
    name = tag if sf_dir is None else f"{tag}_{sf_tag(sf_dir)}"
    return os.path.join(
        scratch_dir(), f"bd3_{name}_{spark.sparkContext.applicationId}"
    )


def stage_dir(spark: SparkSession, tag: str, sf_dir: str | None = None) -> str:
    """A fresh staging dir for one call (naming in the module
    docstring): emptied and not yet created, so a writer with Spark's
    default ``errorifexists`` mode creates it."""
    path = _stage_path(spark, tag, sf_dir)
    shutil.rmtree(path, ignore_errors=True)
    return path


def staged_fixture(
    spark: SparkSession,
    tag: str,
    write_files: Callable[[str], None],
    sf_dir: str | None = None,
) -> str:
    """The staging dir for ``(tag, sf_dir)``, filled by
    ``write_files(dir)`` once per session and reused after that.  Reuse
    is gated on a ``_DONE`` marker written after ``write_files``
    returns; without it the dir is emptied and written again."""
    path = _stage_path(spark, tag, sf_dir)
    done = os.path.join(path, "_DONE")
    if not os.path.exists(done):
        os.makedirs(stage_dir(spark, tag, sf_dir))
        write_files(path)
        open(done, "w").close()
    return path
