"""SparkSession construction and tuning.

The reference delegates all execution to PostgreSQL (SURVEY.md §4); here the
equivalent "planner config" is Catalyst + AQE + Arrow. Two entry points:

- ``get_spark()``  — build a tuned local session (tests / bench).
- ``tune(spark)``  — apply the runtime-settable subset to a session we did
  not build (the driver passes its own ``SparkSession`` into ``queries()``).

Determinism contract (drives the DuckDB-oracle hash match):
- session timezone pinned to UTC (reference mixes UTC event time with local
  display, data_generator.py:186 / app.py:474 — we standardize on UTC).
- ANSI mode: this Spark 4 build defaults ``spark.sql.ansi.enabled=true``
  and every registered plan is a TOTAL expression under it (NULLIF /
  greatest guards; decimal accumulation where BIGINT sums could
  overflow) — swept explicitly by tools/ansicheck.py. The plans are
  equally correct with ANSI off (no silent-overflow path is relied on).
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import SparkSession

# Streaming checkpoint manager of local sessions (see get_spark)
LOCAL_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)

# Shuffle partitions of the streams of a local session: one state store
# per stateful operator per micro-batch (see get_spark)
LOCAL_STREAM_WIDTH = 1

# Conf that can be flipped on a live session (used on driver-owned sessions).
_RUNTIME_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Split even KB-scale files across all cores: a small parquet otherwise
    # arrives as ONE task and any CPU-heavy projection (shingling, hashing)
    # serializes. At cluster scale inputs come in thousands of splits and
    # this floor is a no-op.
    "spark.sql.files.minPartitionNum": "32",
    # minPartitionNum alone is NOT enough: split sizing is floored by
    # openCostInBytes (4 MB default), which packs a 20 MB table into ~5
    # tasks no matter what the floor says — measured 3-way parallelism on
    # the sf0.1 lineitem scan, serializing every per-row-hash projection.
    # 256 KB keeps task-launch overhead irrelevant locally while letting
    # the MB-scale test files actually fan out; clusters reading TB-scale
    # inputs get thousands of native splits and never hit this knob.
    "spark.sql.files.openCostInBytes": "262144",
    # 10 TB-scale note: broadcast threshold stays default (10 MB); dims in
    # this schema (region/nation/supplier/part) are KB-scale and broadcast.
}


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable determinism/perf conf to an existing session.

    A static key (one Spark fixes when the session starts, such as the
    generated-class cache size ``get_spark`` sets) can only be set on the
    builder: if one is listed here, a live session refuses it and it is
    skipped. Any other refusal, such as an invalid value, raises.
    """
    for k, v in _RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except AnalysisException as e:
            if e.getCondition() != "CANNOT_MODIFY_STATIC_CONFIG":
                raise
    return spark


def get_spark(
    app_name: str = "rtvs-spark",
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build the tuned local session.

    ``local[$SPARK_GRAFT_CPUS]`` (default 32). Batch plans shuffle to
    ``shuffle_partitions`` (default: the core count), set as AQE's initial
    partition number: at sf0.1 every shuffle fits in memory; on a real
    cluster AQE coalesces from a higher initial number instead. Streams
    shuffle to ``LOCAL_STREAM_WIDTH``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # Two widths. Streaming plans never run AQE, so their stateful
        # operators get spark.sql.shuffle.partitions: one state-store
        # version (a task, a delta and a checksum file, their .crc files,
        # a forked chmod each without libhadoop) per partition per
        # micro-batch. Batch plans with AQE and partition coalescing on
        # (_RUNTIME_CONF) take initialPartitionNum instead
        # (SQLConf.numShufflePartitions), so they keep the core count.
        # perfbench live_election (4 cores, 10 interleaved pairs) at width
        # 4 → 1: latency_p50_s 1.21 → 0.71 s, refresh_p50_s 15.5 → 10.3 s;
        # vote-count state commit 117 → 6 ms, 144 → 59 forks per query
        # data micro-batch (tools/fork_census.py); width 2 read higher
        # than 1 in 2 of 2 pairs. A caller who turns AQE off on such a
        # session gets width-1 batch plans. Kept out of
        # _RUNTIME_CONF/tune(): a driver-owned session's streams may run
        # on a cluster.
        .config("spark.sql.shuffle.partitions", str(LOCAL_STREAM_WIDTH))
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(shuffle_partitions),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Keep stdout/stderr free of stage-progress bars: the bench
        # artifact is a single JSON line parsed from a bounded tail of the
        # process output, and progress bars were drowning it (BENCH_r02
        # recorded parsed:null despite a healthy run).
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # Static: the JVM-wide LRU cache of compiled generated classes
        # (default 100 entries). Measured working set: one dashboard
        # refresh of the 11 voting panels compiles 156 classes, so at 100
        # a warm refresh recompiles ~143 of them every cycle; the three
        # live-election streams compile 57 at start, and each data
        # micro-batch of each dedup stream adds one eviction predicate
        # (~360 per 30 s dashboard cadence at 2,000 events/s, see
        # ``streaming.jobs.dedup_votes``). ~573 in all; 1,000 keeps the
        # panels resident across a cadence.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # Commit local streaming checkpoints through FileSystem, not the
        # default FileContext. Without libhadoop, RawLocalFileSystem forks
        # a subprocess per checkpoint file: `chmod` on create, and
        # `readlink` on every FileContext rename (getFileLinkStatus).
        # Measured on the live_election queries (4 cores): 665 forks per
        # query micro-batch under FileContext, 144 under FileSystem (the
        # chmods remain; tools/fork_census.py), and the vote-count state
        # commit p50 fell 981 → 121 ms (traced perfbench run). On
        # `file:` both managers end in RawLocalFileSystem.rename, an
        # atomic rename(2) after the same no-overwrite check, and
        # checkpoint checksums and .crc files are still written. Kept
        # out of _RUNTIME_CONF/tune(): on HDFS only FileContext rename is
        # atomic without overwrite, and driver-owned sessions may
        # checkpoint there.
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            LOCAL_CHECKPOINT_MANAGER,
        )
    )
    for k, v in _RUNTIME_CONF.items():
        builder = builder.config(k, v)
    return tune(builder.getOrCreate())
