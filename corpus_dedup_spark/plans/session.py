"""SparkSession builder with scale-appropriate defaults.

Local testing runs on local[N]; the same conf ships to a multi-executor cluster via
``spark-submit --py-files`` (nothing here is local-mode-specific except the master).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_SHM_MIN_FREE_BYTES = 8 << 30
_DRIVER_MEM_CAP_MB = 24 << 10


def _default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """~60% of physical memory (MemTotal), capped at 24g: the rest stays free
    for the Arrow/pandas Python workers and the OS page cache. The cap alone
    when MemTotal cannot be read."""
    try:
        with open(meminfo) as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    total_mb = int(line.split()[1]) // 1024
                    return f"{min(total_mb * 6 // 10, _DRIVER_MEM_CAP_MB)}m"
    except (OSError, ValueError, IndexError):
        pass
    return f"{_DRIVER_MEM_CAP_MB}m"


def _default_local_dir() -> str:
    """tmpfs scratch when it has headroom, disk otherwise (see builder comment)."""
    try:
        st = os.statvfs("/dev/shm")
        if st.f_bavail * st.f_frsize >= _SHM_MIN_FREE_BYTES:
            return "/dev/shm/spark-local"
    except OSError:
        pass
    return "/tmp"


def build_session(
    app_name: str = "corpus_dedup_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        try:
            shuffle_partitions = int(cpus) if master.startswith("local") else 200
        except ValueError:
            shuffle_partitions = 32
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime coalesce + skew-join splitting — the engine's answer to the
        # reference's hand-tuned shard sizing and work stealing.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow batches feed every pandas UDF — the whole UDF surface is vectorized.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # large Arrow batches: at 10k rows/batch the per-batch slicing dominated the
        # pandas-UDF stages at high core counts (measured 5x on local[32])
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "100000")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # ObjectHashAggregate (collect_list & friends) falls back to a SORT-based
        # path after this many distinct keys per partition; the default (128) is
        # far below any real grouping here (reassembly groups by document id:
        # ~10^3-10^5 docs/partition under the 3-wave task sizing), so every
        # doc-side aggregation silently became a sort. Measured on the exact leg
        # at 200k docs / 8 cores: 6.97 s -> 6.09 s e2e (alternated best-of-N).
        # 4M keys/partition is far above the operating range yet still bounds
        # the non-spillable hash map on pathological partitionings; per-group
        # state is the group's own rows, so memory stays ~ partition size.
        .config("spark.sql.execution.objectHashAggregate.sortBased"
                ".fallbackThreshold", "4194304")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # zstd shuffle/broadcast codec: the keeper shuffle carries full
        # norm-unit bytes (quirk Q6 — content is the key), and web text
        # compresses ~2x better under zstd than lz4 for similar CPU.
        # Alternated best-of-N A/B at 200k docs / 8 cores
        # (one-off scripts/exp_exact_conf.py, since deleted; 6 JVMs per
        # variant; measure anew with `python3 perfbench/run.py --trace 1`):
        # lz4 7.12 s best / zstd 5.44-5.57 s (-22%). Compression fully OFF
        # is another ~4% on a single box (no network, tmpfs shuffle) but
        # indefensible on a real cluster where shuffle crosses the wire —
        # zstd is the production choice and the bench config.
        .config("spark.io.compression.codec", "zstd")
        # local mode runs every task thread in the driver JVM: size the heap for
        # 32 concurrent partial-agg hashmaps (8g thrashes GC at high core counts)
        # but never past what the host has
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM") or _default_driver_memory())
        # shuffle scratch on the fastest local storage available: this host's
        # /tmp is disk-backed ext4 while /dev/shm is tmpfs — the standard ops
        # practice (NVMe/ramdisk scratch for spark.local.dir) applied locally.
        # tmpfs spill consumes RAM and cannot exceed the mount size, so it is
        # only selected when the mount has comfortable headroom (>=8 GiB free);
        # larger-than-memory local jobs fall back to disk and spill normally.
        # Cluster deployments override via SPARK_LOCAL_DIRS on the executors.
        .config("spark.local.dir",
                os.environ.get("SPARK_GRAFT_LOCAL_DIR") or _default_local_dir())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
