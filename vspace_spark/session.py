"""SparkSession factory with scale-oriented defaults.

The reference tuned ``spark.sql.shuffle.partitions`` from an INI key
(reference: vspace/pipelines/base.py:418-420) and relied on a 100 GB
driver because it collected a trie lookup to the driver
(reference: conf/spark-defaults.conf:28-39). The rebuild needs neither:
AQE right-sizes shuffle partitions at runtime and nothing is collected.

On a real cluster these same configs apply; only ``master`` and the
memory topology change. Partition sizing is driven by
``spark.sql.files.maxPartitionBytes`` (scan-side) and AQE advisory
sizes (shuffle-side), both of which hold at 100 TB inputs.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _default_driver_mem() -> str:
    """Size the local-mode heap from the machine, not a constant: in
    local mode the driver JVM IS the executor (all task threads share
    its heap), so it should get a large share of RAM — but a fixed
    ``48g`` would happily start with ``-Xmx48g`` on a 16 GB laptop and
    swap the machine to death (ADVICE r4). 40% of physical memory,
    clamped to [4g, 48g]: 48g on the 128 GiB bench box (where 8g OOMed
    the 100× sweep), ~6g on a 16 GB contributor machine. Explicit
    ``SPARK_DRIVER_MEM`` always wins."""
    try:
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (OSError, ValueError, AttributeError):  # non-POSIX fallback
        total = 16 << 30
    # In a memory-capped container sysconf reports the HOST's RAM; an
    # -Xmx sized from that gets the JVM cgroup-OOM-killed instead of
    # GC-ing. Take the min with the cgroup limit — resolved from THIS
    # process's cgroup path (/proc/self/cgroup), not just the mount
    # root: without a cgroup namespace the process can be capped in a
    # subtree while the root files read "max" (ADVICE r5), so walk the
    # own path and every ancestor and take the tightest limit. v2
    # (memory.max) first, v1 (memory/.../memory.limit_in_bytes) as
    # fallback; files hold a huge number or "max" when unlimited.
    def _limits() -> "list[int]":
        out: list[int] = []
        try:
            with open("/proc/self/cgroup") as fh:
                lines = fh.read().splitlines()
        except OSError:
            lines = []
        rels: list[str] = []
        for ln in lines:
            parts = ln.split(":", 2)
            if len(parts) != 3:
                continue
            hierarchy, ctrls, path = parts
            if hierarchy == "0":  # v2 unified
                rels.append("/sys/fs/cgroup" + path)
            elif "memory" in ctrls.split(","):  # v1 memory controller
                rels.append("/sys/fs/cgroup/memory" + path)
        # own path + ancestors up to (and including) the mount root
        candidates: list[str] = []
        for base in rels or ["/sys/fs/cgroup", "/sys/fs/cgroup/memory"]:
            d = base.rstrip("/")
            while d.startswith("/sys/fs/cgroup"):
                candidates.append(d)
                d = os.path.dirname(d)
        for d in candidates:
            for name in ("memory.max", "memory.limit_in_bytes"):
                try:
                    with open(os.path.join(d, name)) as fh:
                        raw = fh.read().strip()
                    if raw != "max":
                        out.append(int(raw))
                except (OSError, ValueError):
                    continue
        return out

    for lim in _limits():
        total = min(total, lim)
    return f"{max(4, min(48, int(total / (1 << 30) * 0.4)))}g"


def get_spark(
    app_name: str = "vspace_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Local test topology: ``local[$SPARK_GRAFT_CPUS]``. In production the
    caller passes the cluster master / lets spark-submit inject it.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime shuffle-partition coalescing, skew-join splitting,
        # and plan re-optimization from actual stage statistics.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Static fallback when AQE cannot coalesce; ~cores in local mode.
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or int(cpus)),
        )
        # Deterministic timestamps vs the DuckDB oracle (UTC-naive).
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow for every pandas_udf / toPandas boundary.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Keep scan partitions a sane size; at 100 TB this, not file
        # count, controls task fan-out.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Spark's default INT96 timestamps carry NO parquet min/max
        # statistics, so every time-range probe scans every row group
        # regardless of layout (measured: PERF.md "Z-order layout").
        # INT64 micros restores stats-based pruning and is what every
        # other engine (DuckDB included) reads natively.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
        # local mode: the driver JVM IS the executor — all $cpus task
        # threads share this one heap, so size it like an executor.
        # Derived from physical RAM (see _default_driver_mem); on a
        # real cluster this reverts to a normal driver size and
        # spark.executor.memory takes over.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM", _default_driver_mem()),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
