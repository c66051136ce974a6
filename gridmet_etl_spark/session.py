"""SparkSession factory tuned for this engine.

Local-mode testing runs one JVM with N threads; the configs below are chosen
so the same code is correct on a real cluster: AQE enabled (runtime re-plan,
skew-join splitting, partition coalescing), Arrow enabled for the few
Pandas-UDF paths, shuffle partitions sized to cores locally (a cluster deploy
would raise it or rely on AQE coalescing).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "gridmet_etl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str = "8g",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) the engine session.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``).
    On a real cluster, callers pass ``master=None`` and set master via
    spark-submit; every config here is cluster-safe.

    ``extra_conf`` entries are applied last (they win) — used by tools that
    need a pre-JVM config, e.g. the ingest stress harness sets
    ``spark.io.compression.codec=zstd`` so a year-scale compaction
    shuffle fits a single box's scratch disk. Only honored when this call
    actually CREATES the session (getOrCreate reuses any live session).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        cpus_env = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus_env) if cpus_env and cpus_env.isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Shuffle/spill codec: zstd over the lz4 default (r11, guide §2.3/§9).
        # Measured on this engine twice: the r10 ingest-year compaction
        # (SCALE.md — 2.9× smaller AND faster), and the r11 CFSv2 398M-cell
        # probe (lz4 55-59 s vs zstd 24-40 s best — the partial-agg exchange
        # is disk-bound, and ~3× fewer shuffle bytes beats the extra CPU on
        # every probe rep). Cluster-safe: zstd is the standing
        # recommendation for shuffle-heavy batch ETL; a deployment that
        # prefers lz4 passes it through ``extra_conf``.
        .config("spark.io.compression.codec", "zstd")
        # Execution memory page: 4 MiB over the derived default (execution
        # memory / cores / 16 = 64 MiB with the 8g driver on 4 cores). Every
        # hash-aggregate or sort task allocates and zeroes at least one
        # page, and the page pool holds freed pages only by weak reference,
        # so a fresh JVM (every CLI run) or a GC pays the 64 MiB in page
        # faults again: on cfsv2_median_cycle the default cost 11-17% of
        # task CPU and 22-29% of peak RSS. Cluster-safe: the 8,192-entry
        # task page table still lets one task address 32 GiB; override
        # through ``extra_conf``.
        .config("spark.buffer.pageSize", "4m")
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.net.preferIPv4Stack=true")
        # Weights/catalog/features dims are ≤ a few MB → let Catalyst
        # auto-broadcast generously; explicit broadcast() hints are still used
        # at the call sites that know the dimension is small.
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # shuffle/spill files go under the session owner's home, not /tmp:
        # the host's periodic /tmp reaper deletes blockmgr-* dirs out from
        # under long-lived JVMs (observed twice: FileNotFoundException on
        # shuffle_*.data mid-stage ~30 min into a session). Cluster-safe —
        # real clusters override spark.local.dir via the resource manager.
        .config(
            "spark.local.dir",
            os.environ.get(
                "SPARK_GRAFT_LOCAL_DIR",
                os.path.join(os.path.expanduser("~"), ".spark-local"),
            ),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # getOrCreate silently reuses a live session, dropping extra_conf —
    # e.g. ingest_stress's zstd shuffle codec would be a no-op if any
    # code created a session first. Verify the live conf actually carries
    # the requested values and warn loudly on mismatch (ADVICE r11 item 3).
    for k, v in (extra_conf or {}).items():
        try:
            live = spark.conf.get(k)
        except Exception:
            live = None
        if live != v:
            import warnings

            warnings.warn(
                f"get_spark: extra_conf[{k!r}]={v!r} NOT applied (live "
                f"session has {live!r}) — getOrCreate reused an existing "
                "session; stop it first if this conf must take effect",
                RuntimeWarning,
                stacklevel=2,
            )
    return spark
