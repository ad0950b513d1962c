"""SparkSession factory with scale-aware defaults.

Local test runs use ``local[N]``; the same config block is what we would ship
to a 1000-executor cluster minus the master/memory lines: AQE on (runtime
coalescing + skew-join handling), UTC session TZ (oracle comparability),
Arrow enabled for the pandas-UDF escape hatch.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession, functions as F

from kafi_spark import localfs


def get_spark(
    app_name: str = "kafi_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the session.

    ``spark.sql.shuffle.partitions`` defaults to the local core count: at
    local[32] and the test scale factors, 32 post-shuffle partitions keep
    every partition in memory; on a real cluster AQE coalescing makes the
    static number mostly irrelevant (it only caps initial parallelism).

    ``spark.sql.codegen.cache.maxEntries`` (compiled generated classes,
    an LRU) is 2500, not Spark's 100. One ``curate_documents_extended``
    pass needs 121 distinct classes, so at 100 entries every warm pass
    missed on every lookup: ~104 classes a pass went back through Janino
    on the driver (0.5-0.8 s) and then through the JIT. Counted with an
    unbounded cache on a 4-core local session: one curation pass (the
    perfbench corpus) compiles 121 classes; one ``bench.py`` sweep at
    sf0.001 (75 queries, three runs each) compiles 1083. 2500 holds the
    whole sweep with more than 2x margin. The cost: classes a session
    never reuses (plans with one-off literals) stay loaded, and the
    perfbench ``topic_shell`` workload, which needs under 100 classes,
    measured 2-16% more CPU with it on 4 cores. The conf is static (set
    before the session starts, never at runtime); ``extra_conf`` still
    overrides it.

    ``fs.file.impl`` is ``kafi_spark.localfs.CLASS``, Hadoop's checksummed
    ``LocalFileSystem`` with permissions set through ``java.nio``. Without
    the native Hadoop library the stock class forks ``/bin/chmod`` (~3 ms
    each) for every file, ``.crc`` file and directory a local write
    creates: one 5,000-row ``produce`` append into an 8-partition topic
    forked 30 times, 150 partitioned writes forked 9,306 times (5,400
    ``chmod 0644`` from file creates and the output committer, 3,900
    ``chmod 0755`` from directory creates). It now forks none; modes,
    ``.crc`` files and ``_SUCCESS`` markers are unchanged. The class is
    set only when the JVM can load it: this call launches the JVM with
    the class directory on ``spark.driver.extraClassPath``, or a JVM
    already running loads it. Otherwise (a JVM started without it, a
    build failure) Hadoop's default stays, which is only slower. Local
    masters only: on a cluster the executors would need the class too.
    Paths Hadoop opens through ``FileContext`` still get its ``LocalFs``
    and fork: structured-streaming checkpoints and the rename in
    ``sources/fsio.py:HadoopIO.write_bytes``. ``extra_conf`` may set
    ``spark.hadoop.fs.file.impl`` back.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE's coalescing floor (coalescePartitions.minPartitionSize) is
        # deliberately left at its 1m default: a round-9 experiment floored
        # it at 64k so post-shuffle explode stages keep ~defaultParallelism,
        # and pipeline_dupheavy_exact got 4x SLOWER — the posting-list
        # pair aggregate ran 9x more task CPU across 32 concurrent partial
        # hash maps than across AQE's 8 size-balanced ones (measured at
        # sf0.1; eval-only cost DID drop, the aggregate dominated). Spread
        # decisions live in dedup._parallelize, which targets scan-rooted
        # and broadcast-joined frames where no AQE knob applies.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("KAFI_SPARK_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # sized to the pipelines' generated classes: see the docstring
        .config("spark.sql.codegen.cache.maxEntries", "2500")
        # wide-aggregate plans generate large classes; with the JVM default
        # 240m code cache the JIT shuts off mid-session and later queries
        # run interpreted (observed 10-30x slowdowns). 1g + flushing keeps
        # compilation alive for long-lived sessions.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing",
        )
    )
    extra = extra_conf or {}
    local = extra.get("spark.master", "local").startswith("local")
    conf = localfs.spark_conf() if local else {}
    for k, v in extra.items():
        # the caller's classpath joins the class directory, never hides it
        cp = k == "spark.driver.extraClassPath" and k in conf
        conf[k] = f"{conf[k]}{os.pathsep}{v}" if cp else v
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


#: tables whose parquet files may carry TIMESTAMP(NANOS) columns, which
#: Spark's parquet reader rejects; we read them as long (legacy conf) and
#: convert. Driver data has shipped both nanos and plain micros variants, so
#: the conversion is keyed off the *scanned* type, not assumed.
_TS_COLS: dict[str, list[str]] = {"events": ["ts"]}


def read_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one driver parquet table, normalizing timestamp columns.

    Timestamp columns normalize to session-TZ ``TIMESTAMP`` whatever the
    physical parquet encoding:

    - TIMESTAMP(NANOS): Spark cannot map it to TimestampType, so with
      ``spark.sql.legacy.parquet.nanosAsLong`` the column scans as BIGINT
      nanos and we convert JVM-side (exact for the driver's data).
    - TIMESTAMP(MICROS, isAdjustedToUTC=false): scans as TIMESTAMP_NTZ; we
      cast to TIMESTAMP, identity under the UTC session TZ pinned below.

    Either way it's still a plain parquet scan, so pushdown survives for all
    other columns.
    """
    # defensive: queries may run under a caller-owned session (the round
    # driver passes its own). Epoch conversions (unix_millis on event ts)
    # must agree with the UTC-naive oracle regardless of host timezone.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ts_cols = _TS_COLS.get(name, [])
    if ts_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    for c in ts_cols:
        dt = dict(df.dtypes).get(c)
        if dt == "bigint":  # nanos scanned as long
            df = df.withColumn(c, F.expr(f"timestamp_micros({c} div 1000)"))
        elif dt == "timestamp_ntz":
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str):
    """Read the driver's parquet tables and register temp views.

    Returns a dict name -> DataFrame. Plain ``spark.read.parquet`` so filters
    and projections push down to the scan.
    """
    out = {}
    for name in names:
        df = read_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
