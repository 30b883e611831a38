"""SparkSession factory for the waterdata-spark engine.

Local-mode defaults tuned for the driver environment (local[32],
single JVM, 128 GiB host). The same settings are the right *shape*
for a real cluster: AQE on (runtime re-planning, skew-join handling,
partition coalescing), shuffle partitions sized to parallelism, UTC
session timezone (oracle comparisons against DuckDB's naive
timestamps), and Arrow for any pandas-UDF path.

At 100 TB the only knobs that change are sizes, not structure:
``spark.sql.shuffle.partitions`` scales with cluster cores,
``spark.sql.files.maxPartitionBytes`` stays at 128-256 MB so scan
tasks fit executor memory, and AQE coalesces the rest at runtime.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark", "launch_conf", "default_parallelism", "jit_flag_applies"]

#: driver JVM flags. :func:`launch_conf` puts them in front of the
#: caller's ``spark.driver.extraJavaOptions`` (HotSpot takes the last
#: of a repeated ``-XX`` flag, so a caller's own setting wins) and leaves
#: ``spark.driver.defaultJavaOptions`` to the site's spark-defaults.conf.
#: They apply only where they were measured: :func:`jit_flag_applies`.
#:
#: ``-XX:CICompilerCount=2``: a cold batch run's CPU is mostly the
#: driver JVM's JIT, not Spark tasks. In a traced perfbench ``water_etl``
#: run (4-core host, HotSpot's default of 3 compiler threads there) the
#: cold pass used 84 s of process CPU and 8 s of Spark task CPU, and the
#: JVM's compiler threads used 58 s over its life (session start plus
#: that pass). The flag alone took ``water_etl`` ``cpu_s`` from 71 to
#: 58 s (median of 3 runs each, on top of the down pipeline's job cuts;
#: compiler-thread CPU 50 -> 33 s). ``olap_sf1`` ``cpu_s`` stayed flat,
#: its ``setup_s`` (session plus one cold warm-up pass) rose 8%, and
#: warm sf1 q01/q03/q06/q19 stayed within the run-to-run spread. On a
#: larger host HotSpot starts 4 (8-15 CPUs) to 15 (32-63 CPUs) compiler
#: threads, and a cut to 2 there was never measured, so the flag is
#: left out.
#: Two alternatives were measured and rejected:
#:
#: - C1-only JIT (``-XX:TieredStopAtLevel=1``): ``water_etl`` ``cpu_s``
#:   -48% against the same code without a flag, but warm sf1 queries
#:   (min of 5 repeats) went q01 2.8 -> 7.8 s and q06 3.7 -> 6.5 s,
#:   because the steady-state hot loops never reach C2;
#: - 10x C2 compile thresholds: ``olap_sf1`` warm ``wall_s`` +10% (a
#:   prototype measurement, not repeated on the final code).
#:
#: Compiler-thread CPU does not show in Spark's event log
#: (``executorCpuTime`` counts task threads only); read it per thread
#: from ``/proc/<jvm>/task/*/stat`` (names ``C1/C2 CompilerThre...``).
DRIVER_JAVA_OPTIONS = "-XX:CICompilerCount=2"


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def jit_flag_applies(cpus: int | None = None) -> bool:
    """Whether :data:`DRIVER_JAVA_OPTIONS` goes to the driver JVM: only
    where HotSpot's own default is 3 compiler threads, i.e. 4-7 CPUs,
    the setting it was measured on. ``cpus`` defaults to the affinity
    mask the driver JVM inherits from this process."""
    if cpus is None:
        cpus = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count() or 1
    return 4 <= cpus < 8


def launch_conf(
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> dict[str, str]:
    """The conf :func:`get_spark` launches with; ``extra_conf`` wins
    over every default, and its ``spark.driver.extraJavaOptions`` comes
    after :data:`DRIVER_JAVA_OPTIONS`.

    Declarative-first engine: every knob here exists so Catalyst/AQE
    can do the physical planning — we never hand-schedule.
    """
    cpus = default_parallelism()
    conf = {
        "spark.master": master or f"local[{cpus}]",
        "spark.sql.shuffle.partitions": str(shuffle_partitions or cpus),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"),
        "spark.ui.enabled": "false",
        "spark.sql.files.maxPartitionBytes": "134217728",
        # Auto-broadcast threshold: dims in this workload are KB-MB;
        # 64 MB keeps every dim join a broadcast-hash join.
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # r12: disable InferWindowGroupLimit (partial top-k below the
        # window exchange). The rule pays a FULL extra local sort of
        # the window input before the shuffle and only wins when a key
        # has many rows per MAP TASK. Every rank-filtered window in
        # this engine is high-cardinality (dedup keys ~ rows: q06
        # ~4 rows/orderkey, x01 ~unique digests, q07 ~15 orders over
        # hundreds of tasks), so per (task, key) there is ~1 row and
        # the partial limit removes nothing. Interleaved A/B on the
        # committed decades (plans/r12, OPTIMIZATION_r12.md): q06@sf10
        # 11.35s -> 7.58s min-of-6 ("off" won all 6 rounds), q07@sf10
        # 2.23 -> 1.91s (all 5 rounds), x01@sf1 a wash. The shape
        # argument is scale-independent — more data means more map
        # tasks at the same rows-per-key, so co-location never
        # improves; a LOW-cardinality ranking (top-k per country)
        # should re-enable via extra_conf.
        "spark.sql.optimizer.windowGroupLimitThreshold": "-1",
    }
    conf |= extra_conf or {}
    if jit_flag_applies():
        key = "spark.driver.extraJavaOptions"
        conf[key] = " ".join(filter(None, [DRIVER_JAVA_OPTIONS, conf.get(key)]))
    return conf


def get_spark(
    app_name: str = "waterdata-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession with
    :func:`launch_conf`. JVM options only take effect when this call
    launches the driver JVM, not when it reuses a running one."""
    builder = SparkSession.builder.appName(app_name)
    for k, v in launch_conf(master, shuffle_partitions, extra_conf).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
