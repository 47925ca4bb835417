"""SparkSession construction tuned for the nested-analytics engine.

Scale design: these configs are chosen to survive a 1000-executor /
100 TB deployment, not just local[32]:

- AQE on (runtime shuffle-partition coalescing + skew-join splitting);
- nested schema pruning on, so ``array<struct>`` reads only touch the
  parquet leaves the query needs;
- broadcast threshold raised: every TPC-H-ish dim table (region,
  nation, supplier, part at moderate SF) broadcast-joins instead of
  shuffling the fact table;
- shuffle partitions default to 2x cores locally; on a real cluster
  AQE coalesces from a high initial number.
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import DataFrame, SparkSession

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def get_spark(app_name: str = "dask-awkward-sandbox-spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Coalesce by parallelism, not just bytes: nested-array HOFs
        # (pair generation, minhash perms) are compute-dense per byte,
        # and the default 1m floor folds their small shuffles onto a
        # handful of cores. Harmless at cluster scale where real
        # partitions dwarf this floor.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "128k")
        .config("spark.sql.shuffle.partitions", str(2 * int(cpus)))
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.warehouse.dir", "/root/repo/.scratch/warehouse")
        # local mode: the driver IS the executor — 16g for 32 task
        # threads forced shuffle spill on the 10x/100x probe legs
        # (q18's 23 GB sort-merge measured 6.1s at 16g vs 4.9s at
        # 40g on sf10). 40g leaves headroom for a second concurrent
        # JVM on the 128 GiB box; on a real cluster this knob is
        # per-executor memory instead.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "40g"))
        # r14 (guide §5): bound the IDLE Python-worker pool. The pool
        # is unbounded by default; a long session running many
        # mapInArrow/applyInPandas stages was measured holding 60+
        # idle pyspark.daemon workers (~6 GB RSS) — dead weight that
        # competes with the page cache the parquet scans live on. One
        # stage needs at most `cpus` workers concurrently (busy
        # workers don't count against the idle bound), so capping the
        # idle pool at the core count keeps full reuse within and
        # across stages and only evicts the long tail. On a real
        # cluster this is per-executor and sized the same way.
        .config("spark.python.factory.idleWorkerMaxPoolSize", cpus)
        .config("spark.ui.enabled", "false")
        # Plan building is driver-bound: with this on (the default),
        # PySpark wraps every DataFrame/Column/functions call to record
        # its Python call site in the JVM (errors/utils.py:_with_origin),
        # which costs an active-session lookup, a conf read and two
        # origin set/clear calls over Py4J plus a stack walk per call —
        # most of the round-trips of a plan build (a repeated build of
        # the five perfbench nested_hof plans on a 4-core box: about
        # 7000 -> 1700-2900 Py4J calls, 1.2 -> 0.7 s).
        # What is lost: error messages no longer carry the Python call
        # site block; the error class, condition and JVM message stay.
        # PySpark latches the flag process-wide at the first wrapped
        # API call (_enable_debugging_cache), so it must be set here,
        # when the session is built, not later with conf.set.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    # r15: optional shuffle/scratch dir override (static conf, so it
    # must land at builder time). The TEST harness points this at
    # tmpfs — this sandbox's block device intermittently makes tiny
    # shuffle-file writes cost seconds, and test correctness does not
    # depend on where shuffle files live. Unset for the bench/driver
    # (comparability with prior rounds) and wrong on a real cluster,
    # where local dirs are provisioned NVMe and shuffle data exceeds
    # RAM.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir:
        os.makedirs(local_dir, exist_ok=True)
        builder = builder.config("spark.local.dir", local_dir)
    return builder.getOrCreate()


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Load every testdata table as a DataFrame (lazy parquet scans)."""
    from dask_awkward_sandbox_spark.io.parquet import read_parquet

    return {t: read_parquet(spark, f"{sf_dir}/{t}.parquet") for t in TABLES}


_warned_conf_fallback = False


def _raw_conf_get(spark: SparkSession, key: str) -> str | None:
    """The EXPLICITLY-SET session value of ``key``, or None when the
    key is unset: ``spark.conf.get(key, None)`` returns a registered
    SQL conf's entry DEFAULT instead of None when the key is unset, so
    a restore path keyed on it would pin the default as an explicit
    session value — value-equivalent today, but masking any later
    default/entry change. The raw settings map only holds explicit
    entries. It is private JVM surface; when it is unavailable the
    public read is used and a warning is given once per process."""
    global _warned_conf_fallback
    try:
        return spark._jsparkSession.sessionState().conf().settings().get(key)
    except Exception:  # pragma: no cover — non-JVM session stand-ins
        if not _warned_conf_fallback:
            _warned_conf_fallback = True
            warnings.warn(
                "scoped_conf: the session's raw conf settings are not "
                "readable; falling back to spark.conf.get, which restores "
                "an unset conf as its explicit default",
                RuntimeWarning,
                stacklevel=2,
            )
        return spark.conf.get(key, None)


class scoped_conf:
    """Set one Spark SQL conf for the duration of a block and restore
    the previous value (or unset) on exit. Only sound for confs read
    at PLAN/EXECUTION time of work that both happens inside the block;
    callers must run their eager actions inside the ``with``.

    Concurrency: the conf is SESSION-GLOBAL — any query planned
    concurrently on the same session while a block is open also sees
    the scoped value. The bench/test harness runs queries
    single-threaded per session, which is the assumption this helper
    (and the module-level caches like lm._TOK_CACHE) rely on;
    concurrent-driver deployments should scope confs per thread with
    ``SparkSession.newSession()`` instead."""

    def __init__(self, spark: SparkSession, key: str, value: str):
        self.spark = spark
        self.key = key
        self.value = value

    def __enter__(self):
        # raw read (not conf.get): an unset registered conf must be
        # restored by unset(), not by pinning its current default
        self.prev = _raw_conf_get(self.spark, self.key)
        self.spark.conf.set(self.key, self.value)
        return self

    def __exit__(self, *exc):
        if self.prev is None:
            self.spark.conf.unset(self.key)
        else:
            self.spark.conf.set(self.key, self.prev)
        return False
