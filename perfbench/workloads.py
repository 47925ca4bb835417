"""The benchmark's workloads: each is a closed loop with one client
and one driver thread, run as passes over seeded inputs.

A pass runs every operation of the workload once, in order. Batch
operations build a registered plan (``plans.QUERIES``) and execute it:
with the noop sink on timed passes, with a collect on the warm-up pass
whose results are checked afterwards against the slot's DuckDB oracle.
The stream workload replays staged json files through the ``streaming``
module into a memory sink and into an ``io.lakehouse`` snapshot table;
its operations are micro-batches.
"""

from __future__ import annotations

import json
import math
import os
import time
from dataclasses import dataclass, field

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@dataclass
class Ctx:
    spark: object
    sf_dir: str
    work: str
    spans: object


@dataclass
class PassResult:
    wall_s: float
    op_times: list[tuple[str, float]] = field(default_factory=list)
    errors: dict[str, str] = field(default_factory=dict)
    results: dict = field(default_factory=dict)
    progress: list[dict] = field(default_factory=list)
    run_groups: dict[str, str] = field(default_factory=dict)


def _err(exc: BaseException) -> str:
    return f"{type(exc).__name__}: {exc}".splitlines()[0][:300]


# ---------------------------------------------------------------------------
# output checks (order-insensitive, exact; as tests/test_oracle_parity.py)
# ---------------------------------------------------------------------------


def _canon_cell(v):
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0:
            v = 0.0
        return repr(v)
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def _canon(pdf):
    cols = sorted(pdf.columns)
    rows = [tuple(_canon_cell(r[c]) for c in cols) for r in pdf.to_dict("records")]
    return cols, sorted(rows)


def duck(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(path):
            con.execute(f"create view {t} as select * from read_parquet('{path}/*.parquet')")
    return con


def compare(spark_pdf, oracle_sql: str, con) -> str | None:
    """None when the Spark result equals the oracle's, else a reason."""
    scols, srows = _canon(spark_pdf)
    ocols, orows = _canon(con.execute(oracle_sql).df())
    if scols != ocols:
        return f"columns {scols} != {ocols}"
    if len(srows) != len(orows):
        return f"{len(srows)} rows vs {len(orows)}"
    bad = sum(a != b for a, b in zip(srows, orows))
    return f"{bad} rows differ" if bad else None


# ---------------------------------------------------------------------------
# batch workloads
# ---------------------------------------------------------------------------


def run_batch_ops(ctx: Ctx, ops: list[str], k: int, collect: bool, res: PassResult) -> None:
    """Build each registered plan and execute it: collected into
    ``res.results`` when ``collect``, else into the noop sink."""
    from dask_awkward_sandbox_spark.plans import QUERIES

    for op in ops:
        a = time.perf_counter()
        try:
            with ctx.spans.span("plans", op, f"p{k}:plans:{op}"):
                df = QUERIES[op](ctx.spark, ctx.sf_dir)
            with ctx.spans.span("core", op, f"p{k}:exec:{op}"):
                if collect:
                    res.results[op] = df.toPandas()
                else:
                    df.write.format("noop").mode("overwrite").save()
        except Exception as exc:  # a failing operation is counted, not fatal
            res.errors[op] = _err(exc)
        res.op_times.append((op, time.perf_counter() - a))


def check_batch_ops(ops: list[str], warm: PassResult, con) -> tuple[dict[str, str], int]:
    """Compare the warm-up pass's collected results of ``ops`` with
    their DuckDB oracles; returns {op: reason} for every op that failed,
    and the number of result rows."""
    from dask_awkward_sandbox_spark.plans import ORACLES

    failed = {op: warm.errors[op] for op in ops if op in warm.errors}
    rows = 0
    for op in ops:
        if op not in warm.results:
            continue
        rows += len(warm.results[op])
        try:
            reason = compare(warm.results[op], ORACLES[op], con)
        except Exception as exc:  # oracle errors fail the op, not the run
            reason = "oracle " + _err(exc)
        if reason:
            failed[op] = reason
    return failed, rows


class BatchWorkload:
    """``settle_passes`` noop passes follow the warm-up pass before
    timing, while the JIT is still cutting the pass time by a tenth or
    more per pass; ``nominal_pass_s`` (one settled pass on a 4-core box)
    converts the run length into a fixed number of timed passes."""

    def __init__(self, name, sizes, ops, settle_passes, nominal_pass_s):
        self.name, self.sizes, self.ops = name, sizes, ops
        self.settle_passes, self.nominal_pass_s = settle_passes, nominal_pass_s

    def run_pass(self, ctx: Ctx, k: int, collect: bool) -> PassResult:
        res = PassResult(0.0)
        t0 = time.perf_counter()
        run_batch_ops(ctx, self.ops, k, collect, res)
        res.wall_s = time.perf_counter() - t0
        return res

    def check(self, ctx: Ctx, passes: list[PassResult]) -> tuple[dict[str, str], int]:
        """Check the warm-up pass against the oracles; returns {op:
        reason} for every failed op and the result rows of one pass."""
        return check_batch_ops(self.ops, passes[0], duck(ctx.sf_dir))


# ---------------------------------------------------------------------------
# stream workload
# ---------------------------------------------------------------------------


class StreamWorkload:
    """Sessionize the replay into a memory sink, then dedup the replay
    with its planted duplicate file into a snapshot table, then run the
    batch ``ops`` (operations like those of ``BatchWorkload``)."""

    def __init__(self, name, sizes, ops, settle_passes, nominal_pass_s):
        self.name, self.sizes, self.ops = name, sizes, ops
        self.settle_passes, self.nominal_pass_s = settle_passes, nominal_pass_s

    def run_pass(self, ctx: Ctx, k: int, collect: bool) -> PassResult:
        from dask_awkward_sandbox_spark.io.lakehouse import snapshot_dedup_sink
        from dask_awkward_sandbox_spark.streaming import (
            sessionize_stateful,
            stream_dedup_exact,
            stream_events_from_dir,
        )

        spark = ctx.spark
        base = os.path.join(ctx.work, f"stream-p{k}")
        res = PassResult(0.0)
        queries = []
        # one state partition per core: the session's batch default (two
        # per core) doubles the per-micro-batch state-store and Python
        # worker tasks of a stream this size
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism))
        t0 = time.perf_counter()
        try:
            with ctx.spans.span("streaming", "sessionize_stateful", f"p{k}:streaming:start"):
                src = stream_events_from_dir(
                    spark, os.path.join(ctx.sf_dir, "stream_sessionize"), max_files_per_trigger=1
                )
                q = (
                    sessionize_stateful(src).writeStream.format("memory")
                    .queryName(f"sessions_p{k}")
                    .outputMode("append")
                    .option("checkpointLocation", os.path.join(base, "ckpt_sessions"))
                    .trigger(availableNow=True)
                    .start()
                )
            queries.append(("sessionize_stateful", q))
            q.awaitTermination()
            with ctx.spans.span("lakehouse", "snapshot_dedup_sink", f"p{k}:lakehouse:start"):
                src = stream_events_from_dir(
                    spark, os.path.join(ctx.sf_dir, "stream_dedup"), max_files_per_trigger=1
                )
                q = snapshot_dedup_sink(
                    stream_dedup_exact(src, keys=["event_id"]),
                    os.path.join(base, "table"),
                    ["event_id"],
                    os.path.join(base, "ckpt_table"),
                    n_buckets=self.sizes["buckets"],
                ).start()
            queries.append(("snapshot_dedup_sink", q))
            q.awaitTermination()
        except Exception as exc:  # a failing stream is counted, not fatal
            res.errors["stream"] = _err(exc)
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
        for name, q in queries:
            res.run_groups[str(q.runId)] = f"p{k}:stream:{name}"
            for p in q.recentProgress:
                prog = json.loads(p.json)
                res.progress.append(prog)
                res.op_times.append((name, prog["durationMs"]["triggerExecution"] / 1e3))
        run_batch_ops(ctx, self.ops, k, collect, res)
        res.wall_s = time.perf_counter() - t0
        res.results.update(base=base, sink=f"sessions_p{k}")
        return res

    def check(self, ctx: Ctx, passes: list[PassResult]) -> tuple[dict[str, str], int]:
        """Every pass: the emitted sessions equal the
        ``q_stream_sessionize`` oracle over the generated events, and the
        final snapshot table holds exactly the distinct event ids; the
        warm-up pass's batch ops equal their oracles. Returns {pass or
        op: reason} for every failure, and the number of result rows
        (sessions, table rows and batch rows) one pass produces."""
        from dask_awkward_sandbox_spark.io.lakehouse import read_snapshot_table
        from dask_awkward_sandbox_spark.plans import ORACLES

        con = duck(ctx.sf_dir)
        failed, batch_rows = check_batch_ops(self.ops, passes[0], con)
        oracle = ORACLES["q_stream_sessionize"]
        (n_events,) = con.execute("select count(distinct event_id) from events").fetchone()
        rows = 0
        for k, p in enumerate(passes):
            if "stream" in p.errors:
                failed[f"pass{k}"] = p.errors["stream"]
                continue
            try:
                sessions = ctx.spark.table(p.results["sink"]).select(
                    "user_id", "session_start_us", "n_events"
                ).toPandas()
                reason = compare(sessions, oracle, con)
                ids = read_snapshot_table(
                    ctx.spark, os.path.join(p.results["base"], "table")
                ).select("event_id").toPandas()["event_id"]
                distinct = ids.nunique()
                if reason is None and (len(ids) != n_events or distinct != n_events):
                    reason = f"table holds {len(ids)} rows, {distinct} ids, want {n_events}"
                rows = len(sessions) + len(ids)
            except Exception as exc:  # a failing check fails the pass, not the run
                reason = _err(exc)
            if reason:
                failed[f"pass{k}"] = reason
        return failed, rows + batch_rows


def lakehouse_metrics(table: str, input_bytes: int) -> dict[str, float]:
    from dask_awkward_sandbox_spark.io.lakehouse import list_snapshot_versions

    files = out_bytes = 0
    for root, _dirs, names in os.walk(table):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                out_bytes += os.path.getsize(os.path.join(root, n))
    return {
        "lakehouse.versions": len(list_snapshot_versions(table)),
        "lakehouse.files_written": files,
        "lakehouse.output_bytes": out_bytes,
        "lakehouse.bytes_per_input_byte": out_bytes / input_bytes if input_bytes else 0.0,
    }


# Why these workloads (sizes are the testdata's sf0.01, where every
# DuckDB oracle runs in seconds; pass times are fixed-cost dominated on
# a 4-core box, so a full set of seeded runs of both benchmark
# workloads stays under an hour):
# - nested_hof is the dask-awkward surface itself: parquet scan and JVM
#   higher-order functions, with q1 as the relational control and no
#   Python worker in any plan.
# - stream_lakehouse is the only workload that keeps state and writes;
#   each micro-batch pays the fixed cost of state stores, Python
#   workers (applyInPandasWithState) and snapshot-table versions. Its
#   batch op q_ann_bruteforce carries the curation regime into the
#   benchmark: an eager builder (the query matrix and the quantizer are
#   collected while the plan is built) and a mapInArrow GEMM.
# - llm_curation (many small jobs and shuffles, eager builders,
#   mapInArrow GEMMs) is run on request by report.py: a third workload's
#   runs would not fit that hour.
WORKLOADS = {
    "nested_hof": BatchWorkload(
        "nested_hof",
        {"orders": 15000, "docs": 500},
        [
            "q1_pricing_summary",
            "q_reduce_order_count",
            "q_sort_argsort",
            "q_cartesian_combinations",
            "q_str_surface",
        ],
        settle_passes=2,
        nominal_pass_s=2.5,
    ),
    "llm_curation": BatchWorkload(
        "llm_curation",
        {"docs": 500, "emb": 500},
        [
            "q_text_metrics",
            "q_dedup_minhash_clusters",
            "q_lm_perplexity",
            "q_tf_idf",
            "q_ann_bruteforce",
            "q_kmeans",
        ],
        settle_passes=1,
        nominal_pass_s=12.0,
    ),
    "stream_lakehouse": StreamWorkload(
        "stream_lakehouse",
        {"events": 6000, "stream_files": 2, "buckets": 4, "docs": 500, "emb": 500},
        ["q_ann_bruteforce"],
        settle_passes=0,
        nominal_pass_s=13.0,
    ),
}
