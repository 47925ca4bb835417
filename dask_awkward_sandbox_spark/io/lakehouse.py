"""Lakehouse-style mutable-table operations on plain parquet.

The r5 verdict's item 5 asked for a Delta/Iceberg sink with
MERGE-based upsert dedup — the production shape of streaming exact
dedup at 100 TB. This container has NO lakehouse jars (pyspark 4.1.2
ships 287 jars; `grep -iE 'delta|iceberg|hudi'` over them matches
nothing but avro, `import delta` raises ModuleNotFoundError, and the
environment is offline — `probe_lakehouse()` records the exact
failures). So this module implements the OPERATIONAL CONTRACT those
formats provide for upsert — "a MERGE touches only the files holding
matched keys, and replaying the same batch is a no-op" — on plain
parquet, via the one mutation primitive vanilla Spark does have:
dynamic partition overwrite.

Layout: the table is partitioned by ``_mbucket = pmod(xxhash64(key),
n_buckets)``. An upsert batch computes the bucket set its keys touch,
reads ONLY those partitions back (directory pruning — the read never
scans the untouched 100 TB), anti-joins the old rows whose key is
being replaced, unions the new rows, and dynamic-overwrites exactly
the touched partition directories. Cost per merge is O(batch +
touched-bucket bytes), not O(table) — the same asymptotics as a
Delta MERGE over a key-clustered table (file-level skipping there,
directory-level here; a real deployment sizes n_buckets so a bucket
is a few GB).

Idempotence: replaying a batch rewrites the same buckets with the
same contents — exactly-once results from at-least-once delivery,
which is what `merge_sink` (the foreachBatch streaming face) needs.

The plain merge table deliberately survives beside the snapshot
table (r9, one upsert front door: :func:`upsert_table`): a
single-writer, no-history pipeline gets the same O(touched buckets)
merge with ZERO metadata machinery — no manifest writes, no version
dirs, no vacuum to schedule — at the documented cost of no time
travel, no crash window protection, no concurrency, and a strict
schema. Anything needing those contracts uses ``snapshot=True``
(time travel, exactly-once by batch id, CAS-serialized concurrent
writers, add-column schema evolution — all on plain parquet).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dask_awkward_sandbox_spark.session import scoped_conf

BUCKET_COL = "_mbucket"


def probe_lakehouse() -> dict[str, str]:
    """Record exactly why the real formats are unavailable here —
    {format: error}. Empty dict would mean a real sink is possible."""
    out: dict[str, str] = {}
    try:
        import delta  # noqa: F401
    except Exception as e:  # pragma: no cover - environment-dependent
        out["delta"] = f"{type(e).__name__}: {e}"
    try:
        import os

        import pyspark

        jars = os.listdir(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
        hits = [j for j in jars if any(k in j.lower() for k in ("iceberg", "hudi"))]
        if not hits:
            out["iceberg"] = f"no iceberg/hudi jar among {len(jars)} bundled jars"
    except Exception as e:  # pragma: no cover
        out["iceberg"] = f"{type(e).__name__}: {e}"
    return out


def _with_bucket(df: DataFrame, keys: list[str], n_buckets: int) -> DataFrame:
    return df.withColumn(
        BUCKET_COL, F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(n_buckets))
    )


def _require_local(path: str) -> None:
    """This module's existence checks and manifest IO go through the
    local filesystem while the data writes go through Spark's Hadoop
    FS. On a URI path (hdfs://, s3a://) the two disagree — e.g. the
    sink's os.path.isdir() would always be False, re-CREATING the
    table every batch — so refuse loudly instead of clobbering."""
    if "://" in path:
        raise NotImplementedError(
            f"lakehouse tables require a local filesystem path, got {path!r}: "
            "manifest/existence IO is local-FS (os/json) while data IO is "
            "Hadoop-FS; on object stores use a real table format instead"
        )


def _collapse_batch(upd: DataFrame, keys: list[str]) -> DataFrame:
    """Deterministic within-batch collapse: ONE whole row per
    (key, bucket) — the struct-min picks the lexicographically
    smallest full row, so columns never mix across duplicate rows and
    replay order cannot change the outcome. Shared by both table
    flavors and both sinks' first-batch paths."""
    others = [c for c in upd.columns if c not in keys and c != BUCKET_COL]
    return (
        upd.groupBy(*keys, BUCKET_COL)
        .agg(F.min(F.struct(*[F.col(c) for c in others])).alias("_r"))
        .select(*keys, BUCKET_COL, *[F.col(f"_r.{c}").alias(c) for c in others])
    )


def create_merge_table(
    df: DataFrame, path: str, keys: list[str], n_buckets: int = 64
) -> None:
    """Materialize the initial table, hash-partitioned on the merge
    key so later upserts prune to touched buckets. ``n_buckets`` is a
    physical-layout choice: size it so one bucket's bytes are a
    comfortable task unit at the target scale (64 here for testdata;
    thousands at 100 TB). Duplicate keys in ``df`` collapse exactly
    like a merge batch would, so a sink's FIRST batch honors the
    same one-row-per-key contract as every later one."""
    _require_local(path)
    _collapse_batch(_with_bucket(df, keys, n_buckets), keys).write.partitionBy(
        BUCKET_COL
    ).mode("overwrite").parquet(path)


def read_merge_table(spark: SparkSession, path: str) -> DataFrame:
    """Read back without the layout column."""
    return spark.read.parquet(path).drop(BUCKET_COL)


def merge_upsert(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    keys: list[str],
    n_buckets: int = 64,
) -> None:
    """MERGE (upsert): rows in ``updates`` replace same-key rows in
    the table; new keys insert. Duplicate keys WITHIN the batch are
    collapsed deterministically (min over the full remaining row, so
    replay order cannot change the outcome).

    Only the partitions whose bucket appears in the batch are read
    and rewritten: ``spark.sql.sources.partitionOverwriteMode=dynamic``
    scoped to this write. The untouched table is never scanned.

    CRASH WINDOW (honest limitation): this reads and dynamic-
    overwrites the SAME path with no log, so a crash inside the write
    commit can leave a touched bucket partial, and a later replay
    would read that partial state as "existing". Replay idempotence
    holds for fully-committed writes only. The snapshot-table API
    below removes the window entirely (new version dirs + atomic
    manifest publish) — prefer it when history or crash safety
    matters."""
    _require_local(path)
    upd = _collapse_batch(_with_bucket(updates, keys, n_buckets), keys)
    touched = [r[BUCKET_COL] for r in upd.select(BUCKET_COL).distinct().collect()]
    if not touched:
        return
    existing = (
        spark.read.parquet(path)
        .filter(F.col(BUCKET_COL).isin(touched))
        .join(upd.select(*keys), keys, "left_anti")
    )
    # the plain table has no manifest to version a schema, so a batch
    # whose columns differ from the table's is a DIRECTED error — the
    # old select(*existing.columns) silently DROPPED new columns and
    # crashed opaquely on missing ones (r9 self-review)
    if set(upd.columns) != set(existing.columns):
        extra = sorted(set(upd.columns) - set(existing.columns))
        missing = sorted(set(existing.columns) - set(upd.columns))
        raise ValueError(
            f"merge_upsert: batch schema differs from the table's "
            f"(extra columns {extra}, missing {missing}); the plain table "
            "cannot evolve schemas — use the snapshot flavor "
            "(upsert_table(snapshot=True)) for add-column evolution"
        )
    # ... and same-name/different-TYPE drift must be directed too (r9
    # advice): a name-only check let a retyped column pass here and
    # then fail opaquely (or silently coerce) inside unionByName/write
    upd_types = {f.name: f.dataType for f in upd.schema.fields}
    drift = sorted(
        f"{f.name}: table {f.dataType.simpleString()} vs batch "
        f"{upd_types[f.name].simpleString()}"
        for f in existing.schema.fields
        if f.name != BUCKET_COL and upd_types[f.name] != f.dataType
    )
    if drift:
        raise ValueError(
            f"merge_upsert: batch column types differ from the table's "
            f"({'; '.join(drift)}); the plain table cannot evolve "
            "schemas — recast the batch to the table's types"
        )
    out = existing.unionByName(upd.select(*existing.columns))
    with scoped_conf(spark, "spark.sql.sources.partitionOverwriteMode", "dynamic"):
        out.write.partitionBy(BUCKET_COL).mode("overwrite").parquet(path)


def upsert_table(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    keys: list[str],
    n_buckets: int = 64,
    snapshot: bool = True,
    batch_id: str | int | None = None,
) -> bool:
    """ONE upsert front door over both table flavors (r9, the r8
    verdict's unification item): creates the table on first call,
    merges after. Returns True if the batch changed the table.

    ``snapshot=True`` (default) — the manifest-logged table: time
    travel, exactly-once by ``batch_id``, CAS-serialized concurrent
    writers, add-column schema evolution, vacuum-able history.
    ``snapshot=False`` — the plain dynamic-partition-overwrite table:
    same O(touched buckets) merge with zero metadata machinery, for
    single-writer no-history pipelines that want the lightest path
    (documented trade-offs at :func:`merge_upsert`; ``batch_id``
    dedup needs the manifest, so it is rejected here)."""
    import os

    if snapshot:
        if not list_snapshot_versions(path):
            create_snapshot_table(updates, path, keys, n_buckets,
                                  batch_id=batch_id)
            return True
        return snapshot_upsert(spark, path, updates, batch_id=batch_id)
    if batch_id is not None:
        raise ValueError(
            "batch_id dedup needs the manifest log — use snapshot=True "
            "(the plain table cannot tell a replay from a new batch)"
        )
    if not os.path.isdir(path):
        create_merge_table(updates, path, keys, n_buckets)
    else:
        merge_upsert(spark, path, updates, keys, n_buckets)
    return True


def merge_dedup_sink(
    stream_df: DataFrame,
    path: str,
    keys: list[str],
    checkpoint: str,
    n_buckets: int = 64,
):
    """The streaming face: foreachBatch MERGE — the production shape
    of streaming exact dedup. dropDuplicatesWithinWatermark bounds
    state by TIME; this bounds it by KEY SPACE for keys that can
    recur beyond any watermark (document ids in a curation pipeline):
    every micro-batch upserts, so the TABLE is the dedup state, with
    no executor-memory growth. Replayed batches (at-least-once
    sources) rewrite the same buckets with the same bytes —
    exactly-once table contents."""

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        upsert_table(
            batch_df.sparkSession, path, batch_df, keys, n_buckets,
            snapshot=False,
        )

    return (
        stream_df.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )


# ---------------------------------------------------------------------------
# Snapshot tables (r6): a manifest log on top of the bucket layout —
# the two contracts dynamic-partition-overwrite alone cannot give:
# TIME TRAVEL (pin any past version for reads) and EXACTLY-ONCE batch
# application by id (a replayed micro-batch is a metadata no-op, not
# a byte-identical rewrite). This is the single-writer core of what
# a Delta/Iceberg transaction log provides; snapshot isolation for
# CONCURRENT writers still needs the real formats (documented in
# SURVEY §3).
#
# Layout:
#   path/v{N}/_mbucket=*/...parquet   -- the buckets REWRITTEN by merge N
#   path/_manifests/v{N}.json         -- bucket -> version dir holding
#                                        its current data, + applied
#                                        batch ids
# A merge writes ONLY its touched buckets into a NEW version dir and
# publishes a manifest pointing the untouched buckets at their old
# dirs — old versions stay readable until vacuum() drops dirs no kept
# manifest references. Publishing is a single atomic rename, so a
# reader always sees a complete version or the previous one.
# ---------------------------------------------------------------------------

import json as _json
import os as _os

MANIFEST_DIR = "_manifests"


def _manifest_file(path: str, version: int) -> str:
    return _os.path.join(path, MANIFEST_DIR, f"v{version:08d}.json")


def list_snapshot_versions(path: str) -> list[int]:
    d = _os.path.join(path, MANIFEST_DIR)
    if not _os.path.isdir(d):
        return []
    return sorted(
        int(f[1:-5]) for f in _os.listdir(d)
        if f.startswith("v") and f.endswith(".json")
    )


def _read_manifest(path: str, version: int | None = None) -> dict:
    versions = list_snapshot_versions(path)
    if not versions:
        raise FileNotFoundError(f"no snapshot manifests under {path}")
    v = versions[-1] if version is None else version
    if v not in versions:
        raise ValueError(f"version {v} not in {versions} (vacuumed or never written)")
    with open(_manifest_file(path, v)) as f:
        return _json.load(f)


class SnapshotConflict(Exception):
    """A concurrent writer published this version first — the caller
    must re-read the latest manifest and retry its merge against it."""


class SchemaEvolutionError(Exception):
    """The update batch's schema cannot evolve the table's: a shared
    column changed type. Adding nullable columns is supported;
    type changes are not (same as Delta's mergeSchema rule)."""


def _evolve_schema(table_schema, upd_schema):
    """Merged schema for an upsert batch (the Delta ``mergeSchema``
    contract): table columns keep their position and type; NEW update
    columns append as nullable; a shared column with a different type
    is a directed error. Columns the batch OMITS stay — the batch's
    rows get NULL there (add-column-with-NULL-backfill both ways)."""
    from pyspark.sql.types import StructField, StructType

    by_name = {f.name: f for f in upd_schema.fields}
    fields = []
    for f in table_schema.fields:
        u = by_name.get(f.name)
        if u is not None and u.dataType != f.dataType:
            raise SchemaEvolutionError(
                f"column {f.name!r}: table has {f.dataType.simpleString()}, "
                f"update batch has {u.dataType.simpleString()} — type "
                "changes are not supported (add new nullable columns only)"
            )
        fields.append(f)
    known = {f.name for f in table_schema.fields}
    for f in upd_schema.fields:
        if f.name not in known:
            fields.append(StructField(f.name, f.dataType, nullable=True))
    return StructType(fields)


def _conform(df: DataFrame, schema) -> DataFrame:
    """Select ``df`` into ``schema``'s column set/order, NULL-filling
    columns it lacks — how rows written under an older schema surface
    under a newer one (and how a narrow batch merges into a wide
    table)."""
    have = set(df.columns)
    return df.select(
        *[
            F.col(f.name)
            if f.name in have
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in schema.fields
        ]
    )


def _publish_manifest(path: str, manifest: dict) -> None:
    """Atomic compare-and-swap publish (r8; the Delta/Iceberg commit
    protocol shape): write the manifest to a writer-unique temp name,
    then ``os.link`` it to the version file. Hard-linking is the CAS —
    it either creates the name or fails with EEXIST atomically, where
    the old exists()-then-rename pair had a window in which two
    writers both passed the check and the second rename silently
    OVERWROTE the first commit. Losers get :class:`SnapshotConflict`
    and retry against the new latest (snapshot_upsert's loop)."""
    import uuid

    d = _os.path.join(path, MANIFEST_DIR)
    _os.makedirs(d, exist_ok=True)
    target = _manifest_file(path, manifest["version"])
    tmp = target + f".{uuid.uuid4().hex[:8]}.tmp"
    with open(tmp, "w") as f:
        _json.dump(manifest, f, indent=1)
    try:
        _os.link(tmp, target)
    except FileExistsError:
        raise SnapshotConflict(
            f"manifest v{manifest['version']} was published by a concurrent "
            "writer; re-read the latest manifest and retry"
        ) from None
    finally:
        _os.remove(tmp)


def create_snapshot_table(
    df: DataFrame, path: str, keys: list[str], n_buckets: int = 64,
    batch_id: str | int | None = None,
) -> None:
    """Materialize version 0: all buckets under ``path/v0``, manifest
    pointing every present bucket at it. ``batch_id`` (r9) records the
    creating batch in v0's applied list, so a replay of the FIRST
    micro-batch after a crash-between-create-and-ack is a metadata
    no-op like every later batch."""
    _require_local(path)
    vdir = _os.path.join(path, "v0")
    bucketed = _collapse_batch(_with_bucket(df, keys, n_buckets), keys)
    schema_json = bucketed.schema.json()
    bucketed.write.partitionBy(BUCKET_COL).mode("error").parquet(vdir)
    present = [
        d.split("=", 1)[1]
        for d in _os.listdir(vdir)
        if d.startswith(BUCKET_COL + "=")
    ]
    _publish_manifest(
        path,
        {
            "version": 0,
            "keys": keys,
            "n_buckets": n_buckets,
            "buckets": {b: "v0" for b in present},
            "applied_batches": [batch_id] if batch_id is not None else [],
            "schema": schema_json,
        },
    )


def read_snapshot_table(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """Read the table AT a version (default: latest) — time travel.
    Each version dir is read once, filtered to the buckets the
    manifest still assigns to it (a dir also holds buckets that later
    merges superseded).

    Each version reads under ITS OWN manifest schema (r9 schema
    evolution): buckets still owned by an older dir lack columns later
    versions added — they surface as NULL; reading an old version
    never shows columns added after it."""
    from pyspark.sql.types import StructType

    m = _read_manifest(path, version)
    schema = (
        StructType.fromJson(_json.loads(m["schema"])) if m.get("schema") else None
    )
    by_dir: dict[str, list[int]] = {}
    for b, vdir in m["buckets"].items():
        by_dir.setdefault(vdir, []).append(int(b))
    if not by_dir:
        # empty table (created from an empty frame / empty first
        # batch): the manifest carries the schema so reads still work
        return spark.createDataFrame([], schema).drop(BUCKET_COL)
    parts = []
    for vdir, buckets in sorted(by_dir.items()):
        part = spark.read.parquet(_os.path.join(path, vdir)).filter(
            F.col(BUCKET_COL).isin(buckets)
        )
        if schema is not None:
            part = _conform(part, schema)
        parts.append(part)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.drop(BUCKET_COL)


def snapshot_upsert(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    batch_id: str | int | None = None,
    max_retries: int = 5,
) -> bool:
    """MERGE into the snapshot table; returns True if applied, False
    if ``batch_id`` was already applied (exactly-once by METADATA —
    the replay does no IO at all, the contract a Delta
    ``txnAppId/txnVersion`` write gives a foreachBatch sink).

    Only touched buckets are read (from whatever version dirs
    currently own them) and rewritten into the new version dir —
    O(batch + touched-bucket bytes), never O(table).

    SCHEMA EVOLUTION (r9): a batch may ADD nullable columns — the new
    version's manifest records the widened schema, existing rows
    rewritten into the new dir are NULL-backfilled, and rows still
    owned by older dirs backfill at read time; a batch may also OMIT
    columns (its rows get NULL). Type changes raise
    :class:`SchemaEvolutionError`. Under concurrency the retry loop
    re-reads the winner's manifest, so a losing writer rebases its
    evolution onto the winner's schema — two writers adding the same
    column with different types get the directed conflict.

    CONCURRENT writers serialize optimistically (r8; the r6/r7
    verdicts' open item — Delta/Iceberg's commit loop): each attempt
    writes its data under a writer-unique dir, then CAS-publishes the
    next manifest version (hard-link create, _publish_manifest). The
    loser's :class:`SnapshotConflict` re-reads the NEW latest
    manifest — so its merge re-reads the winner's buckets, not the
    stale ones — removes its orphaned data dir, and retries; after
    ``max_retries`` losses the conflict propagates. batch_id dedup is
    re-checked per attempt (the winner may have applied this very
    batch)."""
    import shutil
    import uuid

    _require_local(path)
    last: SnapshotConflict | None = None
    attempts = 0
    max_attempts = max(1, max_retries)
    while attempts < max_attempts:
        m = _read_manifest(path)
        if batch_id is not None and batch_id in m["applied_batches"]:
            return False
        keys, n_buckets = m["keys"], m["n_buckets"]
        missing_keys = [k for k in keys if k not in updates.columns]
        if missing_keys:
            raise ValueError(
                f"upsert batch lacks the table's merge key column(s) "
                f"{missing_keys}; keys cannot be NULL-backfilled"
            )
        upd = _collapse_batch(_with_bucket(updates, keys, n_buckets), keys)
        merged = None
        if m.get("schema"):
            from pyspark.sql.types import StructType

            table_schema = StructType.fromJson(_json.loads(m["schema"]))
            merged = _evolve_schema(table_schema, upd.schema)
            upd = _conform(upd, merged)
        touched = [r[BUCKET_COL] for r in upd.select(BUCKET_COL).distinct().collect()]
        if not touched:
            return False
        # current owners of the touched buckets, grouped by version dir
        by_dir: dict[str, list[int]] = {}
        for b in touched:
            vdir = m["buckets"].get(str(b))
            if vdir is not None:
                by_dir.setdefault(vdir, []).append(b)
        existing = None
        for vdir, buckets in sorted(by_dir.items()):
            part = spark.read.parquet(_os.path.join(path, vdir)).filter(
                F.col(BUCKET_COL).isin(buckets)
            )
            if merged is not None:
                # a dir written under an older schema NULL-backfills
                # the columns this upsert (or earlier ones) added
                part = _conform(part, merged)
            existing = part if existing is None else existing.unionByName(part)
        new_version = m["version"] + 1
        # writer-unique data dir: two racing writers must never target
        # the same directory — the manifest, not the name, assigns
        # ownership, and vacuum drops unreferenced dirs (lost races)
        dname = f"v{new_version}_{uuid.uuid4().hex[:8]}"
        vdir = _os.path.join(path, dname)
        if existing is not None:
            out = existing.join(upd.select(*keys), keys, "left_anti").unionByName(
                upd.select(*existing.columns)
            )
        else:
            out = upd
        out.write.partitionBy(BUCKET_COL).mode("error").parquet(vdir)
        schema_json = merged.json() if merged is not None else m.get("schema")
        # publish loop with LOGICAL conflict detection (r14; the CAS
        # probe measured the cost of not having it — 8 contending
        # writers averaged 105s/commit because every lost version race
        # re-did the merge + data write. Delta's commit protocol
        # re-checks the loser's read set instead): losing the version
        # CAS forces a data REWRITE only when the winner actually
        # invalidated what this merge read — rewrote one of the
        # touched buckets or changed the schema. A winner on disjoint
        # buckets just rebases the manifest and re-publishes the SAME
        # data dir at the next version (the dir name keeps its
        # original version prefix — ownership comes from the manifest,
        # never the name).
        while attempts < max_attempts:
            attempts += 1
            new_version = m["version"] + 1
            new_buckets = dict(m["buckets"])
            for b in touched:
                new_buckets[str(b)] = dname
            try:
                _publish_manifest(
                    path,
                    {
                        "version": new_version,
                        "keys": keys,
                        "n_buckets": n_buckets,
                        "buckets": new_buckets,
                        # bounded window (last 512): a streaming replay
                        # always re-delivers from the immediately-
                        # preceding checkpoint, so dedup only ever needs
                        # recent ids — an unbounded list would grow
                        # every manifest O(total batches)
                        "applied_batches": (
                            m["applied_batches"]
                            + ([batch_id] if batch_id is not None else [])
                        )[-512:],
                        "schema": schema_json,
                    },
                )
                return True
            except SnapshotConflict as e:
                last = e
                m2 = _read_manifest(path)
                if batch_id is not None and batch_id in m2["applied_batches"]:
                    # the winner applied this very batch: replay no-op
                    shutil.rmtree(vdir, ignore_errors=True)
                    return False
                if m2.get("schema") == m.get("schema") and all(
                    m2["buckets"].get(str(b)) == m["buckets"].get(str(b))
                    for b in touched
                ):
                    # disjoint winner: everything this merge read is
                    # untouched — rebase and re-publish, keep the data
                    m = m2
                    continue
                # real conflict: the written dir merged stale inputs
                shutil.rmtree(vdir, ignore_errors=True)
                break
        else:
            # attempts exhausted inside the publish loop — do not
            # leave the unpublished dir behind
            shutil.rmtree(vdir, ignore_errors=True)
    raise last if last is not None else RuntimeError("unreachable")


def vacuum_snapshots(
    path: str, keep_last: int = 1, min_age_seconds: float = 3600.0
) -> list[str]:
    """Drop version DIRS no kept manifest references (and the dropped
    manifests themselves). A dir stays as long as ANY kept manifest
    points a bucket at it — current data is never deleted no matter
    how old its dir is. Returns the removed dir names.

    ``min_age_seconds`` is the retention window for UNREFERENCED dirs
    (r8 review — the Delta VACUUM retention rule): with concurrent
    writers supported, an in-flight upsert's freshly-written data dir
    is unreferenced until its CAS publish, so vacuuming it would let
    the subsequent successful publish commit a manifest pointing at a
    deleted directory. Only unreferenced dirs older than the window
    (mtime) are removed; run vacuum with 0 only when no writer can be
    in flight."""
    import shutil
    import time

    versions = list_snapshot_versions(path)
    kept = versions[-keep_last:]
    referenced = set()
    for v in kept:
        referenced.update(_read_manifest(path, v)["buckets"].values())
    removed = []
    for v in versions:
        if v in kept:
            continue
        _os.remove(_manifest_file(path, v))
    cutoff = time.time() - min_age_seconds
    for d in _os.listdir(path):
        if d.startswith("v") and d != MANIFEST_DIR and d not in referenced:
            full = _os.path.join(path, d)
            if _os.path.isdir(full) and _os.path.getmtime(full) <= cutoff:
                shutil.rmtree(full)
                removed.append(d)
    return sorted(removed)


def snapshot_dedup_sink(
    stream_df: DataFrame,
    path: str,
    keys: list[str],
    checkpoint: str,
    n_buckets: int = 64,
):
    """Streaming dedup on a snapshot table: each micro-batch is
    applied with its Structured-Streaming batch_id, so a restarted
    query re-delivering a batch is a metadata no-op — exactly-once
    table contents AND a time-travelable history of every batch."""

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        upsert_table(
            batch_df.sparkSession, path, batch_df, keys, n_buckets,
            snapshot=True, batch_id=f"stream-{batch_id}",
        )

    return (
        stream_df.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )
