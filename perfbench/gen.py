"""Seeded input generation for the benchmark workloads.

Values are a pure function of the table sizes and a fixed value seed,
shaped like the repository's testdata (TPC-H-ish star schema, an
events stream, a small document corpus and unit-norm embeddings), so
every DuckDB oracle in ``plans.ORACLES`` applies unchanged. The
benchmark's ``--seed`` picks only the row order and parquet file split
of every table, and for the stream its file boundaries and the slice of
events that arrives late. Every seed therefore yields the same results
by a different physical layout, which is what makes runs on different
seeds comparable.

Tables are written with pyarrow (no Spark), once per (sizes, seed), into
a cache directory the caller owns.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VALUE_SEED = 42
GEN_VERSION = "3"

VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
COLORS = "red blue green hot small big dark pale".split()
NOUNS = "ring widget bolt gear plate nut pipe valve".split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "SMALL", "MEDIUM", "LARGE", "STANDARD", "PROMO"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "de", "es", "fr", "zh"]
EMB_DIM = 64

DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000  # 1995-01-01T00:00:00Z in microseconds
EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in microseconds

# Stream replay: events whose time lies in (final watermark + 10 min,
# max - 1 min] may be held back into a late file and stay admissible
# under the sessionizer's 1-hour watermark (see plans.events).
WATERMARK_US = 3_600_000_000
DUP_WINDOW_US = 1_800_000_000
JSON_TS = "%Y-%m-%dT%H:%M:%S.%f+00:00"
# parquet files per generated table (tables under 64 rows get one)
TABLE_FILES = 4


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us):
    return pa.array(us, pa.timestamp("us"))


def _dates(rng, start_us, n_days, n):
    return _ts(start_us + rng.integers(0, n_days, n) * DAY_US)


def relational_tables(n_orders: int) -> dict[str, pa.Table]:
    """TPC-H-ish tables: 4 lineitems per order on average; line
    numbers repeat within an order, as in the testdata."""
    rng = np.random.default_rng(VALUE_SEED)
    n_cust = max(50, n_orders // 10)
    n_supp = max(10, n_orders // 150)
    n_part = max(64, n_orders * 2 // 15)
    n_li = 4 * n_orders
    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    customer = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    supplier = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    part = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [
            f"{COLORS[a]} {NOUNS[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PTYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
    })
    orders = pa.table({
        "o_orderkey": pa.array(range(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_orders),
        "o_orderdate": _dates(rng, EPOCH_1995, 2404, n_orders),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_orders)],
    })
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _dates(rng, EPOCH_1995 + DAY_US, 2499, n_li),
    })
    return {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "part": part, "orders": orders,
        "lineitem": lineitem,
    }


def corpus_tables(n_docs: int, n_emb: int) -> dict[str, pa.Table]:
    """Documents of 10-99 words over a 31-word vocabulary, one in
    twenty a near-copy (two words changed) of an earlier document, and
    (when ``n_emb``) unit-norm embeddings clustered around ten labelled
    centroids."""
    rng = np.random.default_rng(VALUE_SEED + 1)
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 20 and i % 20 == 0:
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), 2):
                words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        else:
            words = [VOCAB[k] for k in rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))]
        texts.append(" ".join(words))
    lang_p = np.array([0.44, 0.14, 0.14, 0.14, 0.14])
    documents = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_docs, p=lang_p)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    if not n_emb:
        return {"documents": documents}
    centroids = rng.normal(0.0, 1.0, (10, EMB_DIM))
    labels = rng.integers(0, 10, n_emb)
    x = centroids[labels] + rng.normal(0.0, 0.8, (n_emb, EMB_DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    embeddings = pa.table({
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return {"documents": documents, "embeddings": embeddings}


def events_table(n_events: int) -> pa.Table:
    """Time-ordered events over 30 days, ~66 events per user."""
    rng = np.random.default_rng(VALUE_SEED + 2)
    gaps = rng.exponential(30 * DAY_US / n_events, n_events).astype(np.int64)
    ts = EPOCH_2024 + 7_000_000 + np.cumsum(gaps)
    return pa.table({
        "event_id": pa.array(range(n_events), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, max(2, n_events // 66), n_events), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)],
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_events), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })


def _seeded_cuts(n: int, n_files: int, rng) -> list[int]:
    """Boundaries of ``n_files`` pieces of ``n`` rows, each drawn within
    a quarter piece of the even split, so every seed yields the same
    number of comparable pieces."""
    step = n // n_files
    return [i * step + int(rng.integers(-(step // 4), step // 4 + 1)) for i in range(1, n_files)]


def _write_table(table: pa.Table, path: str, rng, n_files: int) -> None:
    """Shuffle rows and split them into ``n_files`` parquet files at
    seeded boundaries (a directory, as Spark writes tables). The file
    count is fixed: it sets the scan's task count, which the seed must
    not move."""
    n = table.num_rows
    table = table.take(pa.array(rng.permutation(n)))
    cuts = _seeded_cuts(n, n_files, rng) if n >= 64 else []
    os.makedirs(path)
    for i, (a, b) in enumerate(zip([0, *cuts], [*cuts, n])):
        pq.write_table(table.slice(a, b - a), os.path.join(path, f"part-{i:05d}.parquet"))


def _write_json_lines(table: pa.Table, path: str, mtime: float) -> int:
    """One json-lines stream file with micros-preserving timestamps; the
    mtime orders it in the file source's replay."""
    df = table.to_pandas()
    df["ts"] = df["ts"].dt.strftime(JSON_TS)
    df.to_json(path, orient="records", lines=True)
    os.utime(path, (mtime, mtime))
    return os.path.getsize(path)


def _write_stream(events: pa.Table, root: str, rng, n_files: int) -> dict:
    """Stage the events as two file-source replays.

    ``stream_sessionize``: the events cut by time into ``n_files`` files
    at seeded boundaries (``_seeded_cuts``) so the micro-batches stay
    comparable, minus a seeded late slice from the last hour of the
    timeline that arrives as one extra, last file. Rows within a file
    are in seeded order.
    ``stream_dedup``: the same files plus a planted duplicate file
    re-emitting the last 30 minutes of events.
    """
    ts = events.column("ts").cast(pa.int64()).to_numpy()
    eid = events.column("event_id").to_numpy()
    mx = int(ts.max())
    residue = int(rng.integers(0, 7))
    late = (
        (ts >= mx - (WATERMARK_US - 600_000_000))
        & (ts <= mx - 60_000_000)
        & (eid % 7 == residue)
    )
    on_time = events.filter(pa.array(~late))
    n = on_time.num_rows
    cuts = _seeded_cuts(n, n_files, rng)
    pieces = [
        on_time.slice(a, b - a) for a, b in zip([0, *cuts], [*cuts, n])
    ] + [events.filter(pa.array(late)), events.filter(pa.array(ts >= mx - DUP_WINDOW_US))]
    pieces = [t.take(pa.array(rng.permutation(t.num_rows))) for t in pieces]
    *pieces, dup = pieces
    sizes = {}
    for name, files in (
        ("stream_sessionize", pieces),
        ("stream_dedup", pieces + [dup]),
    ):
        d = os.path.join(root, name)
        os.makedirs(d)
        sizes[name] = sum(
            _write_json_lines(t, os.path.join(d, f"part-{i:05d}.json"), 1.0e9 + 60 * i)
            for i, t in enumerate(files)
        )
    return {"input_bytes": sizes, "late_rows": int(late.sum()), "dup_rows": dup.num_rows}


def ensure_inputs(cache_root: str, seed: int, sizes: dict) -> str:
    """Return the directory holding the inputs for ``sizes`` and
    ``seed``, generating it on first use. The directory is an
    ``sf_dir`` for ``plans.QUERIES`` (``<table>.parquet`` per table);
    stream replays sit beside the tables."""
    key = "-".join(f"{k}{v}" for k, v in sorted(sizes.items()))
    out = os.path.join(cache_root, f"v{GEN_VERSION}-{key}-seed{seed}")
    if os.path.exists(os.path.join(out, "MANIFEST.json")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    layout = np.random.default_rng(seed)
    tables = {}
    if "orders" in sizes:
        tables.update(relational_tables(sizes["orders"]))
    if "docs" in sizes:
        tables.update(corpus_tables(sizes["docs"], sizes.get("emb", 0)))
    manifest: dict = {"sizes": sizes, "seed": seed, "value_seed": VALUE_SEED}
    if "events" in sizes:
        events = events_table(sizes["events"])
        tables["events"] = events
        manifest["stream"] = _write_stream(events, tmp, layout, sizes["stream_files"])
    for name, table in tables.items():
        _write_table(table, os.path.join(tmp, f"{name}.parquet"), layout, TABLE_FILES)
    manifest["rows"] = {k: t.num_rows for k, t in tables.items()}
    with open(os.path.join(tmp, "MANIFEST.json"), "w") as f:
        json.dump(manifest, f, indent=1)
    os.replace(tmp, out)
    return out
