"""Seeded input generators for the benchmark.

Everything the program under test reads is made here, before it starts:

* ``tables``: the star schema plus ``events``, ``documents`` and
  ``embeddings`` with the column names, types and value shapes of the
  repository's test data (see TESTDATA.md at the repository root). The
  tables come from a fixed seed, so every run of every workload reads the
  same data; ``SCALE`` fixes their size.
* ``serve_schedule``: the ``serve_q`` request mix, due times and parameters,
  drawn from the run's seed.
* ``ingest_chunks``: the ``ingest_ztable`` chunk boundaries, drawn from the
  run's seed, and the chunk files themselves.

The same seed gives byte-identical files; ``digest`` hashes a directory so
the caller can check that.
"""
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Size of the generated tables, in TPC-H scale-factor units (lineitem has
# 6M * SCALE rows). Chosen so one pass over the query rows fits the run
# budget on a 4-core box; see README.md.
SCALE = 0.005
TABLE_SEED = 42
EVENTS_START_US = 1704067200 * 1_000_000  # 2024-01-01 00:00:00 UTC
EVENTS_DAYS = 30
DAY_US = 86_400 * 1_000_000
HOUR_US = 3_600 * 1_000_000

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a the row query stream fast spark line small customer group value "
         "hash batch sort data big filter key agg scan slow table part merge "
         "window order column join vector").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["small", "large", "red", "blue", "hot", "old", "new", "cold"]
NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "nut", "spring"]
LANGS = ["en", "de", "es", "fr", "zh"]


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, end, n):
    """Midnight timestamps (µs) drawn uniformly from [start, end]."""
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return pa.array(rng.integers(lo, hi + 1, n) * DAY_US, pa.timestamp("us"))


def _events(rng, n, users):
    # strictly increasing µs timestamps: ohlcv's open/close pick by ts, so
    # ties would make the answer depend on evaluation order
    span = EVENTS_DAYS * DAY_US - n
    ts = np.sort(rng.integers(0, span, n)) + np.arange(n) + EVENTS_START_US
    value = np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01)
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(value, pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def _documents(rng, n):
    texts = []
    for i in range(n):
        # about one document in twenty is an earlier one plus " dup", so the
        # near-duplicate rows find clusters
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = np.array(WORDS)[rng.integers(0, len(WORDS), rng.integers(8, 90))]
            texts.append(" ".join(words))
    langs = np.where(rng.random(n) < 0.44, "en",
                     np.array(LANGS[1:])[rng.integers(0, 4, n)])
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(langs),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n, dim=64, labels=10):
    centers = rng.normal(0.0, 1.0, (labels, dim))
    label = rng.integers(0, labels, n)
    x = 0.15 * centers[label] + rng.normal(0.0, 1.0, (n, dim))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


def tables(out_dir, scale=SCALE):
    """Write the ten tables as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(TABLE_SEED)
    n_cust, n_supp = int(150_000 * scale), int(10_000 * scale)
    n_part, n_ord = int(200_000 * scale), int(1_500_000 * scale)
    n_line = int(6_000_000 * scale)
    i32 = pa.int32()
    _write(pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }), f"{out_dir}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    }), f"{out_dir}/nation.parquet")
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    }), f"{out_dir}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    }), f"{out_dir}/supplier.parquet")
    _write(pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    }), f"{out_dir}/part.parquet")
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    }), f"{out_dir}/orders.parquet")
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line),
    }), f"{out_dir}/lineitem.parquet")
    _write(_events(rng, int(1_000_000 * scale), int(15_000 * scale)),
           f"{out_dir}/events.parquet")
    _write(_documents(rng, int(50_000 * scale)), f"{out_dir}/documents.parquet")
    _write(_embeddings(rng, max(500, int(20_000 * scale))),
           f"{out_dir}/embeddings.parquet")


def _ts_str(us):
    s = np.datetime64(int(us), "us").astype(str).replace("T", " ")
    return s[:19]


# Offered request rate of serve_q (requests/s): about three eighths of the
# 6.3/s the server completed when offered more than it could take over 4
# connections on a 4-core box. At half (3.2/s) requests queued behind each
# other enough that a core lost to another tenant of a shared host moved
# the median by a fifth; at 2.4/s by about a seventh.
SERVE_RATE = 2.4
SERVE_MIN_REQUESTS = 48


def serve_schedule(seed, seconds):
    """The serve_q requests: a list of ``{"due_s", "op", "body"}`` dicts.

    One request every 1/SERVE_RATE s, each shifted by a seed-drawn jitter of
    up to a fifth of the interval, for ``seconds`` (at least
    SERVE_MIN_REQUESTS requests). Each op gets the same share of requests,
    in a seed-shuffled order, with seed-drawn parameters. No op mutates the
    served table. Even spacing and an even mix keep the offered load the
    same for every seed, so only the parameters and order vary."""
    rng = np.random.default_rng([seed, 1])
    n = max(SERVE_MIN_REQUESTS, int(round(SERVE_RATE * seconds)))
    gap = 1.0 / SERVE_RATE
    due = (np.arange(n) + 0.5 + rng.uniform(-0.2, 0.2, n)) * gap
    kinds = ["scan", "ohlcv", "symbols", "range", "sql", "search"]
    ops = [kinds[i % len(kinds)] for i in rng.permutation(n)]
    out = []
    for i in range(n):
        op = ops[i]
        day = int(rng.integers(0, EVENTS_DAYS))
        if op == "scan":
            # an hour range inside one day, or a whole day projected
            if rng.random() < 0.7:
                start = EVENTS_START_US + day * DAY_US + int(rng.integers(0, 20)) * HOUR_US
                end = start + int(rng.integers(1, 5)) * HOUR_US - 1_000_000
                body = {"op": "scan", "table": "@root@/events", "from": _ts_str(start),
                        "to": _ts_str(end)}
            else:
                start = EVENTS_START_US + day * DAY_US
                body = {"op": "scan", "table": "@root@/events", "from": _ts_str(start),
                        "to": _ts_str(start + DAY_US - 1_000_000),
                        "cols": ["ts", "event_type", "value"]}
        elif op == "ohlcv":
            start = EVENTS_START_US + day * DAY_US
            k = int(rng.integers(1, 4))
            syms = sorted(rng.choice(EVENT_TYPES, k, replace=False).tolist())
            body = {"op": "ohlcv", "table": "@root@/events", "from": _ts_str(start),
                    "to": _ts_str(start + DAY_US - 1_000_000), "col": "event_type",
                    "symbols": syms, "price": "value", "size": "user_id",
                    "width": "1 hour"}
        elif op == "symbols":
            body = {"op": "symbols", "table": "@root@/events", "col": "event_type"}
        elif op == "range":
            body = {"op": "range", "table": "@root@/events"}
        elif op == "sql":
            start = EVENTS_START_US + day * DAY_US
            days = int(rng.integers(1, 4))
            body = {"op": "sql", "tables": ["events"], "query":
                    "SELECT event_type, COUNT(*) AS n, "
                    "CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value, "
                    "MAX(user_id) AS max_user FROM events "
                    f"WHERE ts >= TIMESTAMP '{_ts_str(start)}' AND "
                    f"ts < TIMESTAMP '{_ts_str(start + days * DAY_US)}' "
                    "GROUP BY event_type ORDER BY event_type"}
        else:
            k = int(rng.integers(1, 4))
            terms = sorted(rng.choice(WORDS, k, replace=False).tolist())
            body = {"op": "search", "index": "@root@/_docidx", "terms": terms, "k": 10}
        out.append({"due_s": round(float(due[i]), 6), "op": op, "body": body})
    return out


# Micro-batches of ingest_ztable: one staged file each.
INGEST_BATCHES = 12


def ingest_chunks(seed, events_path, out_dir):
    """Cut ``events`` (time-ordered) into INGEST_BATCHES files at
    seed-drawn boundaries, plus one small file of the first rows for
    set-up. Returns the staged row count."""
    rng = np.random.default_rng([seed, 2])
    ev = pq.read_table(events_path)
    # staged as UTC instants, the type Spark itself writes for timestamps
    ev = ev.set_column(1, "ts", ev.column("ts").cast(pa.timestamp("us", tz="UTC")))
    n = ev.num_rows
    # boundaries: uniform cuts, but no chunk below a quarter of the mean
    mean = n / INGEST_BATCHES
    while True:
        cuts = np.sort(rng.integers(1, n, INGEST_BATCHES - 1))
        sizes = np.diff(np.concatenate([[0], cuts, [n]]))
        if sizes.min() >= mean / 4:
            break
    bounds = np.concatenate([[0], cuts, [n]])
    staged = os.path.join(out_dir, "staged")
    warm = os.path.join(out_dir, "warmup")
    os.makedirs(staged)
    os.makedirs(warm)
    # the file source orders files by modification time: stamp them
    # one second apart so batch order is chunk order
    base = 1_700_000_000
    for i in range(INGEST_BATCHES):
        p = os.path.join(staged, f"chunk-{i:04d}.parquet")
        _write(ev.slice(bounds[i], bounds[i + 1] - bounds[i]), p)
        os.utime(p, (base + i, base + i))
    _write(ev.slice(0, 200), os.path.join(warm, "chunk-0000.parquet"))
    return n


def digest(path):
    """sha256 over the relative names and bytes of every file under path."""
    h = hashlib.sha256()
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def write_json(obj, path):
    with open(path, "w") as f:
        json.dump(obj, f, sort_keys=True)
