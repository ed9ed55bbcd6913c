"""Output checks: every answer the program gives is compared with one
computed independently by DuckDB over the generated inputs."""
import json
import math

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def connect(tables_dir):
    con = duckdb.connect()
    con.sql("SET TimeZone = 'UTC'")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{tables_dir}/{t}.parquet')")
    return con


# ---------------------------------------------------------------- rows

def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def row_matches(con, sql, out_dir):
    """The repository's oracle rule (tools/compare.py): DuckDB runs the
    row's oracle SQL; columns sorted by name, rows sorted, values equal
    exactly. Returns None when equal, else the reason."""
    rel = con.sql(sql)
    bad = [f"{c}:{t}" for c, t in zip(rel.columns, map(str, rel.types))
           if any(x in t.upper() for x in ("HUGEINT", "UBIGINT", "DECIMAL"))]
    if bad:
        return "oracle type-lint: " + ", ".join(bad)
    o = _canon(rel.df())
    s = _canon(con.sql(f"SELECT * FROM read_parquet('{out_dir}/*.parquet')").df())
    if list(o.columns) != list(s.columns):
        return f"columns {list(o.columns)} != {list(s.columns)}"
    if len(o) != len(s):
        return f"rows {len(o)} != {len(s)}"
    for c in o.columns:
        oc, sc = o[c].values, s[c].values
        same = np.asarray(pd.Series(oc).eq(pd.Series(sc)) | (pd.isna(oc) & pd.isna(sc)))
        if not same.all():
            i = int(np.argmin(same))
            return f"{c}[{i}]: oracle={oc[i]!r} spark={sc[i]!r}"
    return None


# ------------------------------------------------------- serve / reads

def _ms(ts):
    """A timestamp as integer epoch milliseconds. Replies carry Spark's
    JSON form ("2024-01-03T05:00:11.172Z", millisecond precision)."""
    t = pd.Timestamp(ts)
    if t.tzinfo is not None:
        t = t.tz_convert("UTC").tz_localize(None)
    return t.value // 1_000_000


def _norm_rows(rows, ts_cols):
    out = []
    for r in rows:
        out.append(tuple(sorted(
            (k, _ms(v) if k in ts_cols else v) for k, v in r.items())))
    return out


def _records(con, sql):
    rel = con.sql(sql)
    cols = rel.columns
    return [dict(zip(cols, r)) for r in rel.fetchall()]


def _tsq(s):
    return f"TIMESTAMP '{s}'"


BM25_K1, BM25_B = 1.2, 0.75


def expected(con, body):
    """(rows, timestamp columns, ordered?) that ``body`` must return,
    computed by DuckDB over the generated ``events`` and ``documents``."""
    op = body["op"]
    if op == "scan":
        cols = ", ".join(body.get("cols") or
                         ["event_id", "ts", "user_id", "event_type", "value", "props"])
        return (_records(con, f"SELECT {cols} FROM events WHERE ts BETWEEN "
                              f"{_tsq(body['from'])} AND {_tsq(body['to'])}"),
                {"ts"}, False)
    if op == "ohlcv":
        syms = ""
        if body.get("symbols"):
            syms = "AND event_type IN (" + ", ".join(
                f"'{s}'" for s in body["symbols"]) + ")"
        return (_records(con, f"""
            SELECT date_trunc('hour', ts) AS bucket, event_type,
              arg_min(value, ts) AS open, max(value) AS high,
              min(value) AS low, arg_max(value, ts) AS close,
              CAST(sum(user_id) AS BIGINT) AS volume, count(*) AS n
            FROM events WHERE ts BETWEEN {_tsq(body['from'])} AND {_tsq(body['to'])} {syms}
            GROUP BY ALL ORDER BY bucket, event_type"""), {"bucket"}, True)
    if op == "symbols":
        return (_records(con, "SELECT DISTINCT event_type FROM events ORDER BY 1"),
                set(), True)
    if op == "range":
        return (_records(con, "SELECT min(ts) AS first_ts, max(ts) AS last_ts FROM events"),
                {"first_ts", "last_ts"}, True)
    if op == "sql":
        return _records(con, body["query"]), set(), True
    if op == "search":
        terms = ", ".join(f"'{t}'" for t in body["terms"])
        return (_records(con, f"""
            WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
            stats AS (SELECT count(*) AS n, avg(CAST(len(w) AS DOUBLE)) AS avglen FROM d),
            post AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS len, t AS term,
                       count(*) AS tf
                     FROM (SELECT doc_id, w, unnest(w) AS t FROM d)
                     WHERE t IN ({terms}) GROUP BY doc_id, len, term),
            dfs AS (SELECT term, count(*) AS df FROM post GROUP BY term)
            SELECT doc_id, round(sum(
                ln((n - df + 0.5) / (df + 0.5) + 1.0) *
                (CAST(tf AS DOUBLE) * ({BM25_K1} + 1.0)) /
                (CAST(tf AS DOUBLE) + {BM25_K1} * ((1.0 - {BM25_B}) +
                  {BM25_B} * CAST(len AS DOUBLE) / avglen))), 6) AS score
            FROM post JOIN dfs USING (term), stats
            GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT {int(body['k'])}"""),
                set(), True)
    raise ValueError(f"no expected answer for op {op}")


def reply_matches(exp, reply_rows):
    """None when the reply equals the expected answer, else the reason.
    Search scores are compared to 1e-6 (both sides round to 6 places, but
    sum in different orders); everything else exactly."""
    rows, ts_cols, ordered = exp
    if len(rows) != len(reply_rows):
        return f"{len(reply_rows)} rows, expected {len(rows)}"
    a, b = _norm_rows(rows, ts_cols), _norm_rows(reply_rows, ts_cols)
    if not ordered:
        a, b = sorted(a, key=repr), sorted(b, key=repr)
    for x, y in zip(a, b):
        if x == y:
            continue
        dx, dy = dict(x), dict(y)
        if dx.keys() != dy.keys():
            return f"columns {sorted(dx)} != {sorted(dy)}"
        for k in dx:
            u, v = dx[k], dy[k]
            if k == "score" and math.isclose(u, v, abs_tol=1e-6):
                continue
            if u != v:
                return f"{k}: expected {u!r}, got {v!r}"
    return None


# ------------------------------------------------------------- ingest

def ingest_matches(con, table_dir, agg_json, mark, batches, stream_sql):
    """The landed table holds exactly the staged rows; the per-type
    aggregate equals StreamQueries.streamIngestSql over events; the batch
    mark is the last batch id."""
    files = f"read_parquet('{table_dir}/**/*.parquet', hive_partitioning = false)"
    cols = "event_id, epoch_us(ts) AS ts, user_id, event_type, value, props"
    for a, b in ((f"SELECT {cols} FROM {files}", f"SELECT {cols} FROM events"),
                 (f"SELECT {cols} FROM events", f"SELECT {cols} FROM {files}")):
        n = con.sql(f"SELECT count(*) FROM ({a} EXCEPT ALL {b})").fetchone()[0]
        if n:
            return f"{n} rows differ between the landed table and events"
    exp = (_records(con, stream_sql), {"min_ts", "max_ts"}, True)
    why = reply_matches(exp, json.loads(agg_json))
    if why:
        return f"per-type aggregate: {why}"
    if mark != batches - 1:
        return f"batch mark {mark}, expected {batches - 1}"
    return None
