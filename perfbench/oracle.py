"""Correctness checks against DuckDB, independent of the engine under test.

Batch results are compared as multisets with the repository's oracle SQL the
way tools/check.py does it: columns sorted by name, rows sorted, values and
dtypes exact. Oracle answers are cached under .bench_build/oracle, keyed by
the input set and the SQL text.

Stream results are checked against a DuckDB ASOF JOIN over the rows the
rate source offered, regenerated from the same pure functions of the row
number that the harness applies (see harness/.../StreamAsof.scala).
"""
import datetime
import glob
import hashlib
import os
import pickle

import duckdb
import pandas as pd

import gen

def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            try:
                df[c] = df[c].dt.tz_localize(None)
            except TypeError:
                pass
    return df.sort_values(by=list(df.columns), ignore_index=True, na_position="first")


def _equal(got, exp):
    g, e = _canon(got), _canon(exp)
    if list(g.columns) != list(e.columns) or len(g) != len(e):
        return False
    if any(str(g[c].dtype) != str(e[c].dtype) for c in g.columns):
        return False
    if g.equals(e):
        return True
    try:
        pd.testing.assert_frame_equal(g, e, check_dtype=False, check_exact=True)
        return True
    except AssertionError:
        return False


def _answer(con, data, sql, cache_dir):
    key = hashlib.sha1(f"{os.path.basename(data)}\0{sql}".encode()).hexdigest()
    path = os.path.join(cache_dir, key + ".pkl")
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    df = con.sql(sql).df()
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "wb") as f:
        pickle.dump(df, f)
    os.replace(path + ".tmp", path)
    return df


def check_batch(data, body, cache_dir):
    """Compare every result of every call with its oracle answer; returns
    (attempted, failed)."""
    con = duckdb.connect()
    for t in gen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    answers = {n: _answer(con, data, sql, cache_dir) for n, sql in body["oracle"].items()}
    attempted = failed = 0
    for call in body["calls"]:
        for name, exp in answers.items():
            attempted += 1
            files = sorted(glob.glob(f"{call['dir']}/{name}/*.parquet"))
            ok = False
            if files:
                got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
                ok = _equal(got, exp)
            if not ok:
                failed += 1
                print(f"# FAIL {name} in {os.path.basename(call['dir'])}", flush=True)
    return attempted, failed


def read_counts(path):
    df = pd.concat([pd.read_parquet(f) for f in glob.glob(f"{path}/*.parquet")])
    return int(df["candidates"].iloc[0]), int(df["verified"].iloc[0])


def iso_ms(s):
    """Epoch milliseconds of a progress timestamp like 2026-01-01T00:00:00.123Z."""
    d = datetime.datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=datetime.timezone.utc)
    return int(round(d.timestamp() * 1000))


def check_stream(body, rows_csv, latency_limit_ms):
    """Every emitted match whose left time is before the final watermark must
    equal the backward ASOF JOIN over the offered rows (its right row has the
    latest time at or before the left's, on the same key), each such left must
    be emitted exactly once, and its latency must stay within the limit."""
    wm = max(iso_ms(p["eventTime"]["watermark"]) for p in body["progress"]
             if "watermark" in p["eventTime"])
    t0, rate = body["t0_ms"], body["rate"]
    seed, hot, keys = body["seed"], body["hot_permille"], body["keys"]
    n = (wm - t0) * rate // 1000 + rate
    key = (lambda m: f"(CASE WHEN ({m} * 2654435761 + {seed * 97}) % 1000 < {hot} THEN 0"
                     f" ELSE 1 + ({m} * 40503 + {seed * 7919}) % {keys - 1} END)")
    tms = lambda p: f"({t0} + ({p} * 1000) // {rate})"
    con = duckdb.connect()
    con.execute(f"""CREATE TABLE got AS SELECT * FROM read_csv('{rows_csv}', header = true,
        columns = {{'k': 'BIGINT', 'lt': 'BIGINT', 'lp': 'BIGINT', 'due_ms': 'BIGINT',
                    'rp': 'BIGINT', 'emit_ms': 'BIGINT'}})""")
    con.execute(f"""CREATE TABLE offered AS SELECT p, {tms('p')} AS t, {key('p // 2')} AS k
        FROM range(0, {n}) r(p) WHERE {tms('p')} < {wm}""")
    row = con.execute(f"""
      WITH l AS (SELECT p, t, k FROM offered WHERE p % 2 = 0),
           r AS (SELECT p, t, k FROM offered WHERE p % 2 = 1),
           exp AS (SELECT l.p AS lp, l.k, l.t AS lt, r.t AS rt
                   FROM l ASOF LEFT JOIN r ON l.k = r.k AND r.t <= l.t),
           g AS (SELECT lp, any_value(k) AS k, any_value(lt) AS lt, any_value(rp) AS rp,
                        count(*) AS n FROM got WHERE lt < {wm} GROUP BY lp)
      SELECT count(*) AS expected,
        count(*) FILTER (WHERE g.lp IS NULL) AS missing,
        count(*) FILTER (WHERE g.n > 1) AS duplicated,
        count(*) FILTER (WHERE g.lp IS NOT NULL AND NOT (g.k = e.k AND g.lt = e.lt AND
          CASE WHEN g.rp = -1 THEN e.rt IS NULL
               ELSE g.rp % 2 = 1 AND {key('g.rp // 2')} = e.k AND {tms('g.rp')} = e.rt END)) AS wrong,
        (SELECT count(*) FROM g WHERE lp NOT IN (SELECT lp FROM exp)) AS extra
      FROM exp e LEFT JOIN g ON g.lp = e.lp""").fetchone()
    expected, missing, duplicated, wrong, extra = row
    late = con.execute(f"SELECT count(*) FROM got WHERE emit_ms - due_ms - {body['watermark_ms']}"
                       f" > {latency_limit_ms}").fetchone()[0]
    lat = [r[0] for r in con.execute(
        f"SELECT emit_ms - due_ms - {body['watermark_ms']} FROM got"
        f" WHERE emit_ms BETWEEN {body['window_start_ms']} AND {body['window_end_ms']}").fetchall()]
    emitted, first_emit = con.execute(
        f"SELECT count(*) FILTER (WHERE emit_ms BETWEEN {body['window_start_ms']}"
        f" AND {body['window_end_ms']}), min(emit_ms) FROM got").fetchone()
    for what, v in (("missing", missing), ("duplicated", duplicated), ("wrong", wrong),
                    ("extra", extra), ("late", late)):
        if v:
            print(f"# FAIL stream_asof {what}={v} of {expected}", flush=True)
    return {"attempted": max(expected, 1) + extra, "failed": missing + duplicated + wrong + extra + late,
            "latency_ms": lat, "first_emit_ms": first_emit, "emitted": emitted}
