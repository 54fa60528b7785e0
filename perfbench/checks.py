"""Output checks, run after the timed window. Each returns the number of
failed operations: a wrong output counts against every operation that
produced it."""
import json
import os
import random
import sys

import duckdb

TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                     "tools")
SAMPLE = 40


def _con():
    con = duckdb.connect()
    con.execute("SET threads = 2")
    return con


def _close(a, b):
    if a is None or b is None:
        return a is None and b is None
    return abs(a - b) <= 1e-4 + 1e-9


def dashboard(fact, responses_path, seed):
    """A seeded sample of responses against a DuckDB recomputation over
    the same fact parquet."""
    with open(responses_path) as f:
        responses = [json.loads(line) for line in f if line.strip()]
    sample = random.Random(seed).sample(responses, min(SAMPLE, len(responses)))
    con = _con()
    con.execute("CREATE VIEW fact AS SELECT * FROM read_parquet("
                f"'{fact}/**/*.parquet', hive_partitioning = true)")
    bad = 0
    for r in sample:
        where = (f"day BETWEEN DATE '{r['from']}' AND DATE '{r['to']}' "
                 f"AND value >= {r['min']}")
        if r["types"]:
            where += " AND event_type IN (%s)" % ",".join(
                f"'{t}'" for t in r["types"])
        buckets = con.execute(
            "WITH b AS (SELECT CAST(range AS INT) AS lo, "
            "CAST(range + 50 AS INT) AS hi FROM range(0, 500, 50)), "
            f"f AS (SELECT lo, hi FROM fact WHERE {where}) "
            "SELECT b.lo, b.hi, count(f.lo) FROM b "
            "LEFT JOIN f ON f.lo = b.lo AND f.hi = b.hi "
            "GROUP BY b.lo, b.hi ORDER BY b.lo").fetchall()
        n, avg, med = con.execute(
            "SELECT count(*), round(avg(value) + 1e-9, 4), "
            f"round(median(value) + 1e-9, 4) FROM fact WHERE {where}").fetchone()
        ok = ([list(b) for b in buckets] == r["buckets"] and n == r["n_rows"]
              and _close(avg, r["avg_value"]) and _close(med, r["med_value"]))
        if not ok:
            print(f"[check] dashboard mismatch for {r}", file=sys.stderr)
            bad += 1
    return bad, len(sample)


def _oracle_diff(con, parquet_dir, sql):
    """None when the parquet result equals the oracle's under
    tools/check.py's canonicalization, else why not."""
    sys.path.insert(0, TOOLS)
    from check import canon  # the project's oracle compare
    g = con.execute(f"SELECT * FROM read_parquet('{parquet_dir}/*.parquet')").df()
    e = con.execute(sql).df()
    kinds = {c: k.kind for c, k in g.dtypes.items()}
    if any(kinds.get(c) != k.kind and "f" in (kinds.get(c), k.kind)
           for c, k in e.dtypes.items()):
        return "dtype kinds differ"
    rows = [canon(list(d.itertuples(index=False, name=None)), list(d.columns))
            for d in (g, e)]
    if rows[0] != rows[1]:
        return f"{len(g)} vs {len(e)} rows differ from the oracle"
    return None


def etl(base, slices, result, streamed):
    """Every runEtl's counts; the last snapshot against a DuckDB
    row_number() keep-latest over the base plus every merged slice; the
    streaming upsert, when the run made one, against its
    SparkEntry.oracleSql."""
    con = _con()
    bad = 0
    events, fact, daily = con.execute(
        "SELECT count(*), count(DISTINCT (user_id, event_type)), "
        f"count(DISTINCT CAST(ts AS DATE)) FROM read_parquet('{base}')").fetchone()
    expect = {"daily": daily, "events": events, "fact": fact}
    for c in result["counts"]:
        if c != expect:
            print(f"[check] runEtl counts {c} != {expect}", file=sys.stderr)
            bad += 1
    k = result["merged_slices"]
    if k == 0:
        print("[check] no refresh completed", file=sys.stderr)
        bad += 1
    else:
        files = ", ".join(f"'{p}'" for p in [base] + slices[:k])
        cols = "user_id, event_type, event_id, value, props"
        want = con.execute(
            f"SELECT {cols} FROM (SELECT *, row_number() OVER ("
            "PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC"
            f") AS rn FROM read_parquet([{files}])) WHERE rn = 1 "
            "ORDER BY ALL").fetchall()
        got = con.execute(
            f"SELECT {cols} FROM read_parquet('{result['snapshot']}/*.parquet') "
            "ORDER BY ALL").fetchall()
        if got != want:
            print(f"[check] snapshot after {k} merges differs from the "
                  f"oracle ({len(got)} vs {len(want)} rows)", file=sys.stderr)
            bad += k
    if result["stream_fact"] is not None:  # only traced runs stream
        con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{base}')")
        why = _oracle_diff(con, result["stream_fact"], result["stream_oracle"])
        if why is not None:
            print(f"[check] st02_stream_upsert: {why}", file=sys.stderr)
            bad += streamed
    return bad
