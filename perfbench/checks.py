"""Output checks: each compares what the program wrote or served with an
independent computation over the same generated inputs. The generated
lines are parsed here with Python's json module and the expected tables
are computed in DuckDB.

`run` returns one (name, ok, detail) triple per check.
"""
import glob
import gzip
import json
import math
import os
import re
import time

import duckdb
import pandas

F1 = re.compile(r"(\[bot\]|-bot$)")
F2 = ("(\\[bot\\]|bot$|^aws|copilot|renovate|greenkeeper|snyk|security|"
      "automation|deploy|ci-|-ci|build|release)")


def parse(lines):
    """Rows the ingest path keeps: parseable, with an id and an event
    time, and not dropped by the ingest bot filter (F1)."""
    rows = []
    for s in lines:
        try:
            ev = json.loads(s)
        except ValueError:
            continue
        if not isinstance(ev, dict) or ev.get("id") is None or not ev.get("created_at"):
            continue
        login = (ev.get("actor") or {}).get("login")
        if login is not None and F1.search(login):
            continue
        rows.append((ev["id"], ev["type"], login, ev["created_at"]))
    return rows


def events_db(rows):
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    raw = pandas.DataFrame(rows, columns=["id", "type", "login", "created_at"],
                           dtype=object)
    con.register("raw", raw)
    con.execute("CREATE TABLE ev AS SELECT CAST(id AS VARCHAR) AS id, "
                "CAST(type AS VARCHAR) AS type, CAST(login AS VARCHAR) AS login, "
                "CAST(replace(rtrim(created_at, 'Z'), 'T', ' ') AS TIMESTAMP) AS created_at "
                "FROM raw")
    con.unregister("raw")
    return con


SCORED = f"""
  SELECT date_trunc('hour', created_at) AS hour, login, count(*) AS score
  FROM ev WHERE type IN ('PushEvent', 'PullRequestEvent')
    AND login IS NOT NULL AND NOT regexp_matches(lower(login), '{F2}')
  GROUP BY 1, 2"""
DAILY = f"""
  SELECT strftime(hour, '%Y-%m-%d') AS day, login, sum(score) AS score
  FROM ({SCORED}) GROUP BY 1, 2"""


def top_of_day(day):
    return (f"SELECT * FROM ({DAILY}) WHERE day = {day} "
            f"ORDER BY score DESC, login LIMIT 10")


def table_rows(con, path, cols):
    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    if not files:
        return []
    return con.execute(
        f"SELECT {cols} FROM read_parquet({files!r}, hive_partitioning=true, "
        f"hive_types_autocast=false) ORDER BY ALL").fetchall()


def check(out, name, got, want):
    ok = got == want
    detail = "" if ok else f"got {str(got)[:300]} want {str(want)[:300]}"
    out.append((name, ok, detail))


def live(res, inputs):
    out = []
    lines = []
    for f in sorted(glob.glob(os.path.join(inputs, "live", "*", "*.json"))):
        with open(f, encoding="utf-8") as fh:
            lines += fh.read().splitlines()
    rows = parse(lines)
    con = events_db(rows)
    # re-sent events are exact copies: the stream keeps one of each
    con.execute("CREATE TABLE d AS SELECT DISTINCT * FROM ev")
    con.execute("DROP TABLE ev")
    con.execute("ALTER TABLE d RENAME TO ev")
    d = res["outputs"]["live_dir"]
    bronze = table_rows(con, os.path.join(d, "bronze"), "id")
    check(out, "live.bronze_ids_unique", len(bronze), len(set(bronze)))
    check(out, "live.bronze_ids", sorted(r[0] for r in bronze),
          sorted({r[0] for r in rows}))
    hourly = table_rows(con, os.path.join(d, "hourly"),
                        "strftime(hour, '%Y-%m-%dT%H:%M:%S'), login, score")
    want = con.execute(f"SELECT strftime(hour, '%Y-%m-%dT%H:%M:%S'), login, score "
                       f"FROM ({SCORED}) ORDER BY ALL").fetchall()
    check(out, "live.hourly_scores", hourly, want)
    top = [tuple(r) for r in res["outputs"]["live_top_daily"]]
    want = con.execute(top_of_day(f"(SELECT max(day) FROM ({DAILY}))")).fetchall()
    check(out, "live.top_daily", top, [tuple(r) for r in want])
    top_h = [(r[0].rstrip("Z"), r[1], r[2]) for r in res["outputs"]["live_top_hourly"]]
    want = con.execute(f"SELECT strftime(hour, '%Y-%m-%dT%H:%M:%S'), login, score "
                       f"FROM ({SCORED}) WHERE hour = (SELECT max(hour) FROM ({SCORED})) "
                       f"ORDER BY score DESC, login LIMIT 10").fetchall()
    check(out, "live.top_hourly", top_h, [tuple(r) for r in want])
    recent = [(r[0], r[1].rstrip("Z")) for r in res["outputs"]["live_recent"]]
    want = con.execute("SELECT id, strftime(created_at, '%Y-%m-%dT%H:%M:%S') FROM "
                       "ev ORDER BY created_at DESC, id LIMIT 100").fetchall()
    check(out, "live.recent", recent, [tuple(r) for r in want])
    info = res["outputs"]["live_info"][0]
    want = con.execute("SELECT count(DISTINCT id), count(DISTINCT date_trunc('hour', created_at)),"
                       " strftime(min(created_at), '%Y-%m-%dT%H:%M:%S'),"
                       " strftime(max(created_at), '%Y-%m-%dT%H:%M:%S') FROM ev").fetchone()
    check(out, "live.stream_info",
          (info[0], info[1], info[2].rstrip("Z"), info[3].rstrip("Z")), tuple(want))
    return out


def archive(res, inputs):
    out = []
    lines = []
    files = sorted(glob.glob(os.path.join(inputs, "archive", "*.json.gz")))
    for f in files:
        with gzip.open(f, "rt", encoding="utf-8") as fh:
            lines += fh.read().splitlines()
    con = events_db(parse(lines))
    # the batch dedup keeps the earliest row of each id
    con.execute("CREATE TABLE d AS SELECT id, arg_min(type, created_at) AS type, "
                "arg_min(login, created_at) AS login, min(created_at) AS created_at "
                "FROM ev GROUP BY id")
    con.execute("DROP TABLE ev")
    con.execute("ALTER TABLE d RENAME TO ev")
    top = [tuple(r) for r in res["outputs"]["archive_top_first_day"]]
    first_day = os.path.basename(files[0])[:10]
    want = [(a, b, str(c)) for a, b, c in con.execute(top_of_day(f"'{first_day}'")).fetchall()]
    check(out, "archive.top_first_day_before_expiry", top, want)
    hourly = table_rows(con, os.path.join(res["outputs"]["archive_dir"], "hourly"),
                        "score_date, CAST(score_hour AS INTEGER), login, score")
    want = con.execute(f"SELECT strftime(hour, '%Y-%m-%d'), CAST(hour(hour) AS INTEGER), "
                       f"login, score FROM ({SCORED}) "
                       f"WHERE strftime(hour, '%Y-%m-%d') > '{first_day}' ORDER BY ALL").fetchall()
    check(out, "archive.hourly_after_expiry_and_force", hourly, want)
    return out


def canon(v):
    """Values compared exactly, floats by repr, as the repository's
    oracle compare does: every suite query rounds its float outputs."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if hasattr(v, "tolist"):
        return canon(v.tolist())
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def suite(res, inputs, timings):
    """Each slice query's Spark result equals its oracle SQL in DuckDB
    over the same corpus, rows compared as multisets, columns by
    sorted name. DuckDB's time per oracle query lands in `timings`."""
    out = []
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    sf = os.path.join(inputs, "corpus", "sf")
    for t in sorted(os.listdir(sf)):
        con.execute(f"CREATE VIEW {t[:-len('.parquet')]} AS "
                    f"SELECT * FROM read_parquet('{os.path.join(sf, t)}')")
    for q, sql in sorted(res["outputs"]["suite_sql"].items()):
        files = sorted(glob.glob(os.path.join(res["outputs"]["suite_dir"], q, "*.parquet")))
        mine = (con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf()
                if files else None)
        t0 = time.perf_counter()
        want = con.execute(sql).fetchdf()
        timings[q] = time.perf_counter() - t0
        if mine is None:
            out.append((f"suite.{q}", False, "no Spark output"))
            continue
        mc, wc = sorted(mine.columns), sorted(want.columns)
        if mc != wc:
            out.append((f"suite.{q}", False, f"columns {mc} vs {wc}"))
            continue
        a = sorted([canon(v) for v in r] for r in mine[mc].itertuples(index=False))
        b = sorted([canon(v) for v in r] for r in want[wc].itertuples(index=False))
        check(out, f"suite.{q}", a, b)
    return out


def run(workload, res, inputs, timings):
    if res.get("error"):
        return []
    if workload == "live_ingest" and "live_dir" in res["outputs"]:
        return live(res, inputs)
    if workload == "archive_backfill" and "archive_dir" in res["outputs"]:
        return archive(res, inputs) + suite(res, inputs, timings)
    return []
