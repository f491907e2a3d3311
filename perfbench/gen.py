"""Seeded input generator for the benchmark.

Everything the program reads is made here from the seed: the same seed
gives byte-identical files (checked by test_gen.py). The shapes follow
FIXTURES.md: an `events`-shaped table mapped to GitHub API events,
laid down as poll-sized NDJSON drops for live ingest and as gzipped
GHArchive hour files for the backfill.
"""
import gzip
import json
import os
import time

import numpy as np

# Share of generated GitHub events (or of lines, for the line-level
# faults) that carry each planted property; each drop or hour file gets
# at least one of each. README.md lists them too.
SHARES = {
    "bot_login": 0.06,          # login drawn from BOT_LOGINS
    "null_login": 0.01,         # actor.login null, or no actor at all
    "malformed_line": 0.005,    # extra line: a truncated copy of an event
    "missing_id": 0.002,        # extra line: an event without its id
    "dup_in_horizon": 0.04,     # live: page events re-sent from the last 2 min of the previous page
    "dup_beyond_horizon": 0.01, # live: page events re-sent from at least 30 min before it
    "archive_dup": 0.03,        # archive: the same id again, later in its hour
    "near_dup_doc": 0.05,       # corpus: a document that repeats an earlier one plus " dup"
}
# Every branch of the two bot filters (functions/GhFunctions.scala):
# F1 drops the first two at ingest; F2 also drops the next six from
# scoring; "botanist-dev" is a bot-looking login both filters keep.
BOT_LOGINS = ["dependabot[bot]", "foo-bot", "robot", "awsuser", "my-ci",
              "ci-runner", "releasebot", "Robot", "botanist-dev"]
EVENT_TYPES = ["click", "purchase", "view", "signup", "error"]
GH_TYPES = {"click": "PushEvent", "purchase": "PullRequestEvent",
            "view": "WatchEvent", "signup": "IssuesEvent",
            "error": "ForkEvent"}
USERS = 1500
EPOCH_2024 = 1704067200  # 2024-01-01T00:00:00Z


def rng_for(seed, stream):
    """An independent generator per input family, so changing one
    family's size never shifts another's draws."""
    return np.random.default_rng([seed, stream])


def base_events(rng, n, start, span_s, first_id):
    """The `events` table shape: ids, skewed users, uniform types,
    event times sorted over [start, start + span_s)."""
    ts = np.sort(start + rng.integers(0, span_s, n))
    user = (USERS * rng.random(n) ** 2).astype(np.int64)
    etype = rng.integers(0, len(EVENT_TYPES), n)
    value = np.round(rng.random(n) * 200, 2)
    k = rng.integers(0, 100, n)
    return [dict(event_id=first_id + i, ts=int(ts[i]), user_id=int(user[i]),
                 event_type=EVENT_TYPES[etype[i]], value=float(value[i]),
                 k=int(k[i])) for i in range(n)]


def iso(ts):
    return time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime(ts))


def github_event(e, rng):
    """One `events` row as a GitHub API event (FIXTURES.md section B)."""
    uid = e["user_id"]
    u = rng.random()
    actor = {"id": uid, "login": f"user{uid}", "display_login": f"user{uid}",
             "gravatar_id": "", "url": f"https://api.github.com/users/user{uid}",
             "avatar_url": f"https://avatars.githubusercontent.com/u/{uid}"}
    if u < SHARES["bot_login"]:
        login = BOT_LOGINS[int(rng.integers(0, len(BOT_LOGINS)))]
        actor.update(login=login, display_login=login)
    elif u < SHARES["bot_login"] + SHARES["null_login"]:
        if rng.random() < 0.5:
            actor["login"] = None
        else:
            actor = None
    repo = uid % 97
    ev = {"id": str(40000000000 + e["event_id"]),
          "type": GH_TYPES[e["event_type"]]}
    if actor is not None:
        ev["actor"] = actor
    ev.update({"repo": {"id": repo, "name": f"org{repo}/repo{repo}",
                        "url": f"https://api.github.com/repos/org{repo}/repo{repo}"},
               "payload": {"size": 1, "k": e["k"], "value": e["value"]},
               "public": True, "created_at": iso(e["ts"])})
    return ev


def line(ev):
    return json.dumps(ev, separators=(",", ":"))


def planted(n, share):
    """How many of `n` items get a planted property: the share, rounded,
    and at least one, so that small drops still carry every case."""
    return max(1, int(round(n * share)))


def faulty_lines(evs, rng, n):
    """Malformed and id-less lines, placed among `n` real lines."""
    out = []
    for _ in range(planted(n, SHARES["malformed_line"])):
        s = line(evs[int(rng.integers(0, len(evs)))])
        out.append(s[: len(s) // 2])
    for _ in range(planted(n, SHARES["missing_id"])):
        ev = dict(evs[int(rng.integers(0, len(evs)))])
        ev.pop("id")
        out.append(line(ev))
    return out


def splice(lines, extra, rng):
    """Insert `extra` lines at seeded positions, order otherwise kept."""
    for s in extra:
        lines.insert(int(rng.integers(0, len(lines) + 1)), s)
    return lines


def live_inputs(seed, out, waves, drops_per_wave, per_drop, warm_drops):
    """Poll pages as NDJSON drops, dense in event time (six hours across
    a UTC midnight). Each page holds `per_drop` events; from the second
    page on, some of them are re-sent from earlier pages, inside and
    beyond the five-minute dedup horizon, as overlapping polls re-send
    them. Malformed and id-less lines ride on top. Files land as
    out/wave-W/drop-D.json; the first wave, the warm-up, has
    `warm_drops` pages, every other `drops_per_wave`."""
    rng = rng_for(seed, 1)
    slots = [(0, i) for i in range(warm_drops)] + [
        (w, i) for w in range(1, waves) for i in range(drops_per_wave)]
    n_drops = len(slots)
    n_near = planted(per_drop, SHARES["dup_in_horizon"])
    n_far = planted(per_drop, SHARES["dup_beyond_horizon"])
    fresh = [per_drop] + [per_drop - n_near - n_far] * (n_drops - 1)
    base = base_events(rng, sum(fresh), EPOCH_2024 - 3 * 3600, 6 * 3600, 0)
    evs = [github_event(e, rng) for e in base]
    drops, first = [], 0
    for n in fresh:
        drops.append(list(range(first, first + n)))
        first += n
    for d in range(n_drops):
        lines = [line(evs[i]) for i in drops[d]]
        extra = faulty_lines([evs[i] for i in drops[d]], rng, per_drop)
        if d > 0:
            hi = base[drops[d - 1][-1]]["ts"]
            near = [i for i in drops[d - 1] if base[i]["ts"] >= hi - 120]
            far = [i for i in range(drops[d][0]) if base[i]["ts"] < hi - 1800]
            # the page stays full: with nothing old enough yet, all
            # re-sent events come from inside the horizon
            k_near = n_near if far else n_near + n_far
            resent = [near[int(j)] for j in rng.integers(0, len(near), k_near)]
            if far:
                resent += [far[int(j)] for j in rng.integers(0, len(far), n_far)]
            lines = [line(evs[i]) for i in resent] + lines
        lines = splice(lines, extra, rng)
        w, i = slots[d]
        path = os.path.join(out, f"wave-{w:03d}", f"drop-{i:03d}.json")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            f.write("\n".join(lines) + "\n")


def archive_inputs(seed, out, hours, per_hour):
    """GHArchive hour files (yyyy-MM-dd-H.json.gz, hour unpadded) from
    2024-01-01T00Z, each with in-hour duplicates and faulty lines."""
    rng = rng_for(seed, 2)
    os.makedirs(out, exist_ok=True)
    for h in range(hours):
        start = EPOCH_2024 + h * 3600
        base = base_events(rng, per_hour, start, 3600, h * per_hour)
        evs = [github_event(e, rng) for e in base]
        lines = [line(e) for e in evs]
        dups = []
        for i in rng.integers(0, per_hour, planted(per_hour, SHARES["archive_dup"])):
            ev = dict(evs[int(i)])
            t = base[int(i)]["ts"]
            # same id, same or later time inside the same hour
            ev["created_at"] = iso(min(start + 3599, t + int(rng.integers(0, 600))))
            dups.append(line(ev))
        lines = splice(lines, dups + faulty_lines(evs, rng, per_hour), rng)
        name = time.strftime("%Y-%m-%d", time.gmtime(start)) + f"-{h % 24}.json.gz"
        # mtime=0 keeps the gzip header, and so the bytes, seed-only
        with open(os.path.join(out, name), "wb") as raw:
            with gzip.GzipFile(fileobj=raw, mode="wb", mtime=0) as f:
                f.write(("\n".join(lines) + "\n").encode("utf-8"))


WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
SOURCES = 20
CORPUS_USERS = 150


def write_parquet(table, path):
    """One parquet file, without pandas metadata: the bytes depend on
    the rows only."""
    import pyarrow.parquet as pq
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def corpus_inputs(seed, out, docs, events, drops):
    """The engine's own table shapes (TESTDATA.md), for the query suite
    and the incremental doc streams: `documents` (word-list texts,
    with near-duplicates planted as an earlier text plus " dup") and
    `events`, each as one table under out/sf/ and split in id order
    into `drops` parquet drops under out/docs/ and out/events/."""
    import pyarrow as pa
    rng = rng_for(seed, 3)
    texts = []
    for i in range(docs):
        if i > 10 and rng.random() < SHARES["near_dup_doc"]:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(8, 100))
            texts.append(" ".join(WORDS[int(j)] for j in rng.integers(0, len(WORDS), n)))
    d = pa.table({
        "doc_id": pa.array(range(docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[int(j)] for j in rng.choice(len(LANGS), docs, p=LANG_P)],
                         pa.string()),
        "source": pa.array([f"src{i % SOURCES}" for i in range(docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    ts = np.sort(EPOCH_2024 * 1_000_000 + rng.integers(0, 30 * 86400 * 1_000_000, events))
    e = pa.table({
        "event_id": pa.array(range(events), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array((CORPUS_USERS * rng.random(events) ** 2).astype(np.int64)),
        "event_type": pa.array([EVENT_TYPES[int(j)] for j in
                                rng.integers(0, len(EVENT_TYPES), events)], pa.string()),
        "value": pa.array(np.round(rng.random(events) * 200, 2), pa.float64()),
        "props": pa.array([f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, events)],
                          pa.string()),
    })
    for name, t in (("documents", d), ("events", e)):
        write_parquet(t, os.path.join(out, "sf", f"{name}.parquet"))
        step = -(-t.num_rows // drops)
        for k in range(drops):
            write_parquet(t.slice(k * step, step),
                          os.path.join(out, "docs" if name == "documents" else "events",
                                       f"drop-{k:03d}.parquet"))
