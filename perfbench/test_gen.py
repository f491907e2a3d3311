"""The benchmark's own tests:

    python3 perfbench/test_gen.py

- the same seed gives byte-identical inputs, another seed other inputs;
- the planted properties are present in the generated inputs;
- BENCHMARK.json names exactly the metrics run.py prints.
"""
import gzip
import hashlib
import json
import os
import shutil
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402

TMP_ROOT = os.path.join(HERE, "target", "test-gen")


def digest(root):
    h = hashlib.sha256()
    for d, _, fs in sorted(os.walk(root)):
        for f in sorted(fs):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def make(workload, seed, tag):
    out = os.path.join(TMP_ROOT, f"{workload}-{seed}-{tag}")
    shutil.rmtree(out, ignore_errors=True)
    run.make_inputs(workload, seed, out)
    return out


class GeneratorTest(unittest.TestCase):
    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(TMP_ROOT, ignore_errors=True)

    def test_same_seed_same_bytes(self):
        for w in run.WORKLOADS:
            a, b, c = make(w, 7, "a"), make(w, 7, "b"), make(w, 8, "c")
            self.assertEqual(digest(a), digest(b), w)
            self.assertNotEqual(digest(a), digest(c), w)

    def test_planted_properties(self):
        root = make("live_ingest", 3, "p")
        lines = []
        for d, _, fs in sorted(os.walk(root)):
            for f in sorted(fs):
                with open(os.path.join(d, f), encoding="utf-8") as fh:
                    lines += fh.read().splitlines()
        parsed = []
        for s in lines:
            try:
                parsed.append(json.loads(s))
            except ValueError:
                pass
        self.assertGreater(len(lines), len(parsed), "no malformed lines")
        self.assertTrue(any("id" not in e for e in parsed), "no id-less lines")
        ids = [e["id"] for e in parsed if "id" in e]
        self.assertGreater(len(ids), len(set(ids)), "no re-sent duplicates")
        logins = {(e.get("actor") or {}).get("login") for e in parsed}
        for bot in gen.BOT_LOGINS + [None]:
            self.assertIn(bot, logins)
        times = sorted(e["created_at"] for e in parsed)
        self.assertLess(times[0][:10], times[-1][:10], "no midnight straddle")

        root = make("archive_backfill", 3, "p")
        names = sorted(os.listdir(os.path.join(root, "archive")))
        self.assertIn("2024-01-01-0.json.gz", names)
        self.assertIn("2024-01-02-0.json.gz", names)
        hour = []
        with gzip.open(os.path.join(root, "archive", names[0]), "rt") as fh:
            for s in fh.read().splitlines():
                try:
                    hour.append(json.loads(s)["id"])
                except (ValueError, KeyError):
                    pass
        self.assertGreater(len(hour), len(set(hour)), "no in-hour duplicates")

        import pyarrow.parquet as pq
        texts = pq.read_table(os.path.join(root, "corpus", "sf", "documents.parquet"))
        dups = [t for t in texts.column("text").to_pylist() if t.endswith(" dup")]
        self.assertTrue(dups, "no near-duplicate documents")

    def test_benchmark_json_matches(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual([w["name"] for w in b["workloads"]], run.WORKLOADS)
        self.assertEqual({m["name"]: m["unit"] for m in b["end_to_end"]}, run.E2E_UNITS)
        self.assertEqual({m["name"]: m["unit"] for m in b["per_layer"]}, run.PER_LAYER)


if __name__ == "__main__":
    unittest.main()
