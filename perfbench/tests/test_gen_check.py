"""Generator determinism and the output checker, without Spark.

  python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import json
import os
import shutil
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import check  # noqa: E402
import gen  # noqa: E402


def tree_digest(path):
    h = hashlib.sha256()
    for root, dirs, files in sorted(os.walk(path)):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def write_tables(out_dir, records):
    """The four tables a correct load writes for `records`, built here
    from the transform rules the summary encodes (IDs are list indexes)."""
    fact, home, away, odds = [], [], [], []
    for i, r in enumerate(records):
        if r.get("current_status") != "Finished":
            continue
        mid = "id-%d" % i
        if all(r.get(f) is not None for f in gen.FACT_FIELDS):
            fact.append({"ID_MATCH": mid,
                         "SCORE_TEAM_HOME": gen._to_int(
                             r["participant_home_current_score"]),
                         "SCORE_TEAM_AWAY": gen._to_int(
                             r["participant_away_current_score"])})
        for rows, team in ((home, "Team1"), (away, "Team2")):
            if len(r["lineups_data"][team]) == 11:
                rows.append({"ID_MATCH": mid})
        row = {"ID_MATCH": mid}
        books = {b["bookmaker"]: b["odds"] for b in
                 reversed(r["bookmakers_data"])}
        for book, prefix in check.PREFIX.items():
            o = books.get(book)
            for j, side in enumerate(("HOME", "NIL", "AWAY")):
                row["%s_%s_ODD" % (prefix, side)] = \
                    gen._to_double(o[j]) if o and len(o) == 3 else None
        odds.append(row)
    for name, rows in zip(check.TABLES, (fact, home, away, odds)):
        os.makedirs(os.path.join(out_dir, name))
        pq.write_table(pa.Table.from_pylist(rows),
                       os.path.join(out_dir, name, "part-0.parquet"))


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def flashscore(self, name, seed):
        d = os.path.join(self.tmp, name)
        gen.flashscore_files(os.path.join(d, "in"), os.path.join(d, "sum"),
                             seed, files=3, records=200)
        return d

    def test_same_seed_same_bytes(self):
        a, b = self.flashscore("a", 7), self.flashscore("b", 7)
        self.assertEqual(tree_digest(a), tree_digest(b))
        gen.tables(os.path.join(self.tmp, "ta"), 7, docs=300, scale=0.05)
        gen.tables(os.path.join(self.tmp, "tb"), 7, docs=300, scale=0.05)
        self.assertEqual(tree_digest(os.path.join(self.tmp, "ta")),
                         tree_digest(os.path.join(self.tmp, "tb")))

    def test_other_seed_other_bytes(self):
        a, b = self.flashscore("a", 7), self.flashscore("b", 8)
        self.assertNotEqual(tree_digest(a), tree_digest(b))

    def test_file_depends_only_on_seed_and_number(self):
        d = os.path.join(self.tmp, "late")
        gen.flashscore_files(os.path.join(d, "in"), os.path.join(d, "sum"),
                             7, files=1, records=200, first=2)
        a = self.flashscore("a", 7)
        with open(os.path.join(a, "in", "part-00002.json"), "rb") as x, \
                open(os.path.join(d, "in", "part-00002.json"), "rb") as y:
            self.assertEqual(x.read(), y.read())

    def test_every_defect_is_present(self):
        d = self.flashscore("a", 1)
        s = gen.merge_summaries(
            json.load(open(os.path.join(d, "sum", f)))
            for f in sorted(os.listdir(os.path.join(d, "sum"))))
        self.assertLess(s["finished"], s["records"])
        self.assertGreater(s["score_nulls"]["home"] +
                           s["score_nulls"]["away"], 0)
        self.assertGreater(s["orphans"]["ODDS"], 0)  # missing fields
        self.assertLess(s["rows"]["HOME_STARTING_LINEUP"], s["finished"])
        self.assertLess(min(s["odds_count"].values()), 3 * s["finished"])


class CheckerTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()
        gen.flashscore_files(os.path.join(self.tmp, "in"),
                             os.path.join(self.tmp, "sum"), 3, files=2,
                             records=300)
        self.records = []
        for f in sorted(os.listdir(os.path.join(self.tmp, "in"))):
            self.records += json.load(open(os.path.join(self.tmp, "in", f)))
        self.expected = gen.merge_summaries(
            json.load(open(os.path.join(self.tmp, "sum", f)))
            for f in sorted(os.listdir(os.path.join(self.tmp, "sum"))))

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def test_correct_output_passes(self):
        out = os.path.join(self.tmp, "out")
        write_tables(out, self.records)
        self.assertEqual(check.flashscore(out, self.expected), [])

    def test_dropped_row_is_rejected(self):
        out = os.path.join(self.tmp, "out")
        finished = [i for i, r in enumerate(self.records)
                    if r.get("current_status") == "Finished"]
        dropped = self.records[:finished[0]] + self.records[finished[0] + 1:]
        write_tables(out, dropped)
        self.assertNotEqual(check.flashscore(out, self.expected), [])

    def test_reloaded_file_is_rejected(self):
        out = os.path.join(self.tmp, "out")
        first = json.load(open(os.path.join(self.tmp, "in",
                                            "part-00000.json")))
        write_tables(out, self.records + first)
        problems = check.flashscore(out, self.expected)
        self.assertTrue(any("rows, expected" in p for p in problems))

    def test_archive(self):
        arch = os.path.join(self.tmp, "archive", "deep")
        src = os.path.join(self.tmp, "src")
        os.makedirs(arch)
        os.makedirs(src)
        ticks = [["a.json"], ["b.json"]]
        open(os.path.join(arch, "a.json"), "w").close()
        open(os.path.join(src, "b.json"), "w").close()
        # the last tick's files may wait for the next batch's commit
        self.assertEqual(check.archived(os.path.join(self.tmp, "archive"),
                                        src, ticks), [])
        # a re-landed (re-loaded) file sits in both places
        open(os.path.join(src, "a.json"), "w").close()
        self.assertEqual(len(check.archived(
            os.path.join(self.tmp, "archive"), src, ticks)), 1)
        os.remove(os.path.join(src, "a.json"))
        os.remove(os.path.join(arch, "a.json"))
        self.assertEqual(check.archived(os.path.join(self.tmp, "archive"),
                                        src, ticks), ["a.json not archived"])


if __name__ == "__main__":
    unittest.main()
