"""Output checks: the program's tables against the generator's summaries.

Reads the parquet the pipeline wrote with pyarrow (no Spark) and returns a
list of problems; an empty list means the output is correct.
"""
import os

import pyarrow.compute as pc
import pyarrow.parquet as pq

import gen

TABLES = ["MATCH_FINISHED", "HOME_STARTING_LINEUP", "AWAY_STARTING_LINEUP",
          "ODDS"]
# bookmaker -> output column prefix (graft.schema.Flashscore.bookmakers)
PREFIX = dict(zip(gen.BOOKMAKERS, ["BETCLIC", "UNIBET", "BWIN",
                                   "FRANCE_PARIS", "NETBET", "WINAMAX",
                                   "BET365", "ONEBET"]))


def _read(out_dir, table):
    path = os.path.join(out_dir, table)
    if not os.path.isdir(path):
        return None
    return pq.read_table(path)


def _sum(col):
    v = pc.sum(col).as_py()
    return 0 if v is None else v


def flashscore(out_dir, expected):
    """Check the four tables in `out_dir` against a (merged) summary."""
    problems = []
    t = {name: _read(out_dir, name) for name in TABLES}
    for name in TABLES:
        if t[name] is None:
            problems.append("%s: table missing" % name)
    if problems:
        return problems
    for name in TABLES:
        if t[name].num_rows != expected["rows"][name]:
            problems.append("%s: %d rows, expected %d" % (
                name, t[name].num_rows, expected["rows"][name]))
    fact = t["MATCH_FINISHED"]
    for side, col in (("home", "SCORE_TEAM_HOME"), ("away", "SCORE_TEAM_AWAY")):
        got = (_sum(fact[col]), fact[col].null_count)
        want = (expected["score_sum"][side], expected["score_nulls"][side])
        if got != want:
            problems.append("%s (sum, nulls) = %s, expected %s" % (
                col, got, want))
    fact_ids = fact["ID_MATCH"]
    if pc.count_distinct(fact_ids).as_py() != fact.num_rows:
        problems.append("MATCH_FINISHED: ID_MATCH not unique")
    # every lineup/odds ID_MATCH occurs once in MATCH_FINISHED, except the
    # matches whose fact row the missing-field guard dropped
    for name in TABLES[1:]:
        ids = t[name]["ID_MATCH"]
        if pc.count_distinct(ids).as_py() != t[name].num_rows:
            problems.append("%s: ID_MATCH not unique" % name)
        orphans = t[name].num_rows - _sum(pc.is_in(ids, value_set=fact_ids))
        if orphans != expected["orphans"][name]:
            problems.append("%s: %d ID_MATCH without a MATCH_FINISHED row, "
                            "expected %d" % (name, orphans,
                                             expected["orphans"][name]))
    odds = t["ODDS"]
    for book, prefix in PREFIX.items():
        cols = [odds["%s_%s_ODD" % (prefix, o)] for o in ("HOME", "NIL", "AWAY")]
        n = sum(len(c) - c.null_count for c in cols)
        s = sum(_sum(c) for c in cols)
        want_n, want_s = expected["odds_count"][book], expected["odds_sum"][book]
        if n != want_n or abs(s - want_s) > 1e-9 * max(1.0, abs(want_s)):
            problems.append("ODDS %s: (count, sum) = (%d, %r), expected "
                            "(%d, %r)" % (book, n, s, want_n, want_s))
    return problems


def archived(archive_dir, in_dir, ticks):
    """Problems with `cleanSource=archive` over the consumed files.

    `ticks` lists the file names landed per tick, in order. Spark archives
    a batch's files when it commits the next batch, so every tick's files
    but the last one's must be in the archive and gone from the input
    directory; the last tick's files are in one of the two places.
    """
    found = set()
    for _, _, files in os.walk(archive_dir):
        found.update(files)
    left = set(os.listdir(in_dir)) if os.path.isdir(in_dir) else set()
    problems = []
    for t, names in enumerate(ticks):
        last = t == len(ticks) - 1
        for n in names:
            if n in found and n in left:
                problems.append("%s both archived and in the input" % n)
            elif n not in found and not (last and n in left):
                problems.append("%s not archived" % n)
    return problems
