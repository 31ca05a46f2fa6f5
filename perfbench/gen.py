"""Seeded input generators for the benchmark.

Everything here runs in plain Python, outside the measured JVM and outside
every timed region. The same arguments give byte-identical files.

* ``flashscore`` writes Flashscore match-record files (one JSON array per
  file, the shape ``FlashscoreIO.readJson`` reads) and, in a separate
  directory, each file's expected output computed without Spark.
* ``tables`` writes the parquet tables the corpus and operator-board
  workloads read (documents, events, lineitem, orders), with the value
  domains of the repository's star-schema fixture.

Usage:
  python3 perfbench/gen.py flashscore OUT --seed N [--files F] [--records R]
  python3 perfbench/gen.py tables OUT --seed N [--docs D] [--scale S]
"""
import argparse
import json
import os
import random

BOOKMAKERS = ["Betclic.fr", "Unibet.fr", "bwin.fr", "France Pari",
              "NetBet.fr", "Winamax", "bet365", "1xBet"]
# Input fields that MATCH_FINISHED keeps; a record missing any is dropped.
FACT_FIELDS = ["current_country", "current_tournament", "participant_home",
               "participant_away", "participant_home_current_score",
               "participant_away_current_score", "year", "month", "day",
               "hour", "minute"]
NOT_FINISHED = ["Scheduled", "Live", "Postponed", "Cancelled"]
BAD_SCORES = ["-", "?", "N/A"]
COUNTRIES = ["FRANCE", "SPAIN", "ITALY", "GERMANY", "ENGLAND", "PORTUGAL",
             "NETHERLANDS", "BELGIUM"]


class Defects:
    """Share of records carrying each defect the transforms guard against."""

    def __init__(self, not_finished=0.2, missing_field=0.03, bad_score=0.03,
                 bad_lineup=0.03, missing_bookmaker=0.03,
                 malformed_bookmaker=0.03):
        self.not_finished = not_finished
        self.missing_field = missing_field
        self.bad_score = bad_score
        self.bad_lineup = bad_lineup
        self.missing_bookmaker = missing_bookmaker
        self.malformed_bookmaker = malformed_bookmaker


def _lineup(rng, players, bad):
    n = 11
    if bad:
        n = rng.choice([0, 10, 12])
    return [{"name": rng.choice(players)} for _ in range(n)]


def _odds(rng):
    return ["%.2f" % rng.uniform(1.05, 12.0) for _ in range(3)]


def flashscore_record(rng, g, teams, players, d):
    """One match record; `g` is the record's global index (unique time)."""
    finished = rng.random() >= d.not_finished
    rec = {
        "current_status": "Finished" if finished
        else rng.choice(NOT_FINISHED),
        "current_country": rng.choice(COUNTRIES),
        "current_tournament": "LEAGUE %d" % rng.randrange(12),
        "participant_home": rng.choice(teams),
        "participant_away": rng.choice(teams),
        "participant_home_current_score": str(rng.randrange(8)),
        "participant_away_current_score": str(rng.randrange(8)),
        "year": 2020 + g // 483840,
        "month": (g // 40320) % 12 + 1,
        "day": (g // 1440) % 28 + 1,
        "hour": (g // 60) % 24,
        "minute": g % 60,
    }
    rec["match_hour"] = "%02d:%02d" % (rec["hour"], rec["minute"])
    if rng.random() < d.bad_score:
        side = rng.choice(["home", "away"])
        rec["participant_%s_current_score" % side] = rng.choice(BAD_SCORES)
    if rng.random() < d.missing_field:
        del rec[rng.choice(FACT_FIELDS)]
    rec["lineups_data"] = {
        "Team1": _lineup(rng, players, rng.random() < d.bad_lineup),
        "Team2": _lineup(rng, players, rng.random() < d.bad_lineup)}
    books = []
    for name in BOOKMAKERS:
        if rng.random() < d.missing_bookmaker:
            continue
        odds = _odds(rng)
        if rng.random() < d.malformed_bookmaker:
            odds = rng.choice([odds[:2], odds + ["2.00"], odds[:2] + ["x"]])
        books.append({"bookmaker": name, "odds": odds})
    rec["bookmakers_data"] = books
    return rec


def _to_int(s):
    """Spark's try_cast(string AS int) on the score strings generated here."""
    try:
        return int(s)
    except (TypeError, ValueError):
        return None


def _to_double(s):
    try:
        return float(s)
    except (TypeError, ValueError):
        return None


def summarize(records):
    """Expected output of the four tables for these records, without Spark.

    Mirrors FlashscoreTransforms: only `Finished` records enter; the fact
    table drops records missing any kept field and nulls unparseable
    scores; a lineup row exists when the team has exactly 11 players; the
    odds table has one row per finished record, with 3 nulls for a missing
    or malformed (not 3 odds) bookmaker.
    """
    s = {"records": len(records), "finished": 0,
         "rows": {"MATCH_FINISHED": 0, "HOME_STARTING_LINEUP": 0,
                  "AWAY_STARTING_LINEUP": 0, "ODDS": 0},
         "score_sum": {"home": 0, "away": 0},
         "score_nulls": {"home": 0, "away": 0},
         # lineup/odds rows whose match has no MATCH_FINISHED row
         "orphans": {"HOME_STARTING_LINEUP": 0, "AWAY_STARTING_LINEUP": 0,
                     "ODDS": 0},
         "odds_count": {b: 0 for b in BOOKMAKERS},
         "odds_sum": {b: 0.0 for b in BOOKMAKERS}}
    for r in records:
        if r.get("current_status") != "Finished":
            continue
        s["finished"] += 1
        in_fact = all(r.get(f) is not None for f in FACT_FIELDS)
        if in_fact:
            s["rows"]["MATCH_FINISHED"] += 1
            for side in ("home", "away"):
                v = _to_int(r["participant_%s_current_score" % side])
                if v is None:
                    s["score_nulls"][side] += 1
                else:
                    s["score_sum"][side] += v
        for table, team in (("HOME_STARTING_LINEUP", "Team1"),
                            ("AWAY_STARTING_LINEUP", "Team2")):
            if len(r["lineups_data"][team]) == 11:
                s["rows"][table] += 1
                if not in_fact:
                    s["orphans"][table] += 1
        s["rows"]["ODDS"] += 1
        if not in_fact:
            s["orphans"]["ODDS"] += 1
        seen = set()
        for b in r["bookmakers_data"]:
            name = b["bookmaker"]
            if name in seen:
                continue
            seen.add(name)
            if len(b["odds"]) != 3:
                continue
            for o in b["odds"]:
                v = _to_double(o)
                if v is not None:
                    s["odds_count"][name] += 1
                    s["odds_sum"][name] += v
    return s


def merge_summaries(parts):
    """Sum per-file summaries into the expectation for a set of files."""
    out = None
    for p in parts:
        if out is None:
            out = json.loads(json.dumps(p))
            continue
        for k, v in p.items():
            if isinstance(v, dict):
                for kk, vv in v.items():
                    out[k][kk] += vv
            else:
                out[k] += v
    return out


def flashscore_files(out_dir, summary_dir, seed, files, records,
                     names=200, defects=None, first=0):
    """Write `files` JSON files of `records` records each into `out_dir`.

    For each `X.json`, `summary_dir/X.json` holds its expected output (kept
    apart: every file in `out_dir` is pipeline input). File numbers start
    at `first`; a file's records depend only on the seed and its number.
    Returns the list of file names.
    """
    d = defects or Defects()
    teams = ["TEAM %d" % i for i in range(names)]
    players = ["PLAYER %d" % i for i in range(names * 20)]
    os.makedirs(out_dir, exist_ok=True)
    os.makedirs(summary_dir, exist_ok=True)
    written = []
    for f in range(first, first + files):
        rng = random.Random("%d/%d" % (seed, f))
        recs = [flashscore_record(rng, f * records + i, teams, players, d)
                for i in range(records)]
        name = "part-%05d.json" % f
        with open(os.path.join(out_dir, name), "w") as fh:
            json.dump(recs, fh, separators=(",", ":"))
        with open(os.path.join(summary_dir, name), "w") as fh:
            json.dump(summarize(recs), fh, sort_keys=True)
        written.append(name)
    return written


WORDS = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
LANGS = ["en"] * 41 + ["zh"] * 15 + ["es"] * 15 + ["fr"] * 15 + ["de"] * 14


def tables(out_dir, seed, docs=5000, scale=1.0):
    """Write documents/events/lineitem/orders parquet tables.

    `docs` documents; `scale` 1.0 = 20 000 events, 120 000 lineitems and
    30 000 orders. 5 % of documents are a copy of an earlier one with a
    marker word appended (near-duplicates) and a few are exact copies.
    """
    import datetime
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir, name + ".parquet"))

    n_docs = docs
    texts = []
    for i in range(n_docs):
        r = rng.random()
        if texts and r < 0.05:
            texts.append(rng.choice(texts) + " dup")
        elif texts and r < 0.052:
            texts.append(rng.choice(texts))
        else:
            texts.append(" ".join(rng.choice(WORDS)
                                  for _ in range(rng.randint(10, 100))))
    write("documents", {
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": [rng.choice(LANGS) for _ in range(n_docs)],
        "source": ["src%d" % (i % 20) for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    n_events = int(20000 * scale)
    t0 = datetime.datetime(2024, 1, 1)
    span_us = 30 * 86400 * 10 ** 6
    ts = sorted(rng.randrange(span_us) for _ in range(n_events))
    write("events", {
        "event_id": pa.array(range(n_events), pa.int64()),
        "ts": pa.array([t0 + datetime.timedelta(microseconds=u) for u in ts],
                       pa.timestamp("us")),
        "user_id": pa.array([rng.randrange(int(300 * scale) + 1)
                             for _ in range(n_events)], pa.int64()),
        "event_type": [rng.choice(["signup", "purchase", "view", "click",
                                   "error"]) for _ in range(n_events)],
        "value": [round(rng.uniform(0, 200), 2) for _ in range(n_events)],
        "props": ['{"k": %d}' % rng.randrange(100) for _ in range(n_events)]})

    n_orders = int(30000 * scale)
    n_cust = max(1, n_orders // 10)
    d0 = datetime.datetime(1995, 1, 1)

    def day(lo, hi):
        return d0 + datetime.timedelta(days=rng.randrange(lo, hi))

    write("orders", {
        "o_orderkey": pa.array(range(n_orders), pa.int64()),
        "o_custkey": pa.array([rng.randrange(n_cust)
                               for _ in range(n_orders)], pa.int64()),
        "o_orderstatus": [rng.choice("FOP") for _ in range(n_orders)],
        "o_totalprice": [round(rng.uniform(1000, 500000), 2)
                         for _ in range(n_orders)],
        "o_orderdate": pa.array([day(0, 2404) for _ in range(n_orders)],
                                pa.timestamp("us")),
        "o_orderpriority": [rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                        "4-NOT SPECIFIED", "5-LOW"])
                            for _ in range(n_orders)]})

    n_items = n_orders * 4
    n_part = max(1, n_items // 30)
    write("lineitem", {
        "l_orderkey": pa.array([rng.randrange(n_orders)
                                for _ in range(n_items)], pa.int64()),
        "l_partkey": pa.array([rng.randrange(n_part)
                               for _ in range(n_items)], pa.int64()),
        "l_suppkey": pa.array([rng.randrange(100)
                               for _ in range(n_items)], pa.int64()),
        "l_linenumber": pa.array([rng.randint(1, 7)
                                  for _ in range(n_items)], pa.int32()),
        "l_quantity": [float(rng.randint(1, 50)) for _ in range(n_items)],
        "l_extendedprice": [round(rng.uniform(900, 105000), 2)
                            for _ in range(n_items)],
        "l_discount": [rng.randint(0, 10) / 100 for _ in range(n_items)],
        "l_tax": [rng.randint(0, 8) / 100 for _ in range(n_items)],
        "l_returnflag": [rng.choice("ARN") for _ in range(n_items)],
        "l_linestatus": [rng.choice("OF") for _ in range(n_items)],
        "l_shipdate": pa.array([day(1, 2499) for _ in range(n_items)],
                               pa.timestamp("us"))})


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("kind", choices=["flashscore", "tables"])
    ap.add_argument("out")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--files", type=int, default=64)
    ap.add_argument("--records", type=int, default=2000)
    ap.add_argument("--names", type=int, default=200,
                    help="distinct team names (players: 20x)")
    ap.add_argument("--not-finished", type=float, default=0.2)
    ap.add_argument("--defect", type=float, default=0.03,
                    help="share of records with each transform defect")
    ap.add_argument("--docs", type=int, default=5000)
    ap.add_argument("--scale", type=float, default=1.0)
    a = ap.parse_args()
    if a.kind == "flashscore":
        d = Defects(a.not_finished, *([a.defect] * 5))
        flashscore_files(os.path.join(a.out, "input"),
                         os.path.join(a.out, "summary"), a.seed, a.files,
                         a.records, a.names, d)
    else:
        tables(a.out, a.seed, a.docs, a.scale)


if __name__ == "__main__":
    main()
