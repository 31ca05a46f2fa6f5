#!/usr/bin/env python3
"""Benchmark of the graft program: four workloads, each in a fresh JVM.

  python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the program and the
harness from source with sbt into `.bench_build/` (and the builds' own
`target/` directories). Each run then

1. generates the workload's inputs from the seed (plain Python, cached in
   `.bench_build/inputs/`), outside every timed region;
2. starts one measured JVM (perfbench.Main) that sets up the Spark
   session, runs one cold operation and warm ones for S seconds;
3. starts two more JVMs that only set up the session, so that `setup_s`
   is a median of three;
4. checks every operation's output, and prints the metrics.

Trace 0 prints the end-to-end metrics, trace 1 the per-layer ones. A
failed operation or check makes the run print `"correct": false` and exit
with code 1; it never becomes a timing. See README.md for the workloads,
metrics and the layer map.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ["flashscore_batch", "flashscore_stream", "corpus_curate",
             "operator_board"]
# flashscore_batch: files x records; flashscore_stream: per tick.
BATCH_FILES, BATCH_RECORDS = 8, 2000
TICK_FILES, TICK_RECORDS = 3, 300
TICKS_STAGED = 60
# corpus_curate and operator_board read one of these table variants.
TABLE_VARIANTS = 4
DOCS, TABLE_SCALE = 2000, 0.5
BOARD = ["q137_bpe_learn", "q146_psi_drift", "q149_quantile_norm",
         "q172_curation_pipeline", "q150_capped_jaccard",
         "q186_containment_join", "q182_mixture_materialize",
         "q175_fleiss_kappa", "q176_krippendorff_alpha", "q179_dsir_weights",
         "q183_gumbel_topk", "q122_pagerank"]
SETUP_PROBES = 2
HEAP = "3g"
RUN_LIMIT_S = 170
BUILD_SETTLE_S = 30
GOLDENS = os.path.join(HERE, "goldens.json")

END_TO_END = [("setup_s", "s"), ("first_s", "s"), ("warm_op_s", "s")]
# Warm operations that only let the JIT settle: the batch's first warm load
# still runs 20-40 % slower than the later ones, and how many loads fit in
# the measuring time would otherwise move the median.
SETTLE_OPS = {"flashscore_batch": 1, "flashscore_stream": 1}
FS_TABLES = check.TABLES
# Per-layer metrics of the workloads BENCHMARK.json lists; zero where a
# layer is not reached (the board writes no tables, the batch runs no
# board query).
PER_LAYER = (
    [("io.read_s", "s"), ("io.read_mb_per_s", "MB/s"),
     ("io.input_files", "count"), ("io.input_rows", "count")] +
    [("io.write_s.%s" % t, "s") for t in FS_TABLES] +
    [("io.output_rows.%s" % t, "count") for t in FS_TABLES] +
    [("io.output_bytes", "bytes"), ("io.output_files", "count"),
     ("transform.construct_ms", "ms"), ("pipeline.batch.self_s", "s")] +
    [("%s.%s" % (q, k), u) for q in BOARD for k, u in (
        ("construct_s", "s"), ("construct_jobs", "count"), ("plan_s", "s"),
        ("exec_s", "s"))] +
    [("spark.%s" % k, u) for k, u in (
        ("construct_jobs", "count"), ("plan_s", "s"), ("exec_s", "s"),
        ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
        ("shuffle_write_bytes", "bytes"), ("executor_run_s", "s"),
        ("executor_cpu_s", "s"), ("busy_frac", "ratio"),
        ("cache_stored_mb", "MB"))] +
    [("jvm.gc_s", "s"), ("jvm.janino_compiles", "count"), ("jvm.jit_s", "s"),
     ("jvm.heap_peak_mb", "MB"), ("jvm.live_heap_peak_mb", "MB"),
     ("jvm.peak_rss_mb", "MB"), ("trace.overhead_s", "s")])
# ... plus those of the two workloads outside BENCHMARK.json.
PER_LAYER_EXTRA = {
    "flashscore_stream": [("pipeline.stream.%s" % k, "ms") for k in (
        "start_ms", "latest_offset_ms", "get_batch_ms", "query_planning_ms",
        "add_batch_ms", "wal_commit_ms", "commit_offsets_ms", "trigger_ms",
        "stop_ms")],
    "corpus_curate": [("pipeline.curate.%s.construct_s" % k, "s") for k in (
        "annotate", "qualityGate", "exactDedup", "nearDedup",
        "decontaminate", "split", "toTrainingBatches")]}
# the record's workload-specific end-to-end figures
DETAIL = [("load_s", "s"), ("tick_p50_s", "s"), ("tick_tail_s", "s"),
          ("tick_tail_pct", "%"), ("curate_s", "s"), ("board_s", "s"),
          ("board_samples", "count"), ("failed_frac", "ratio"),
          ("out_bytes_per_in_byte", "ratio"), ("peak_rss_mb", "MB"),
          ("live_heap_peak_mb", "MB")]
UNITS = dict(END_TO_END + PER_LAYER + DETAIL +
             [m for ms in PER_LAYER_EXTRA.values() for m in ms])
JVM_OPTS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar")
    for x in ("--add-opens", p + "=ALL-UNNAMED")]


def die(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_rev():
    """Content hash of everything the build compiles: the record's rev."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def build(rev):
    """Compile program + harness once per source revision; the classpath."""
    cp_file = os.path.join(BUILD, "classpath-%s.txt" % rev)
    if os.path.isfile(cp_file):
        with open(cp_file) as fh:
            return fh.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log,
            stdin=subprocess.DEVNULL, text=True, timeout=840)
        log.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if "classes" in l
             and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        die("build failed, see %s" % log_path)
    with open(cp_file, "w") as fh:
        fh.write(lines[-1])
    # Runs that started right after a build measured 5-70 % slower than
    # the rest: let the machine settle first.
    time.sleep(BUILD_SETTLE_S)
    return lines[-1]


def cached(key, make):
    """Directory `inputs/key`, generated by `make(dir)` on first use."""
    final = os.path.join(BUILD, "inputs", key)
    if not os.path.isdir(final):
        tmp = final + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        make(tmp)
        os.rename(tmp, final)
    return final


def inputs(workload, seed):
    if workload == "flashscore_batch":
        return cached("flashscore-s%d-%dx%d" % (seed, BATCH_FILES,
                                                BATCH_RECORDS),
                      lambda d: gen.flashscore_files(
                          os.path.join(d, "input"),
                          os.path.join(d, "summary"), seed, BATCH_FILES,
                          BATCH_RECORDS))

    if workload == "flashscore_stream":
        def make(d):
            for t in range(TICKS_STAGED):
                gen.flashscore_files(
                    os.path.join(d, "stage", "tick-%05d" % t),
                    os.path.join(d, "summary"), seed, TICK_FILES,
                    TICK_RECORDS, first=t * TICK_FILES)
        return cached("stream-s%d-%dx%dx%d" % (
            seed, TICKS_STAGED, TICK_FILES, TICK_RECORDS), make)
    v = seed % TABLE_VARIANTS
    return cached("tables-v%d-%d-%s" % (v, DOCS, TABLE_SCALE),
                  lambda d: gen.tables(d, v, DOCS, TABLE_SCALE))


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def jvm(cp, spec, work, name, timeout):
    """Run perfbench.Main on `spec`; its result record, or None."""
    spec_path = os.path.join(work, name + ".spec.json")
    result_path = os.path.join(work, name + ".result.json")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(spec_path, "w") as fh:
        json.dump(spec, fh)
    cmd = [java()] + JVM_OPTS + [
        "-Xmx" + HEAP, "-XX:-UsePerfData",
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-cp", cp, "perfbench.Main"]
    with open(os.path.join(work, name + ".log"), "w") as log:
        launch_ms = int(time.time() * 1000)
        p = subprocess.Popen(cmd + [str(launch_ms), spec_path, result_path],
                             cwd=work, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            p.wait(timeout=max(1, timeout))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return None
    if p.returncode != 0 or not os.path.isfile(result_path):
        return None
    with open(result_path) as fh:
        return json.load(fh)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def dir_bytes(path):
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs
               if not f.startswith((".", "_")))


def load_goldens():
    if not os.path.isfile(GOLDENS):
        return {}
    with open(GOLDENS) as fh:
        return json.load(fh)


def verify(workload, res, data, work, seed, record_goldens):
    """Mark every op whose output is wrong as failed; the problems found."""
    ops = res["ops"]
    problems = []

    def bad(op, why):
        op["ok"] = False
        op["error"] = (op.get("error") or "") + why
        problems.append("%s %s: %s" % (op["kind"], op["name"], why))

    if workload == "flashscore_batch":
        summary = os.path.join(data, "summary")
        expected = gen.merge_summaries(
            json.load(open(os.path.join(summary, f)))
            for f in sorted(os.listdir(summary)))
        for op in ops:
            if op["ok"]:
                for p in check.flashscore(op["name"], expected):
                    bad(op, p)
    elif workload == "flashscore_stream":
        ticks = [sorted(os.listdir(os.path.join(data, "stage", op["name"])))
                 for op in ops]
        expected = gen.merge_summaries(
            json.load(open(os.path.join(data, "summary", f)))
            for names in ticks for f in names)
        found = check.flashscore(os.path.join(work, "out"), expected) + \
            check.archived(os.path.join(work, "archive"),
                           os.path.join(work, "in"), ticks)
        for op in ops:
            if op["ok"]:
                for p in found:
                    bad(op, p)
    else:
        goldens = load_goldens()
        key = str(seed % TABLE_VARIANTS)
        want = goldens.get(key, {})
        got = {}
        for op in ops:
            if not op["ok"]:
                continue
            name = op["name"] if workload == "operator_board" else workload
            got.setdefault(name, op["digest"])
            if op["digest"] != got[name]:
                bad(op, "output differs from its first execution")
            elif not record_goldens and op["digest"] != want.get(name):
                bad(op, "digest %s, golden %s" % (op["digest"],
                                                  want.get(name)))
        if record_goldens and all(op["ok"] for op in ops):
            goldens.setdefault(key, {}).update(got)
            with open(GOLDENS, "w") as fh:
                json.dump(goldens, fh, indent=1, sort_keys=True)
                fh.write("\n")
    return problems


def warm(workload, ops, traced=None):
    """The measured warm ops: ok, after the cold op and the settling ones."""
    first = 1 + SETTLE_OPS.get(workload, 0)
    return [o for o in ops if o["index"] >= first and o["ok"] and
            (traced is None or o["traced"] == traced)]


def by_unit(workload, ops):
    """Warm ops grouped into the units whose medians add up to one
    operation: each board query on the board, all ops elsewhere."""
    units = {}
    for o in ops:
        units.setdefault(o["name"] if workload == "operator_board" else "",
                         []).append(o)
    return units


def op_stat(workload, ops):
    """The warm-operation time: the median op, or on the board the sum of
    the per-query medians (`board_s`)."""
    return sum(median([o["wall_s"] for o in u])
               for u in by_unit(workload, ops).values())


def end_to_end(workload, res, setups, data, work):
    ops = res["ops"]
    w = warm(workload, ops)
    walls = [o["wall_s"] for o in w]
    m = {"setup_s": median(setups),
         "first_s": sum(o["wall_s"] for o in ops if o["index"] == 0)}
    detail = {"failed_frac": sum(not o["ok"] for o in ops) / len(ops),
              "peak_rss_mb": res["peak_rss_mb"],
              "live_heap_peak_mb": res["live_heap_peak_mb"]}
    m["warm_op_s"] = op_stat(workload, w)
    if workload == "operator_board":
        detail["board_s"] = m["warm_op_s"]
        detail["board_samples"] = min(
            (len(u) for u in by_unit(workload, w).values()), default=0)
    else:
        name = {"flashscore_batch": "load_s", "flashscore_stream":
                "tick_p50_s", "corpus_curate": "curate_s"}[workload]
        detail[name] = m["warm_op_s"]
        if workload == "flashscore_stream":
            # highest percentile with at least 10 ticks beyond it
            n = len(walls)
            if n >= 20:
                pct = 100.0 * (n - 10) / n
                s = sorted(walls)
                detail["tick_tail_s"] = s[n - 11]
                detail["tick_tail_pct"] = pct
        if workload == "flashscore_batch":
            in_bytes = dir_bytes(os.path.join(data, "input"))
            out_bytes = median([dir_bytes(o["name"]) for o in w])
        elif workload == "flashscore_stream":
            in_bytes = sum(dir_bytes(os.path.join(data, "stage", o["name"]))
                           for o in ops)
            out_bytes = dir_bytes(os.path.join(work, "out"))
        else:
            in_bytes = os.path.getsize(os.path.join(data, "documents.parquet"))
            out_bytes = median([dir_bytes(o["name"]) for o in w])
        detail["out_bytes_per_in_byte"] = out_bytes / in_bytes
    return m, detail, len(w)


def per_layer(workload, res, data):
    """Medians over the traced warm ops (summed over the board's queries,
    like `board_s`); JVM counters over set-up and the cold op."""
    ops = res["ops"]
    traced = warm(workload, ops, traced=True)
    m = {k: 0.0 for k, _ in PER_LAYER + PER_LAYER_EXTRA.get(workload, [])}
    for unit in by_unit(workload, traced).values():
        for k in m:
            vals = [o["layers"][k] for o in unit if k in o["layers"]]
            if workload == "flashscore_batch" and k == "pipeline.batch.self_s":
                # runBatch's own time: the load outside its read, transform
                # and write calls
                vals = [o["wall_s"] - o["layers"]["io.read_s"] -
                        o["layers"]["transform.construct_ms"] / 1e3 -
                        sum(o["layers"].get("io.write_s.%s" % t, 0.0)
                            for t in FS_TABLES) for o in unit]
            if vals:
                m[k] += median(vals)
    wall = op_stat(workload, traced)
    if wall:
        m["spark.busy_frac"] = m["spark.executor_run_s"] / \
            (res["cores"] * wall)
    if workload == "flashscore_batch" and m["io.read_s"]:
        m["io.input_files"] = BATCH_FILES
        m["io.read_mb_per_s"] = dir_bytes(
            os.path.join(data, "input")) / 1048576.0 / m["io.read_s"]
    jvm = res["jvm_after_first"]
    for k in ("jvm.gc_s", "jvm.janino_compiles", "jvm.jit_s"):
        m[k] = jvm[k]
    m["jvm.heap_peak_mb"] = res["heap_peak_mb"]
    m["jvm.live_heap_peak_mb"] = res["live_heap_peak_mb"]
    m["jvm.peak_rss_mb"] = res["peak_rss_mb"]
    m["trace.overhead_s"] = wall - op_stat(workload,
                                           warm(workload, ops, traced=False))
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--queries", default=",".join(BOARD),
                    help="operator_board: comma-separated query names")
    ap.add_argument("--record-goldens", action="store_true",
                    help="store this run's digests as the goldens of its "
                    "table variant (corpus_curate, operator_board)")
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        die("run from the root of a checkout of the program")
    rev = source_rev()
    cp = build(rev)
    t_start = time.time()  # the run's time limit excludes a first build
    data = inputs(a.workload, a.seed)
    work = os.path.join(BUILD, "run", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cores = len(os.sched_getaffinity(0))
    spec = {"workload": a.workload, "work": work, "seconds": a.seconds,
            "trace": bool(a.trace), "cores": cores,
            "settle": SETTLE_OPS.get(a.workload, 0)}
    if a.workload == "flashscore_batch":
        spec["input"] = os.path.join(data, "input")
    elif a.workload == "flashscore_stream":
        stage = os.path.join(work, "stage")
        for t in sorted(os.listdir(os.path.join(data, "stage"))):
            os.makedirs(os.path.join(stage, t))
            for f in os.listdir(os.path.join(data, "stage", t)):
                os.link(os.path.join(data, "stage", t, f),
                        os.path.join(stage, t, f))
        spec.update(stage=stage, ticks=TICKS_STAGED)
    elif a.workload == "corpus_curate":
        spec["documents"] = os.path.join(data, "documents.parquet")
    else:
        spec.update(tables=data, queries=a.queries.split(","))
    res = jvm(cp, spec, work, "measured",
              RUN_LIMIT_S - (time.time() - t_start) - 15 * SETUP_PROBES)
    if res is None or not res.get("ops"):
        die("the measured JVM failed, see %s/measured.log" % work)
    setups = [res["setup_s"]]
    for i in range(SETUP_PROBES):
        probe = jvm(cp, dict(spec, workload="setup"), work, "setup%d" % i, 15)
        if probe is None:
            die("a set-up probe JVM failed, see %s/setup%d.log" % (work, i))
        setups.append(probe["setup_s"])
    problems = verify(a.workload, res, data, work, a.seed, a.record_goldens)
    ops = res["ops"]
    failed = sum(not o["ok"] for o in ops)
    e2e, detail, n_warm = end_to_end(a.workload, res, setups, data, work)
    if a.trace:
        metrics = per_layer(a.workload, res, data)
    else:
        metrics = e2e
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "rev": rev, "cores": cores,
        "session": res["session"], "heap": HEAP,
        "input": {"path": os.path.relpath(data, ROOT),
                  "bytes": dir_bytes(data)},
        "attempted": len(ops), "failed": failed, "warm_samples": n_warm,
        "setup_samples": setups, "problems": problems[:50],
        "errors": sorted({o["error"] for o in ops if o["error"]})[:20],
        "metrics": {k: {"value": v, "unit": UNITS.get(k, "")}
                    for k, v in sorted({**e2e, **detail, **metrics}.items())}}
    os.makedirs(os.path.join(BUILD, "records"), exist_ok=True)
    with open(os.path.join(BUILD, "records", "%s-seed%d-trace%d.json" % (
            a.workload, a.seed, a.trace)), "w") as fh:
        json.dump(record, fh, indent=1)
    print(json.dumps(record))
    correct = failed == 0
    print(json.dumps({
        "correct": correct, "attempted": len(ops), "failed": failed,
        "metrics": {k: {"value": v, "unit": UNITS[k]}
                    for k, v in metrics.items()}}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
