#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload analytics|lakehouse \\
        --seed N --seconds S --trace 0|1

Builds the engine and the harness from source (perfbench/build.py),
generates the workload's operations from the seed, runs them in one
JVM on local[nproc] with one closed-loop client, checks every result
and prints a report followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
metrics of a separate traced run. See perfbench/README.md.
"""
import argparse
import json
import math
import os
import random
import re
import shutil
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))

import build  # noqa: E402
import oracle  # noqa: E402

# --- workloads --------------------------------------------------------

def is_analytics(q):
    """The read-only relational and event-time queries: every `q*`,
    `e01`-`e21` and the reference-parity pipelines p01 and p02."""
    return (q.startswith("q") or q in ("p01_ingest_rename", "p02_transfer_cast")
            or (q.startswith("e") and q[1:3].isdigit() and 1 <= int(q[1:3]) <= 21))


# Input set of the analytics workload.
DEFAULT_INPUT = "sf0.01"


def input_dir(name):
    """Directory of the fixture input set `name` (e.g. "sf0.01"): under
    $PERFBENCH_DATA_ROOT if set, else where TESTDATA.md documents it."""
    if "PERFBENCH_DATA_ROOT" in os.environ:
        return os.path.join(os.environ["PERFBENCH_DATA_ROOT"], name)
    doc = ROOT / "TESTDATA.md"
    for path in re.findall(r"`([^`]+)`", doc.read_text() if doc.is_file() else ""):
        if Path(path).name == name:
            return path.rstrip("/")
    sys.exit(f"perfbench: input set {name} not found (set PERFBENCH_DATA_ROOT)")

# One lakehouse round, 78 operations in a fixed order. Every
# ManifestTable operation with its own commit loop runs once, directly
# or through SQL (sql_update -> update, sql_delete -> deleteWhere,
# sql_merge -> mergeClauses, overwrite = dynamic INSERT OVERWRITE ->
# commitDynamicOverwrite), and SQL UPDATE, the commonest statement,
# twice. Each one that changes rows is followed by a check of the whole
# table (a full read, or a stream catch-up), except the last, which the
# end-of-run check of both tables covers; ANALYZE, run next to
# compaction mid-round, changes no rows. Small appends, the common
# commit of a lake, and cheap reads (key range, recent time travel,
# recent change feed) fill the gaps. They are most of the operations,
# so the median lies among them. The tail is the eleventh slowest
# operation; with the second SQL UPDATE the costly mutations, ANALYZE
# and the first stream catch-up are eleven, so the tail is one of them
# rather than whatever lies in the gap below. Commits give 40 latency
# samples a round
# and reads 38. The order is fixed, so every seed pays the same
# first-call costs on the same operations; the seed draws every
# operation's arguments.
MUTATIONS = [("sql_update", "docs", "read"), ("update_vectors", "docs", "stream"),
             ("delete", "docs", "read"), ("merge", "docs", "stream"),
             ("replace_where", "parts", "read"), ("compact", "docs", "read"),
             ("update_where", "docs", "stream"), ("delete_vectors", "docs", "read"),
             ("sql_merge", "docs", "read"), ("merge_vectors", "docs", "stream"),
             ("sql_delete", "docs", "stream"), ("sql_update", "docs", "read"),
             ("overwrite", "parts", None)]
ROUND = []
for i, (kind, table, check) in enumerate(MUTATIONS):
    ROUND += [("append", "docs"), ("read_where", "docs"), ("stream_append", "docs"),
              (("time_travel", "changes")[i % 2], "docs"), (kind, table)]
    ROUND += [(check, table)] if check else []
    ROUND += [("analyze", "docs")] if kind == "compact" else []
READ_KINDS = ("read", "read_where", "time_travel", "changes", "stream")
COMMIT_KINDS = sorted({k for k, _ in ROUND if k not in READ_KINDS})


def query_plan(names, costs, seed, seconds):
    """Query names in run order; each runs once untimed, then once
    timed. `costs[name]` is the reference `[untimed run, timed run]` in
    seconds. Ranked by timed cost, the queries fall into `n` bands of
    equal count, `n` as large as fits about `seconds` of both runs;
    the run takes one query from each band. Of the seeded draws it keeps
    the first whose timed total is within 2% of the expected total, so
    every seed times the same number of queries with the same cost
    profile, and the seeds together cover the set.
    """
    cost = {n: costs.get(n, [1.0, 1.0]) for n in names}
    ranked = sorted(names, key=lambda n: (cost[n][1], n))

    def bands(n):
        cut = [round(i * len(ranked) / n) for i in range(n + 1)]
        return [ranked[cut[i]:cut[i + 1]] for i in range(n)]

    def expected(bs, k):
        return sum(sum(cost[q][k] for q in b) / len(b) for b in bs)

    n = 1
    while n < len(ranked) and expected(bands(n + 1), 0) + expected(bands(n + 1), 1) <= seconds:
        n += 1
    bs = bands(n)
    want = expected(bs, 1)
    rng = random.Random(seed)
    best = None
    for _ in range(2000):
        pick = [rng.choice(b) for b in bs]
        err = abs(sum(cost[q][1] for q in pick) - want) / want
        if best is None or err < best[0]:
            best = (err, pick)
        if err <= 0.02:
            break
    pick = best[1]
    rng.shuffle(pick)
    return pick


def lakehouse_plan(seed, seconds, costs):
    """Plan lines, whole rounds, as many as hold about `seconds` of work
    by the reference costs (at least one). Both tables start as the
    input set's `documents` (500 rows in sf0.01). Updates touch
    `doc_id % 4 = r` and deletes `doc_id % 8 = r`, the predicates of
    the engine's own UPDATE/MERGE pipelines (p28-p30); an append adds
    4-8 rows and a merge 8-16 fresh keys, which keeps `docs` near
    its starting size over a round. Time travel and the change feed
    reach 1-6 versions back; a key range spans 10-15% of the keys.
    """
    rng = random.Random(seed)
    round_s = sum(costs.get(f"{k} {t}", 0.5) for k, t in ROUND)
    rounds = max(1, round(seconds / round_s))
    salt = lambda: rng.randrange(1 << 30)  # noqa: E731
    lines = []
    for _ in range(rounds):
        for kind, table in ROUND:
            args = []
            if kind in ("append", "stream_append"):
                args = [rng.randint(4, 8), salt()]
            elif kind in ("update_vectors", "update_where", "sql_update"):
                args = [rng.randrange(4), rng.randint(1, 1000)]
            elif kind in ("delete", "delete_vectors", "sql_delete"):
                args = [rng.randrange(8)]
            elif kind in ("merge", "merge_vectors", "sql_merge"):
                args = [rng.randrange(4), rng.randint(8, 16), salt(), rng.randint(1, 1000)]
            elif kind in ("replace_where", "overwrite"):
                args = [rng.randrange(4), salt(), rng.randint(1, 1000)]
            elif kind == "read_where":
                args = [rng.randrange(850), rng.randint(100, 150)]
            elif kind in ("time_travel", "changes"):
                args = [rng.randint(1, 6)]
            lines.append(" ".join([kind, table] + [str(a) for a in args]))
    return lines

# --- metrics ----------------------------------------------------------

# Runs in a fresh JVM are short, and the same query's latency moves by
# tens of percent from run to run with the JIT's state; 0.25 is the
# widest bound BENCHMARK.json allows, and the only one the measured
# run-to-run spread fits under.
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("ops_per_s", "1/s", "higher", 0.25),
    ("latency_p50_s", "s", "lower", 0.25),
    ("latency_tail_s", "s", "lower", 0.25),
    ("peak_rss_mb", "MB", "lower", 0.25),
]

# (name, unit); every per-layer metric is better lower except the
# number of distinct snapshots the lakehouse read.
PER_LAYER = (
    [("catalyst.analysis_s", "s"), ("catalyst.optimization_s", "s"),
     ("catalyst.planning_s", "s"), ("catalyst.query_executions", "count"),
     ("catalyst.self_s", "s"),
     ("exec.jobs", "count"), ("exec.job_busy_s", "s"), ("exec.driver_gap_s", "s"),
     ("exec.noop_action_s", "s"), ("exec.tasks", "count"), ("exec.task_cpu_s", "s"),
     ("exec.task_gc_s", "s"), ("exec.shuffle_read_bytes", "bytes"),
     ("exec.shuffle_write_bytes", "bytes"), ("exec.spill_bytes", "bytes"),
     ("exec.peak_exec_mem_bytes", "bytes"), ("exec.self_s", "s"),
     ("ops.build_s", "s"), ("ops.self_s", "s")]
    + [(f"sinks.{k}_{m}", u) for k in COMMIT_KINDS for m, u in (("s", "s"), ("jobs", "count"))]
    + [("sinks.commit_p50_s", "s"), ("sinks.commit_tail_s", "s"),
       ("sinks.read_p50_s", "s"), ("sinks.read_tail_s", "s"),
       ("sinks.read_s", "s"), ("sinks.read_where_s", "s"), ("sinks.time_travel_s", "s"),
       ("sinks.changes_s", "s"), ("sinks.versions", "count"), ("sinks.live_files", "count"),
       ("sinks.snapshots_read", "count"), ("sinks.bytes_per_user_byte", "ratio"),
       ("sinks.self_s", "s"),
       ("stream.batches", "count"), ("stream.catch_up_s", "s"), ("stream.self_s", "s"),
       ("fs.bytes_written", "bytes"), ("fs.bytes_read", "bytes"), ("fs.table_bytes", "bytes"),
       ("jvm.gc_s", "s"), ("jvm.heap_peak_mb", "MB"),
       ("host.calib_start_s", "s"), ("host.calib_end_s", "s"),
       ("failed_frac", "fraction"), ("trace.unattributed_s", "s"),
       ("trace.overhead_frac", "fraction")])
HIGHER_IS_BETTER = {"sinks.snapshots_read"}


def tail(values):
    """(value, percentile, n): the highest percentile with at least ten
    samples beyond it, by nearest rank. Below 22 samples that percentile
    would not lie above the median, so the tail is the maximum."""
    s = sorted(values)
    n = len(s)
    if n == 0:
        return None, 0, 0
    if n < 22:
        return s[-1], 100, n
    p = math.floor(100 * (n - 10) / n)
    return s[math.ceil(p * n / 100) - 1], p, n


def median(values):
    return statistics.median(values) if values else None


def mean(values):
    return sum(values) / len(values) if values else 0.0


def end_to_end(ops, setup_s, rss_mb):
    ok = [o for o in ops if not o["failure"]]
    timed = sum(o["s"] for o in ops)
    lat = [o["s"] for o in ok]
    t, p, n = tail(lat)
    return ({"setup_s": setup_s,
             "ops_per_s": len(ok) / timed if timed > 0 else 0.0,
             "latency_p50_s": median(lat),
             "latency_tail_s": t,
             "peak_rss_mb": rss_mb},
            {"latency_tail_s": f"p{p}, n={n}"})


def class_latencies(ops):
    """p50 and tail of the lakehouse's commits and reads, and the
    percentile and sample count behind each tail."""
    m, notes = {}, {}
    for cls in ("commit", "read"):
        lat = [o["s"] for o in ops if o["cls"] == cls and not o["failure"]]
        t, p, n = tail(lat)
        m[f"{cls}_p50_s"] = median(lat) or 0.0
        m[f"{cls}_tail_s"] = t or 0.0
        notes[f"{cls}_tail_s"] = f"p{p}, n={n}"
    return m, notes


def per_layer(ops, result):
    m = dict(result["layers"])
    m.update(result["sentinel"])
    m["ops.build_s"] = sum(o["build_s"] for o in ops)
    for k in COMMIT_KINDS:
        mine = [o for o in ops if o["cls"] == "commit" and o["name"] == k]
        m[f"sinks.{k}_s"] = mean([o["s"] for o in mine])
        m[f"sinks.{k}_jobs"] = mean([o["jobs"] for o in mine])
    for k in ("read", "read_where", "time_travel", "changes"):
        m[f"sinks.{k}_s"] = mean([o["s"] for o in ops if o["cls"] == "read" and o["name"] == k])
    m["stream.catch_up_s"] = mean([o["s"] for o in ops if o["name"] == "stream"])
    lat, lat_notes = class_latencies(ops)
    m.update({f"sinks.{k}": v for k, v in lat.items()})
    notes = {f"sinks.{k}": v for k, v in lat_notes.items()}
    for k, _ in PER_LAYER:
        m.setdefault(k, 0.0)
    return m, notes

# --- running ----------------------------------------------------------

JDK_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

RUN_LIMIT_S = 170


def java_cmd(classes, jars, run_dir, main_args):
    # resources carry the `graft` data source registration
    cp = os.pathsep.join([str(classes), str(ROOT / "src" / "main" / "resources")] + jars)
    return (["java"] + JDK_OPENS +
            # a fixed young generation keeps the peak RSS a function of
            # the work rather than of heap-sizing decisions
            ["-Xms3g", "-Xmx3g", "-Xmn512m", "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
             f"-Djava.io.tmpdir={run_dir / 'tmp'}", "-cp", cp,
             "graft.perfbench.Main"] + main_args)


def entry_points(build_dir, classes, jars):
    """Query names and oracle SQL of `SparkEntry`, dumped once per build."""
    f = build_dir / "oracle_sql.json"
    stamp = (build_dir / "classes.stamp").read_text()
    stamp_f = build_dir / "oracle_sql.stamp"
    if not (f.is_file() and stamp_f.is_file() and stamp_f.read_text() == stamp):
        (build_dir / "tmp").mkdir(parents=True, exist_ok=True)
        subprocess.run(java_cmd(classes, jars, build_dir, ["--dump-oracle", str(f)]),
                       check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                       timeout=120)
        stamp_f.write_text(stamp)
    return json.loads(f.read_text())


def expected_digests(data_dir, names, oracle_sql, build_dir):
    """Oracle digests of `names` on `data_dir`, cached per input set:
    perfbench/expected/*.json (committed) or the build directory."""
    fp = oracle.fingerprint(data_dir)
    caches = sorted((BENCH / "expected").glob("*.json")) + sorted(
        (build_dir / "expected").glob("*.json"))
    digests = {}
    for c in caches:
        d = json.loads(c.read_text())
        if d["fingerprint"] == fp:
            digests.update(d["digests"])
    todo = [n for n in names if n in oracle_sql and n not in digests]
    if todo:
        print(f"perfbench: computing {len(todo)} oracle digests for {data_dir}",
              file=sys.stderr, flush=True)
        new = oracle.compute(data_dir, oracle_sql, todo)
        out = build_dir / "expected" / f"{fp[:16]}.json"
        out.parent.mkdir(parents=True, exist_ok=True)
        old = json.loads(out.read_text())["digests"] if out.is_file() else {}
        out.write_text(json.dumps({"fingerprint": fp, "input": Path(data_dir).name,
                                   "digests": {**old, **new}}, sort_keys=True))
        digests.update(new)
    return {n: digests[n] if n in oracle_sql else [-1, "nonempty"] for n in names}


def run_jvm(cmd, run_dir, limit_s):
    """Runs the harness JVM. Returns (setup_s, peak RSS in MB, set-up
    phases as the JVM timed them)."""
    log = open(run_dir / "jvm.log", "w")
    t0 = time.monotonic()
    proc = subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                            stderr=log, text=True, cwd=run_dir)
    state = {"ready": None, "rss": None, "phases": []}

    def pump():
        for line in proc.stdout:
            if line.startswith("PERFBENCH_READY"):
                state["ready"] = time.monotonic() - t0
                state["phases"] = line.split()[1:]
            elif line.startswith("PERFBENCH_DONE"):
                state["rss"] = peak_rss_mb(proc.pid)
                proc.stdin.close()
            else:
                log.write(line)

    reader = threading.Thread(target=pump, daemon=True)
    reader.start()
    try:
        proc.wait(timeout=limit_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise RuntimeError(f"harness exceeded {limit_s:.0f} s")
    finally:
        reader.join(timeout=10)
        log.close()
    if proc.returncode != 0 or state["rss"] is None:
        raise RuntimeError(f"harness exited with {proc.returncode}; see {run_dir}/jvm.log")
    return state["ready"], state["rss"], state["phases"]


def peak_rss_mb(pid):
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024.0
    return None


def fmt(v):
    return "-" if v is None else f"{v:.6g}"


def main():
    ap = argparse.ArgumentParser(description="graft engine benchmark")
    ap.add_argument("--workload", required=True, choices=["analytics", "lakehouse"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--data", help="input set the workload reads "
                    f"(default: the {DEFAULT_INPUT} fixture)")
    ap.add_argument("--plan-only", action="store_true",
                    help="print the generated operations and exit")
    ap.add_argument("--corrupt-digest", metavar="QUERY",
                    help="test hook: falsify QUERY's expected digest")
    ap.add_argument("--corrupt-model", metavar="KIND",
                    help="test hook: falsify one lakehouse model row after "
                    "the last KIND operation")
    a = ap.parse_args()
    started = time.monotonic()

    costs = json.loads((BENCH / "costs.json").read_text())[a.workload]
    build_dir = build.default_build_dir()
    if a.workload == "lakehouse" and a.plan_only:
        print("\n".join(lakehouse_plan(a.seed, a.seconds, costs)))
        return
    classes, jars = build.ensure(build_dir)
    entry = entry_points(build_dir, classes, jars)
    one_time_s = time.monotonic() - started  # compile and oracle digests
    if a.workload == "lakehouse":
        plan = lakehouse_plan(a.seed, a.seconds, costs)
    else:
        names = sorted(q for q in entry["queries"] if is_analytics(q))
        plan = query_plan(names, costs, a.seed, a.seconds)
        if a.plan_only:
            print("\n".join(plan))
            return
    data_dir = a.data or input_dir(DEFAULT_INPUT)
    if not Path(data_dir).is_dir():
        sys.exit(f"perfbench: input set {data_dir} not found")
    if a.workload == "analytics":
        t = time.monotonic()
        expected = expected_digests(data_dir, names, entry["oracle"], build_dir)
        one_time_s += time.monotonic() - t
        if a.corrupt_digest:
            expected[a.corrupt_digest] = [expected[a.corrupt_digest][0], "0" * 64]

    run_dir = build_dir / "run"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    (run_dir / "plan.txt").write_text("\n".join(plan) + "\n")
    main_args = ["--workload", a.workload, "--plan", str(run_dir / "plan.txt"),
                 "--data", data_dir, "--out", str(run_dir),
                 "--cpus", str(len(os.sched_getaffinity(0)))]
    if a.workload == "analytics":
        (run_dir / "expected.tsv").write_text("".join(
            f"{n}\t{r}\t{d}\n" for n, (r, d) in sorted(expected.items())))
        main_args += ["--expected", str(run_dir / "expected.tsv")]
    spans = build_dir / "traces" / f"{a.workload}-seed{a.seed}.spans.jsonl"
    if a.trace:
        main_args += ["--trace", "--spans", str(spans)]
    if a.corrupt_model:
        main_args += ["--corrupt-model", a.corrupt_model]
    # the first run of a checkout or input set may spend its time
    # compiling and computing oracle digests
    limit = RUN_LIMIT_S - (time.monotonic() - started - one_time_s)
    try:
        setup_s, rss_mb, phases = run_jvm(java_cmd(classes, jars, run_dir, main_args), run_dir, limit)
        result = json.loads((run_dir / "result.json").read_text())
    except RuntimeError as e:
        sys.exit(f"perfbench: {e}")

    ops = result["ops"]
    # every operation's record stays for inspection (and for re-measuring
    # perfbench/costs.json, see README.md)
    kept = build_dir / "results" / f"{a.workload}-seed{a.seed}-trace{a.trace}.json"
    kept.parent.mkdir(parents=True, exist_ok=True)
    shutil.copyfile(run_dir / "result.json", kept)
    attempted = len(ops)
    failures = [o for o in ops if o["failure"]]
    if a.trace:
        metrics, notes = per_layer(ops, result)
        metrics["failed_frac"] = len(failures) / attempted
        declared = PER_LAYER
    else:
        metrics, notes = end_to_end(ops, setup_s, rss_mb)
        declared = [(k, u) for k, u, _, _ in END_TO_END]

    print(f"perfbench {a.workload} seed={a.seed} trace={a.trace}: {attempted} operations, "
          f"{len(failures)} failed (failed_frac {len(failures) / attempted:.4g})")
    print(f"  input {data_dir}")
    print(f"  set-up phases (s): {' '.join(phases)}")
    for k, u in declared:
        note = f"  ({notes[k]})" if k in notes else ""
        print(f"  {k:<28} {fmt(metrics[k]):>12} {u}{note}")
    if a.workload == "lakehouse" and not a.trace:
        lat, lat_notes = class_latencies(ops)
        for k, v in lat.items():
            note = f"{lat_notes[k]}; " if k in lat_notes else ""
            print(f"  {k:<28} {fmt(v):>12} s  ({note}lakehouse only, not in the JSON)")
    for k, v in sorted(result["sentinel"].items()):
        if not a.trace:
            print(f"  {k:<28} {fmt(v):>12} s  (host sentinel)")
    if a.trace:
        for k in result["fs_missing"]:
            print(f"  {k:<28} {'missing':>12}  (stays 0 while bytes move: "
                  "the local filesystem bypasses Hadoop statistics)")
        print(f"  spans: {spans}")
    for o in failures:
        print(f"  FAILED {o['name']}: {o['failure']}")
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({
        "correct": not failures, "attempted": attempted, "failed": len(failures),
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in declared}}))


if __name__ == "__main__":
    main()
