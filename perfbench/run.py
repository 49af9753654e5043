#!/usr/bin/env python3
"""Benchmark of the graft Spark engine: one command per workload run.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (perfbench/build.sbt); later runs reuse the
build until a source file changes. Each run then

  * makes its inputs from the seed: the committed sf0.01 tables
    (perfbench/data) for the query workloads, whose per-pass query order the
    seed sets, and a seeded amplification of their documents and embeddings
    for `curation`;
  * starts one JVM with one Spark session at local[<cores>] and runs the
    harness (perfbench/src): set-up with an untimed warm-up pass, which is
    also the check pass, then timed passes for S seconds (at least five);
  * diffs every oracle-backed output of the warm-up pass against DuckDB
    with tools/check_oracle.py, and checks that every call's output digest
    (and curation's per-stage outputs) is the same in every pass;
  * prints a details line, then one JSON result line: end-to-end metrics
    with --trace 0, per-layer metrics from the traced passes with --trace 1.

The raw records (every call, and with --trace 1 the span tree) are kept in
perfbench/out/. A call that throws or whose output is wrong counts as
failed and gives no latency sample.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
DATA = BENCH / "data"
OUT = BENCH / "out"
WORK = BENCH / "work"
CLASSPATH = BENCH / "target" / "bench-classpath.txt"
STAMP = BENCH / "target" / "bench-stamp.txt"

WORKLOADS = ("relational_streams", "curation")
# curation corpus: this many seeded copies of the base documents
CURATION_COPIES = 1
# wall budget (s) of the harness JVM; a run must end within 180 s
JVM_BUDGET_S = 150
HEAP = "3g"

# Spark on JDK 17 outside spark-submit (same list as the root build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

END_TO_END = {"wall_s": "s", "setup_s": "s", "heap_mb": "MB"}  # name -> unit
BUILD_LAYERS = ("queries", "freshkart", "operators", "streaming")
STAGES = ("gates", "dedup", "semdedup", "pack")
# summed per traced pass, reported per pass
PER_PASS_COUNTERS = (
    "build.jobs", "spark.jobs", "spark.stages", "spark.tasks", "spark.tasks_failed",
    "spark.idle_s", "spark.task_run_s", "spark.task_cpu_s", "spark.gc_s",
    "shuffle.write_mb", "shuffle.read_mb", "shuffle.fetch_wait_s", "shuffle.spill_mb",
    "plans.analysis_s", "plans.optimization_s", "plans.planning_s",
    "streaming.batches", "streaming.add_batch_s", "streaming.query_planning_s",
    "streaming.wal_commit_s", "streaming.commit_offsets_s", "streaming.latest_offset_s",
    "streaming.state_commit_s", "streaming.state_rows",
    "cache.plans_leaked", "cache.rdds_leaked", "cache.leaked_mb",
)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ---- build ------------------------------------------------------------------

def source_hash():
    h = hashlib.sha1()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for base in (ROOT / "src" / "main", BENCH / "src"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build(deadline):
    digest = source_hash()
    if CLASSPATH.exists() and STAMP.exists() and STAMP.read_text() == digest:
        return CLASSPATH.read_text().strip()
    log("building engine and harness with sbt")
    OUT.mkdir(exist_ok=True)
    with open(OUT / "build.log", "w") as blog:
        r = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                      cwd=BENCH, stdout=blog, timeout=max(1, deadline - time.time()))
    if r != 0:
        tail = (OUT / "build.log").read_text().splitlines()[-30:]
        fail("build failed:\n" + "\n".join(tail), 3)
    STAMP.write_text(digest)
    return CLASSPATH.read_text().strip()


def run_child(cmd, cwd, stdout, timeout, env=None):
    """Runs cmd in its own process group; on timeout, or when this process
    is interrupted or terminated, kills the whole group and waits for it,
    so nothing outlives the run."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=subprocess.STDOUT,
                         env=env, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        return None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


# ---- inputs -----------------------------------------------------------------

def make_corpus(seed, out):
    """Curation input: CURATION_COPIES copies of the base documents and
    embeddings. Copy k offsets ids by k*1e6, word-shuffles each text and
    permutes the embedding dimensions, with the seed in every RNG key (the
    amplification scheme of tools/make_sf1.py), so copies are ordinary
    corpus points rather than verbatim duplicates, and every seed gives
    another corpus of the same size."""
    import duckdb
    out.mkdir(parents=True, exist_ok=True)
    con = duckdb.connect()
    docs = con.execute(f"SELECT doc_id, text, lang, source FROM '{DATA}/documents.parquet' "
                       "ORDER BY doc_id").fetchall()
    rows = []
    for k in range(CURATION_COPIES):
        for doc_id, text, lang, source in docs:
            words = text.split(" ")
            random.Random(f"{seed}:{k}:{doc_id}").shuffle(words)
            text = " ".join(words)
            rows.append((doc_id + k * 1000000, text, lang, source, len(text)))
    con.execute("CREATE TABLE d(doc_id BIGINT, text VARCHAR, lang VARCHAR, "
                "source VARCHAR, n_chars BIGINT)")
    con.executemany("INSERT INTO d VALUES (?,?,?,?,?)", rows)
    con.execute(f"COPY (SELECT * FROM d ORDER BY doc_id) TO '{out}/documents.parquet' "
                "(FORMAT PARQUET, ROW_GROUP_SIZE 512)")
    embs = con.execute(f"SELECT vec_id, embedding, label FROM '{DATA}/embeddings.parquet' "
                       "ORDER BY vec_id").fetchall()
    dim = len(embs[0][1])
    erows = []
    for k in range(CURATION_COPIES):
        perm = list(range(dim))
        random.Random(f"emb:{seed}:{k}").shuffle(perm)
        for vec_id, emb, label in embs:
            erows.append((vec_id + k * 1000000, [emb[i] for i in perm], label))
    con.execute("CREATE TABLE e(vec_id BIGINT, embedding FLOAT[], label INTEGER)")
    con.executemany("INSERT INTO e VALUES (?,?,?)", erows)
    con.execute(f"COPY (SELECT * FROM e ORDER BY vec_id) TO '{out}/embeddings.parquet' "
                "(FORMAT PARQUET, ROW_GROUP_SIZE 512)")
    return {"docs": len(rows), "text_mb": sum(len(r[1].encode()) for r in rows) / 1e6,
            "embeddings": len(erows)}


# ---- metrics ----------------------------------------------------------------

def tail(values):
    """The highest percentile that leaves at least ten samples above it:
    the value with exactly ten larger ones (fewer than 21 samples: the
    largest). Returns (value, percentile, samples)."""
    s = sorted(values)
    n = len(s)
    if n < 21:  # that percentile would not lie above the median
        return s[-1], 100.0, n
    return s[n - 11], 100.0 * (n - 10) / n, n


def judge(raw, oracle_fail):
    """Marks every call failed that threw, or whose output differs from the
    DuckDB oracle, from its warm-up output, or (rows-only query) is empty."""
    oracles = set(raw.get("oracles", []))
    ref = {c["name"]: c for c in raw["passes"][0]["calls"]}
    failures = []
    for p in raw["passes"]:
        for c in p["calls"]:
            r = ref.get(c["name"])
            why = None
            if not c["ok"]:
                why = c["err"]
            elif c["name"] in oracle_fail:
                why = "oracle: " + oracle_fail[c["name"]]
            elif r is None or not r["ok"]:
                why = "no reference: warm-up call failed"
            elif (c["rows"], c["digest"], c["outputs"]) != (r["rows"], r["digest"], r["outputs"]):
                why = "output differs from the warm-up pass"
            elif raw["workload"] != "curation" and c["name"] not in oracles and c["rows"] == 0:
                why = "rows-only query returned no rows"
            c["failed"] = why is not None
            if why:
                failures.append({"pass": p["index"], "kind": p["kind"], "name": c["name"],
                                 "why": why})
    return failures


def end_to_end(raw):
    timed = [p for p in raw["passes"] if p["kind"] == "timed"]
    check = [p for p in raw["passes"] if p["kind"] == "warmup"]
    lat = [c["wall_s"] for p in timed for c in p["calls"] if not c["failed"]]
    heaps = [c["heap_mb"] for p in check for c in p["calls"] if c["heap_mb"] >= 0]
    if not lat:
        fail("no timed call succeeded", 6)
    t, pct, n = tail(lat)
    # a pass's wall time from each call's fastest timed run: the host's CPU
    # steal comes in bursts of seconds to minutes that can slow any pass
    # by half or more, and a call is rarely caught in one on every pass
    best = {}
    for p in timed:
        for c in p["calls"]:
            if not c["failed"]:
                best[c["name"]] = min(best.get(c["name"], c["wall_s"]), c["wall_s"])
    m = {
        "wall_s": sum(best.values()),
        "setup_s": raw["setup"]["session_s"] + raw["setup"]["warmup_s"],
        "heap_mb": max(heaps),
    }
    samples = {"wall_s": len(timed), "query_p50_s": len(lat), "query_tail_s": n,
               "setup_s": 1, "heap_mb": len(heaps)}
    # printed, not gated: a run makes 20-25 timed calls, too few for a steady
    # median or tail of call latency
    return m, samples, {"query_p50_s": statistics.median(lat), "query_tail_s": t,
                        "query_tail_percentile": round(pct, 2),
                        "pass_median_s": statistics.median(p["wall_s"] for p in timed)}


def per_layer(raw, cores):
    timed = [p for p in raw["passes"] if p["kind"] == "timed"]
    traced = [p for p in raw["passes"] if p["kind"] == "traced"]
    n = len(traced)
    calls = [c for p in traced for c in p["calls"]]
    m = {}
    for layer in BUILD_LAYERS:
        m[f"{layer}.build_s"] = sum(c["build_s"] for c in calls if c["layer"] == layer) / n
    m["exec.s"] = sum(c["exec_s"] for c in calls) / n
    for k in PER_PASS_COUNTERS:
        m[k] = sum(c["counters"].get(k, 0.0) for c in calls) / n
    call_wall = sum(c["wall_s"] for c in calls)
    m["spark.core_util"] = m["spark.task_run_s"] * n / (call_wall * cores) if call_wall else 0.0
    for s in STAGES:
        m[f"pipeline.{s}_s"] = sum(c["wall_s"] for c in calls if c["name"] == s) / n
    m["setup.session_s"] = raw["setup"]["session_s"]
    m["setup.warmup_s"] = raw["setup"]["warmup_s"]
    m["setup.cold_build_s"] = raw["setup"]["cold_build_s"]
    untraced = statistics.median(p["wall_s"] for p in timed)
    m["trace.overhead_frac"] = statistics.median(p["wall_s"] for p in traced) / untraced - 1
    return m


UNITS = {"_s": "s", "_mb": "MB", "_frac": "ratio", "core_util": "ratio", "exec.s": "s"}


def unit_of(name):
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


# ---- main -------------------------------------------------------------------

def main():
    # SIGTERM unwinds like Ctrl-C, so run_child stops the JVM or sbt
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    start = time.time()

    needed = [ROOT / "build.sbt", ROOT / "src" / "main" / "scala",
              ROOT / "tools" / "check_oracle.py", ROOT / "fixtures", DATA / "lineitem.parquet"]
    missing = [str(p.relative_to(ROOT)) for p in needed if not p.exists()]
    if missing:
        fail(f"not a checkout of the engine (missing: {', '.join(missing)})")
    os.chdir(ROOT)  # fixtures resolve against the working directory
    if not shutil.which("java") or not shutil.which("sbt"):
        fail("java and sbt must be on PATH")

    classpath = build(start + 880)
    OUT.mkdir(exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = WORK / f"{tag}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        return measure(args, classpath, work, tag)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(args, classpath, work, tag):
    data = work / "data"
    shutil.copytree(DATA, data)  # queries may write next to their inputs
    inputs = {"tables": "sf0.01", "lineitem_rows": 60000, "events_rows": 10000,
              "documents": 500, "embeddings": 500}
    corpus = work / "corpus"
    if args.workload == "curation":
        inputs = make_corpus(args.seed, corpus)
    for d in ("tmp", "spark-local", "check"):
        (work / d).mkdir(parents=True)
    raw_path = work / "raw.json"
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={work / 'tmp'}", f"-Dspark.local.dir={work / 'spark-local'}",
            f"-Dderby.system.home={work}", f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
            "-cp", classpath, "perfbench.Harness",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", str(data), "--corpus", str(corpus),
            "--check-out", str(work / "check"), "--out", str(raw_path)]
    jvm_log = OUT / f"{tag}.log"
    launched = time.time()
    with open(jvm_log, "w") as jl:
        rc = run_child(cmd, cwd=ROOT, stdout=jl, timeout=JVM_BUDGET_S)
    if rc != 0 or not raw_path.exists():
        tail_lines = jvm_log.read_text().splitlines()[-40:]
        fail(f"harness {'timed out' if rc is None else f'exited {rc}'}; log {jvm_log}:\n"
             + "\n".join(tail_lines), 4)
    jvm_s = time.time() - launched
    raw = json.loads(raw_path.read_text())

    oracle_fail, oracle_ok = {}, 0
    oracles = json.loads((work / "check" / "oracle_sql.json").read_text())
    raw["oracles"] = sorted(oracles)
    if oracles:
        r = subprocess.run([sys.executable, str(ROOT / "tools" / "check_oracle.py"), str(data),
                            str(work / "check")], capture_output=True, text=True, timeout=20)
        for line in r.stdout.splitlines():
            if line.startswith("OK "):
                oracle_ok += 1
            elif line.startswith("FAIL "):
                name, _, why = line[5:].partition(":")
                oracle_fail[name.strip()] = why.strip()
        if oracle_ok + len(oracle_fail) != len(oracles):
            fail("oracle check did not report every query:\n" + r.stdout + r.stderr, 5)

    failures = judge(raw, oracle_fail)
    cores = raw["cores"]
    measured = [c for p in raw["passes"] if p["kind"] in ("timed", "traced") for c in p["calls"]]
    attempted = len(measured)
    failed = sum(c["failed"] for c in measured)
    e2e, samples, extra = end_to_end(raw)
    details = {
        "workload": args.workload, "seed": args.seed, "cores": cores,
        "master": f"local[{cores}]", "shuffle_partitions": raw["shuffle_partitions"],
        "heap_max_mb": round(raw["heap_max_mb"]), "inputs": inputs,
        "calls_per_pass": len(raw["passes"][0]["calls"]),
        "settle_passes": sum(p["kind"] == "settle" for p in raw["passes"]),
        "timed_passes": samples["wall_s"], "samples": samples, **extra,
        "oracle_checked": len(oracles), "oracle_failed": sorted(oracle_fail),
        "failed_frac": failed / attempted, "failures": failures[:20],
        "jvm_s": round(jvm_s, 2),
    }
    if args.workload == "curation":
        details["docs_per_s"] = inputs["docs"] / e2e["wall_s"]
    if args.trace:
        metrics = per_layer(raw, cores)
        units = {k: unit_of(k) for k in metrics}
    else:
        metrics, units = e2e, END_TO_END
    raw["details"] = details
    raw["metrics"] = metrics
    (OUT / f"{tag}.json").write_text(json.dumps(raw))
    print(json.dumps(details))
    print(json.dumps({
        "correct": not failures and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
