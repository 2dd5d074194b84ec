#!/usr/bin/env python3
"""Benchmark of graft's public streaming data paths.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run compiles graft's sources
and the benchmark's Scala program (perfbench/src) with the Scala compiler shipped
in Spark's jars into .bench_build/; later runs reuse that build until a
source changes. Each run generates its inputs from the seed under
.bench_work/, runs one JVM (set-up, a closed loop timed for --seconds,
then output dumps), checks the outputs against the generator's planted
truth, and prints the full run record followed, on the last line, by
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics
with --trace 0, the per-layer metrics of the traced passes with
--trace 1. The full record also goes to .bench_results/.

Workloads, both closed loops with one writer:
  etl_ingest  attribute-record batches: read, typed projection, security
              marking, binning + bin sink, duplicate check against the
              committed keyed store, $set/$inc/$addToSet merge commit.
  er_ingest   document batches through the streaming ER store; every
              batch holds near-duplicates of stored documents.

Set-up runs SETUP_ROUNDS times in the JVM. A round starts a Spark
session, runs warm-up ops on throwaway state (etl_ingest: a batch every
round, into one store; er_ingest: a base and a batch, first round only)
and builds the state the ops read (er_ingest: the base batch's store;
the timed ops continue the last round's).

End-to-end metrics: records_per_s (records committed per second of
timed op time), latency_p50_ms (per op; a failed op counts as missing
every bound), setup_s (median set-up round; the first round counts from
JVM launch, input generation excluded) and live_heap_peak_mb (the
highest old-generation occupancy after full GCs, sampled after every
timed op once Spark's cleaner has freed the op's dropped blocks).
failed_ratio, checks_failed and latency_p90_ms (only with 100 or more
ops) are in the full record.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave nothing behind in the checkout's source tree
import gen  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
RESULTS = os.path.join(ROOT, ".bench_results")
RUN_LIMIT_S = 170

# Traffic settings, measured on 4 cores, where every op costs about 90 ms
# per Spark job whatever its size:
#  - etl_ingest: 8000 records a batch (~13 jobs, ~2-3 s); Zipf(1.1) keys
#    over 50k make the store grow every batch while most records hit
#    existing keys; 2% malformed numbers exercise the failure route; 3%
#    re-sent records exercise already-exists and $inc re-delivery. One
#    warm-up batch a set-up round, all into one store, so the later
#    rounds warm the path of an existing store.
#  - er_ingest: 100 documents a batch, a quarter of them variants of
#    stored roots, so every batch after the 100-document base runs the
#    cross-batch path (~64 jobs, ~5 s). Its warm-up series, a base and a
#    batch, costs two commits, so only the first round runs it.
# Three set-up rounds: the first costs ~10 s of JIT, and the median of
# three is a warm one. A 12 s window holds 4-6 etl_ingest ops; an
# er_ingest run times three ops, the least a run times. Each op's time
# varies far less within a run than between runs, so a longer window
# would not make runs steadier.
# Batch counts leave room for a program several times faster; a run that
# runs out of inputs stops early and says so in its record.
SETUP_ROUNDS = 3
ETL = dict(batch_records=8000, n_batches=16, n_warmup=SETUP_ROUNDS)
ER_INGEST = dict(base_docs=100, batch_docs=100, n_batches=12, n_warmup=1, variant_share=0.25)
# the untraced and the two traced passes each replay this many timed ops
MAX_TRACED_OPS = 2

# A named check of a known program defect. It counts in checks_failed
# while the defect stands, but does not mark the timed path incorrect.
KNOWN_DEFECT_CHECKS = {"etl_ingest.merge_addToSet_non_null_elements"}

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else ""
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail("no Spark jars with a Scala compiler found (set SPARK_HOME)")
    return os.path.join(jars, "*")


def build(jars):
    """Compile graft and the benchmark program into .bench_build/classes; returns the classpath."""
    srcs = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not srcs:
        fail("no graft sources under src/main/scala: run from the root of a graft checkout")
    srcs += sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    os.makedirs(BUILD, exist_ok=True)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    t = time.time()
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
         "-nowarn", "-d", tmp, "-classpath", jars, "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("compilation failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print("perfbench: built in %.1f s" % (time.time() - t), file=sys.stderr)
    return classes


def generate(workload, seed, work):
    """Write inputs; returns (manifest fields, truth)."""
    if workload == "etl_ingest":
        warm, batches, truth = gen.etl_ingest(seed, work, **ETL)
        return dict(warmup=warm, base=[], batches=batches), truth
    warm, base, batches, truth = gen.er_ingest(seed, work, **ER_INGEST)
    return dict(warmup=warm, base=[base], batches=batches), truth


def read_json_dir(path):
    rows = []
    for p in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(p) as f:
            rows.extend(json.loads(line) for line in f if line.strip())
    return rows


# ---- output checks: the program's outputs against the planted truth ----

def check(name, passed, detail=""):
    return {"name": name, "passed": bool(passed), "detail": detail}


def etl_checks(rec, truth, n_ops):
    fin = rec["finish"]
    batches = truth["batches"][:n_ops]
    # plain fold of the committed records: batches in commit order, within
    # a batch $set takes the highest seq; $inc sums; $addToSet unions
    want = {}
    committed = set()
    ae_want = []
    for b in batches:
        last = {}
        for key, seq, status, cls, amount, tags in b:
            if key not in last or seq > last[key][0]:
                last[key] = (seq, status, cls)
        for key, seq, status, cls, amount, tags in b:
            s = want.setdefault(key, {"status": None, "classification": None,
                                      "amount": 0, "n": 0, "tags": set()})
            s["amount"] += amount
            s["n"] += 1
            s["tags"].update(tags)
        for key, (_, status, cls) in last.items():
            want[key]["status"], want[key]["classification"] = status, cls
        keys = [r[0] for r in b]
        ae_want.append(len(keys) - len(set(keys) - committed))
        committed.update(keys)
    got = {}
    for r in read_json_dir(fin["state_dump"]):
        got[r["key"]] = {"status": r.get("status"), "classification": r.get("classification"),
                         "amount": r.get("amount"), "n": r.get("n"),
                         "tags": set(t for t in (r.get("tags") or []) if t is not None)}
    bad = [k for k in set(want) | set(got) if want.get(k) != got.get(k)]
    success = sum(len(b) for b in batches)
    return [
        check("etl_ingest.state_equals_fold", not bad,
              "%d keys, %d differ%s" % (len(want), len(bad),
                                        (", e.g. %s: want %s got %s" % (
                                            bad[0], want.get(bad[0]), got.get(bad[0]))) if bad else "")),
        check("etl_ingest.bin_count_total", fin["bin_count_total"] == success * gen.BINS_PER_RECORD,
              "got %d, want %d well-formed records x %d bins" % (
                  fin["bin_count_total"], success, gen.BINS_PER_RECORD)),
        check("etl_ingest.already_exists_routes", fin["already_exists"] == ae_want,
              "got %s, want %s" % (fin["already_exists"], ae_want)),
    ]


def er_ingest_checks(rec, truth, n_ops):
    corpus = truth["corpus"]
    ids = truth["base"] + [i for b in truth["batches"][:n_ops] for i in b]
    want = corpus.labels(ids)
    got = {r["node"]: r["label"] for r in read_json_dir(rec["finish"]["labels_dump"])}
    variants = [i for i in ids if corpus.cluster[i] != i]
    split = [i for i in variants if got.get(i) is None or got.get(i) != got.get(corpus.cluster[i])]
    # an unplanted merge: a label shared by documents of different clusters
    clusters = {}
    for i, label in got.items():
        clusters.setdefault(label, set()).add(corpus.cluster.get(i, i))
    merged = [l for l, roots in clusters.items() if len(roots) > 1]
    return [
        check("er_ingest.variants_share_root_label", not split and set(got) == set(ids),
              "%d documents (%d variants), %d output rows, %d variants split from their root" % (
                  len(ids), len(variants), len(got), len(split))),
        check("er_ingest.no_unplanted_merge", not merged,
              "%d labels span more than one planted cluster" % len(merged)),
        check("er_ingest.labels_equal_planted", got == want,
              "%d of %d labels differ from the least id of the planted cluster" % (
                  sum(1 for i in ids if got.get(i) != want[i]), len(ids))),
    ]


CHECKS = {"etl_ingest": etl_checks, "er_ingest": er_ingest_checks}


def op_records(truth, i):
    """Records an op commits: well-formed records, or documents."""
    return len(truth["batches"][i])


# ---- metrics -----------------------------------------------------------

def percentile(xs, q):
    """Nearest-rank percentile; failed ops enter as +inf."""
    s = sorted(xs)
    k = max(0, min(len(s) - 1, int(-(-q * len(s) // 100)) - 1))
    return s[k]


def end_to_end(rec, truth, launch, gen_s):
    ops = rec["ops"]
    ok = [o for o in ops if o["ok"]]
    records = sum(op_records(truth, o["i"]) for o in ok)
    lat = [o["dur_s"] * 1e3 if o["ok"] else float("inf") for o in ops]
    ends = [launch] + [t / 1e3 for t in rec["setup_round_end_epoch_ms"]]
    rounds = [b - a for a, b in zip(ends, ends[1:])]
    m = {
        "records_per_s": (records / rec["timed_op_s"], "records/s"),
        "latency_p50_ms": (statistics.median(lat), "ms"),
        "setup_s": (statistics.median(rounds), "s"),
        "live_heap_peak_mb": (rec["old_gen_peak_mb"], "MB"),
    }
    notes = {"input_generation_s": gen_s, "ops": len(ops), "records": records,
             "setup_rounds_s": rounds,
             "launch_to_first_op_s": rec["first_op_epoch_ms"] / 1e3 - launch,
             "setup_phases_s": rec["setup_phases_s"],
             "latency_p90_ms": percentile(lat, 90) if len(ops) >= 100 else
             "omitted: %d op samples, fewer than 100" % len(ops)}
    # a failed op counts as missing every latency bound
    m = {k: (v if math.isfinite(v) else None, u) for k, (v, u) in m.items()}
    return m, notes


SPAN_COUNTERS = ["calls", "self_s", "rows_out", "jobs", "stages", "tasks", "cpu_s",
                 "shuffle_bytes", "spill_bytes", "planning_ms"]
LAYERS = ["sources", "functions", "operators", "streaming"]


def span_table(spans):
    """Per span name: the counters summed over calls; self time excludes children."""
    child = {}
    for s in spans:
        if s["parent"] >= 0:
            child[s["parent"]] = child.get(s["parent"], 0.0) + s["end_s"] - s["start_s"]
    out = {}
    for s in spans:
        t = out.setdefault(s["name"], dict.fromkeys(SPAN_COUNTERS, 0))
        t["calls"] += 1
        t["self_s"] += s["end_s"] - s["start_s"] - child.get(s["id"], 0.0)
        for c in SPAN_COUNTERS[2:]:
            t[c] += s[c]
    return out


def per_layer(rec, truth):
    tr = rec["trace"]
    k = tr["ops"]
    a = [s for s in tr["spans"] if s["pass"] == "traceA"]
    b = [s for s in tr["spans"] if s["pass"] == "traceB"]
    spans = span_table(a)
    layers = {l: dict.fromkeys(SPAN_COUNTERS, 0) for l in LAYERS}
    for name, t in spans.items():
        layer = name.split(".")[0]
        if layer in layers:
            for c in SPAN_COUNTERS:
                layers[layer][c] += t[c]
    op_s = spans["op"]["self_s"] + sum(t["self_s"] for n, t in spans.items() if n != "op")

    # tracing overhead: the same first k ops, untraced pass vs traced pass A
    recs = sum(op_records(truth, i) for i in range(k))
    untraced = recs / sum(tr["untraced_op_s"])
    traced = recs / op_s

    # counter repeatability: pass A vs pass B, per span and op
    def key(s):
        return (s["name"], s["op"], tuple(s[c] for c in ("jobs", "stages", "tasks", "shuffle_bytes")))
    ka = sorted(key(s) for s in a)
    kb = sorted(key(s) for s in b)
    mismatch = [{"span": x[0], "op": x[1], "traceA": x[2], "traceB": y[2]}
                for x, y in zip(ka, kb) if x != y]
    if len(ka) != len(kb):
        mismatch.append({"span": "*", "detail": "span counts %d vs %d" % (len(ka), len(kb))})
    # counters that differ in any span, by name
    differ = sorted({c for x, y in zip(ka, kb) for c, u, v in
                     zip(("jobs", "stages", "tasks", "shuffle_bytes"), x[2], y[2]) if u != v})

    # the per-layer metrics an optimization is most likely to move; every
    # span's full counter set is in the record
    m = {}
    for l in LAYERS:
        t = layers[l]
        for c in ("jobs", "stages", "tasks"):
            m["%s.%s" % (l, c)] = (t[c], "count")
        for c in ("shuffle_bytes", "spill_bytes"):
            m["%s.%s" % (l, c)] = (t[c], "bytes")
        m["%s.busy_share" % l] = (t["self_s"] / op_s, "ratio")
    for c, u in (("self_s", "s"), ("cpu_s", "s"), ("planning_ms", "ms")):
        m["streaming.%s" % c] = (layers["streaming"][c], u)
    for name in ("streaming.applyMergeBatch", "streaming.applyErBatch",
                 "operators.DuplicateCheck.route", "operators.Binning.binAndCount"):
        t = spans.get(name, dict.fromkeys(SPAN_COUNTERS, 0))
        for c in ("jobs", "stages", "tasks", "shuffle_bytes"):
            m["%s.%s" % (name, c)] = (t[c], "bytes" if c == "shuffle_bytes" else "count")
    m["spark.jobs"] = (sum(s["jobs"] for s in a), "count")
    m["spark.tasks"] = (sum(s["tasks"] for s in a), "count")
    m["spark.cpu_s"] = (sum(s["cpu_s"] for s in a), "s")
    m["spark.core_utilization"] = (rec["spark.core_utilization"], "ratio")
    st = tr["state"]["traceA"]
    m["streaming.state_bytes"] = (st["streaming.state_bytes"], "bytes")

    # input properties and the harness's own health: diagnostics, not metrics
    detail = {
        "traced_ops": k,
        "spans": {n: t for n, t in sorted(spans.items())},
        "layers": layers,
        "streaming.state_rows": st["streaming.state_rows"],
        "records_per_s_untraced_pass": untraced,
        "records_per_s_traced": traced,
        "trace_overhead": 1.0 - traced / untraced,
        "counter_repeatability": {"repeats_exactly": not mismatch, "counters_not_repeating": differ,
                                  "mismatches": mismatch[:20]},
        "state_traceB": tr["state"]["traceB"],
        "job_call_sites": {s["name"]: {} for s in a if s["name"].startswith("streaming.")},
    }
    for s in a:
        if s["name"].startswith("streaming."):
            sites = detail["job_call_sites"][s["name"]]
            for site, n in s["job_call_sites"].items():
                sites[site] = sites.get(site, 0) + n
    ae = rec["finish"].get("already_exists")
    if ae:
        detail["operators.DuplicateCheck.already_exists_ratio"] = (
            sum(ae) / sum(op_records(truth, i) for i in range(len(ae))))
    return m, detail


def run_jvm(classes, jars, manifest_path, record_path, log_path, deadline):
    heap = "2g"
    cmd = (["java", "-Xms" + heap, "-Xmx" + heap, "-XX:-UsePerfData", "-Djava.io.tmpdir=" + os.path.dirname(log_path),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in JDK17_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", classes + os.pathsep + jars, "graftbench.Main", manifest_path, record_path])
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            rc = p.wait(timeout=max(10.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = None
    return rc


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(CHECKS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    jars = spark_jars()
    classes = build(jars)
    # a run that had to build first may take longer; the run itself may not
    deadline = time.time() + RUN_LIMIT_S

    work = os.path.join(WORK, "%s-s%d-t%d-%d" % (args.workload, args.seed, args.trace, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "in"))
    try:
        t = time.time()
        fields, truth = generate(args.workload, args.seed, os.path.join(work, "in"))
        gen_s = time.time() - t
        manifest = dict(workload=args.workload, seconds=args.seconds, trace=bool(args.trace),
                        cores=len(os.sched_getaffinity(0)), work=work, setup_rounds=SETUP_ROUNDS,
                        max_traced_ops=MAX_TRACED_OPS, **fields)
        mpath = os.path.join(work, "manifest.json")
        with open(mpath, "w") as f:
            json.dump(manifest, f)
        rpath = os.path.join(work, "record.json")
        os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
        launch = time.time()
        rc = run_jvm(classes, jars, mpath, rpath, os.path.join(work, "tmp", "jvm.log"), deadline)
        if rc != 0 or not os.path.exists(rpath):
            tail = open(os.path.join(work, "tmp", "jvm.log")).read()[-3000:]
            fail("benchmark JVM %s\n%s" % ("timed out" if rc is None else "exited %s" % rc, tail))
        with open(rpath) as f:
            rec = json.load(f)

        n_ops = len(rec["ops"])
        checks = rec["finish"]["checks"] + CHECKS[args.workload](rec, truth, n_ops)
        failed_ops = sum(1 for o in rec["ops"] if not o["ok"])
        e2e, notes = end_to_end(rec, truth, launch, gen_s)
        full = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "cores": rec["cores"],
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
            "failed_ratio": failed_ops / n_ops,
            "checks_failed": sum(1 for c in checks if not c["passed"]),
            "checks": checks, "notes": notes, "exhausted_inputs": rec["exhausted"],
            "op_latency_ms": [round(o["dur_s"] * 1e3, 3) for o in rec["ops"]],
            "op_old_gen_after_gc_mb": [round(o["old_gen_after_gc_mb"], 1) for o in rec["ops"]],
            "op_heap_sample_s": [round(o["heap_sample_s"], 2) for o in rec["ops"]],
            "finish_s": rec["finish_s"],
            "op_errors": [o["error"] for o in rec["ops"] if not o["ok"]][:5],
        }
        correct = all(c["passed"] for c in checks if c["name"] not in KNOWN_DEFECT_CHECKS)
        if args.trace:
            layer, detail = per_layer(rec, truth)
            full["per_layer"] = {k: {"value": v, "unit": u} for k, (v, u) in layer.items()}
            full["trace_detail"] = detail
            metrics = full["per_layer"]
        else:
            metrics = full["metrics"]
        os.makedirs(RESULTS, exist_ok=True)
        with open(os.path.join(RESULTS, "%s-s%d-t%d.json" % (args.workload, args.seed, args.trace)),
                  "w") as f:
            json.dump(full, f, indent=1, default=str)
        print(json.dumps(full, default=str))
        print(json.dumps({"correct": correct, "attempted": n_ops, "failed": failed_ops,
                          "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
