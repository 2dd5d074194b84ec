#!/usr/bin/env python3
"""Codegen cache working set of the er_ingest benchmark, per steady op.

    python3 tools/codegen_working_set.py --scratch <dir> [--rev <commit>]
        [--seeds 2 3 4] [--exact-seed 2] [--max-entries N] [--phases]

Run from the root of a checkout. The tool never edits the checkout:

 1. It exports <rev> (default: the working tree, uncommitted changes to
    tracked files included, through `git stash create`) into
    <dir>/tree with `git archive`. Untracked files are not exported:
    `git add` them first. The copy's .bench_build/ survives between
    calls, so an unchanged tree is not recompiled.
 2. It patches the copy's perfbench/src/graftbench/Main.scala to log
    `OPSTART i` / `OPEND i` around each timed op.
 3. It writes <dir>/log4j2.properties, which sends the CodeGenerator
    logger and the markers to one file per run, each line prefixed with
    its thread's name.
 4. It runs `perfbench/run.py --workload er_ingest --trace 0` in the
    copy for BENCHMARK.json's run_seconds: once per --seeds seed at the
    default cache (or at --max-entries N, e.g. 0 for an unbounded cache,
    the ceiling probe), and once at --exact-seed with a cache of one entry and DEBUG
    sources, where every lookup compiles and logs its source.

It prints, per timed op (every timed op is steady: the store holds the
base batch), the compiles on the driver and on the executors and, for
the cache-of-one run, the distinct (class loader, source) entries the
op asks for, by class kind (with --phases, also by the materialization
each entry is first asked for in). A compile on a thread named
`Executor task launch ...` is the executor's loader; any other thread
is the driver's.
"""
import argparse
import collections
import json
import os
import re
import statistics
import subprocess
import sys
import tarfile
import io

MAIN_SCALA = "perfbench/src/graftbench/Main.scala"
LOOP_START = "      val s = System.nanoTime()\n      val err =\n"
LOOP_END = "      val dur = (System.nanoTime() - s) / 1e9\n"
MARKER = 'org.apache.logging.log4j.LogManager.getLogger("graftbench.Marker").info(s"%s $i")'
MATERIALIZE_SCALA = "src/main/scala/org/apache/spark/sql/graft/Materialize.scala"
MATERIALIZE_START = "  def localWithRows(df: DataFrame): (DataFrame, Long) = {\n"
# logs the first graft.* stack frame: the materialization that follows
PHASE_MARKER = ('    org.apache.logging.log4j.LogManager.getLogger("graftbench.Marker").info("PHASE " +\n'
                '      Thread.currentThread.getStackTrace.find(_.getClassName.startsWith("graft."))\n'
                '        .fold("?")(f => s"${f.getFileName}:${f.getLineNumber}"))\n')

LOG4J2 = """\
rootLogger.level = error
rootLogger.appenderRef.stderr.ref = console
appender.console.type = Console
appender.console.name = console
appender.console.target = SYSTEM_ERR
appender.console.layout.type = PatternLayout
appender.console.layout.pattern = %m%n
appender.cg.type = File
appender.cg.name = cg
appender.cg.fileName = ${sys:cg.log}
appender.cg.layout.type = PatternLayout
appender.cg.layout.pattern = @@@%t@@@%m%n
logger.cg.name = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
logger.cg.level = ${sys:cg.level:-info}
logger.cg.additivity = false
logger.cg.appenderRef.cg.ref = cg
logger.mk.name = graftbench.Marker
logger.mk.level = info
logger.mk.additivity = false
logger.mk.appenderRef.cg.ref = cg
"""

# the first generated class in a source names its kind
KIND = re.compile(r"\bclass (GeneratedIteratorForCodegenStage|Specific[A-Za-z]+)")


def git(*args):
    return subprocess.run(["git"] + list(args), check=True, stdout=subprocess.PIPE,
                          text=True).stdout.strip()


def export(rev, tree):
    """Extract `rev` into `tree`, replacing its sources but keeping .bench_build/."""
    commit = rev or git("stash", "create") or "HEAD"
    data = subprocess.run(["git", "archive", "--format=tar", commit], check=True,
                          stdout=subprocess.PIPE).stdout
    if os.path.isdir(os.path.join(tree, "src")):
        subprocess.run(["rm", "-rf", os.path.join(tree, "src"), os.path.join(tree, "perfbench")],
                       check=True)
    os.makedirs(tree, exist_ok=True)
    with tarfile.open(fileobj=io.BytesIO(data)) as t:
        t.extractall(tree)
    return commit


def patch_markers(tree):
    path = os.path.join(tree, MAIN_SCALA)
    src = open(path).read()
    if LOOP_START not in src or LOOP_END not in src:
        sys.exit("codegen_working_set: the timed loop in %s no longer has the expected "
                 "shape; update LOOP_START/LOOP_END" % MAIN_SCALA)
    src = src.replace(LOOP_START, "      %s\n%s" % (MARKER % "OPSTART", LOOP_START), 1)
    src = src.replace(LOOP_END, "%s      %s\n" % (LOOP_END, MARKER % "OPEND"), 1)
    with open(path, "w") as f:
        f.write(src)


def patch_phases(tree):
    path = os.path.join(tree, MATERIALIZE_SCALA)
    src = open(path).read()
    if MATERIALIZE_START not in src:
        sys.exit("codegen_working_set: %s no longer has the expected localWithRows "
                 "signature; update MATERIALIZE_START" % MATERIALIZE_SCALA)
    with open(path, "w") as f:
        f.write(src.replace(MATERIALIZE_START, MATERIALIZE_START + PHASE_MARKER, 1))


def run(tree, log4j, log, seed, extra):
    if os.path.exists(log):
        os.remove(log)
    with open(os.path.join(tree, "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]
    opts = ["-Dlog4j2.configurationFile=" + log4j, "-Dcg.log=" + log] + extra
    env = dict(os.environ, JAVA_TOOL_OPTIONS=" ".join(opts))
    r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "er_ingest",
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=tree, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    last = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else ""
    if r.returncode != 0 or not last.startswith("{"):
        sys.exit("codegen_working_set: benchmark run failed (seed %d):\n%s"
                 % (seed, r.stdout[-3000:]))
    return json.loads(last)


def parse(log):
    """Per timed op: its compiles per loader, and (loader, source, phase) for
    each DEBUG source; phase is the last PHASE marker before it, or "-"."""
    ops = collections.OrderedDict()
    cur = None
    phase = "-"
    entry = None  # (thread, [source lines]) of a DEBUG source being read

    def flush():
        if entry is not None and cur is not None:
            src = "\n".join(entry[1]).strip()
            if src:
                ops[cur]["sources"].append((loader(entry[0]), src, phase))

    with open(log, errors="replace") as f:
        for line in f:
            line = line.rstrip("\n")
            if not line.startswith("@@@"):
                if entry is not None:
                    entry[1].append(line)
                continue
            flush()
            entry = None
            _, thread, msg = line.split("@@@", 2)
            m = re.match(r"(OPSTART|OPEND) (\d+)$", msg)
            if m:
                cur = int(m.group(2)) if m.group(1) == "OPSTART" else None
                phase = "-"
                if cur is not None:
                    ops[cur] = {"compiles": collections.Counter(), "sources": []}
            elif msg.startswith("PHASE "):
                phase = msg[len("PHASE "):]
            elif cur is not None and msg.startswith("Code generated in"):
                ops[cur]["compiles"][loader(thread)] += 1
            elif cur is not None and msg.strip() == "":
                entry = (thread, [])
    flush()
    return ops


def loader(thread):
    return "executor" if thread.startswith("Executor task launch") else "driver"


def kind(src):
    m = KIND.search(src)
    return ("WholeStageCodegen" if m and m.group(1).startswith("GeneratedIterator")
            else m.group(1) if m else "other")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--scratch", required=True, help="directory for the copy, logs and config")
    ap.add_argument("--rev", default="", help="commit to measure (default: the working tree)")
    ap.add_argument("--seeds", type=int, nargs="*", default=[2, 3, 4],
                    help="seeds of the default-cache runs")
    ap.add_argument("--exact-seed", type=int, default=2,
                    help="seed of the cache-of-one run (-1: skip it)")
    ap.add_argument("--max-entries", type=int, default=None,
                    help="spark.sql.codegen.cache.maxEntries for the --seeds runs "
                         "(0: unbounded; default: Spark's)")
    ap.add_argument("--phases", action="store_true",
                    help="also patch the copy's Materialize.localWithRows to log its caller, "
                         "and split each op's entries by phase: a phase runs from one "
                         "materialization's start to the next (the last one also holds "
                         "the writes after it; '-' is what runs before the first)")
    args = ap.parse_args()

    scratch = os.path.abspath(args.scratch)
    tree = os.path.join(scratch, "tree")
    commit = export(args.rev, tree)
    patch_markers(tree)
    if args.phases:
        patch_phases(tree)
    log4j = os.path.join(scratch, "log4j2.properties")
    with open(log4j, "w") as f:
        f.write(LOG4J2)
    print("measuring %s in %s" % (commit, tree), flush=True)

    totals = []
    probe = [] if args.max_entries is None else [
        "-Dspark.sql.codegen.cache.maxEntries=%d" % args.max_entries]
    for seed in args.seeds:
        log = os.path.join(scratch, "cg-s%d.log" % seed)
        res = run(tree, log4j, log, seed, probe)
        per_op = [(o["compiles"]["driver"], o["compiles"]["executor"])
                  for o in parse(log).values()]
        totals += [d + e for d, e in per_op]
        print("seed %d%s: compiles per op (driver+executor) %s; correct=%s" % (
            seed, "" if not probe else " (maxEntries=%d)" % args.max_entries,
            ", ".join("%d+%d" % p for p in per_op), res["correct"]), flush=True)
    if totals:
        print("median compiles per steady op: %s" % statistics.median(totals))

    if args.exact_seed >= 0:
        log = os.path.join(scratch, "cg-exact-s%d.log" % args.exact_seed)
        run(tree, log4j, log, args.exact_seed,
            ["-Dcg.level=debug", "-Dspark.sql.codegen.cache.maxEntries=1"])
        for i, o in parse(log).items():
            first = {}  # (loader, source) -> the phase that first asks for it
            for ld, src, ph in o["sources"]:
                first.setdefault((ld, src), ph)
            by_kind = collections.Counter((ld, kind(src)) for ld, src in first)
            print("seed %d, cache of 1, op %d: %d entries (%d driver, %d executor) from %d "
                  "sources" % (args.exact_seed, i, len(first),
                               sum(1 for ld, _ in first if ld == "driver"),
                               sum(1 for ld, _ in first if ld == "executor"),
                               len({src for _, src in first})))
            for k, n in sorted(by_kind.items()):
                print("    %-9s %-28s %3d" % (k[0], k[1], n))
            if args.phases:
                by_phase = collections.OrderedDict()
                for (ld, src), ph in first.items():
                    by_phase.setdefault(ph, collections.Counter())[(ld, kind(src))] += 1
                for ph, c in by_phase.items():
                    print("  in %-44s %3d  %s" % (ph, sum(c.values()), ", ".join(
                        "%s %s %d" % (k[0][0], k[1], n) for k, n in sorted(c.items()))))


if __name__ == "__main__":
    main()
