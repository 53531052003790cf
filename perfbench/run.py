#!/usr/bin/env python3
"""graft benchmark launcher.

Builds graft and the benchmark from source with the Scala compiler that
ships in Spark's jars, then runs one workload in a fresh JVM:

    python3 perfbench/run.py --workload metric-store --seed 1 --seconds 20 --trace 0

The last line of standard output is the JSON result. `--bless` instead
regenerates perfbench/expected.tsv and perfbench/query_times.tsv from the
current code (see README.md).
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data", "sf0.01")
EXPECTED = os.path.join(HERE, "expected.tsv")
QUERY_TIMES = os.path.join(HERE, "query_times.tsv")
WORKLOADS = ("metric-store", "series-analytics", "curation-pipeline")
DEADLINE_S = 175
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """$SPARK_HOME/jars, else the jars of a spark-submit on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        exe = os.path.join(d, "spark-submit")
        if os.path.isfile(exe):
            homes.append(os.path.dirname(os.path.dirname(os.path.realpath(exe))))
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if os.path.isdir(jars) and any(f.startswith("scala-compiler") for f in os.listdir(jars)):
            return jars
    die("no Spark jars with a Scala compiler found; set SPARK_HOME")


def sources():
    lib = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(lib):
        die(f"graft sources not found under {lib}")
    out = []
    for base in (lib, os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(jars):
    """Compile graft + benchmark once per source tree; returns the classes dir."""
    srcs = sources()
    h = hashlib.sha1()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    target = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    target = target if os.path.isabs(target) else os.path.join(ROOT, target)
    classes = os.path.join(target, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(classes, ".complete")):
        return classes
    t0 = time.monotonic()
    tmp = f"{classes}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(jars, "*")
    try:
        r = subprocess.run(
            ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
             "-nowarn",
             "-d", tmp, "-classpath", cp, "@" + argfile],
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        shutil.rmtree(tmp, ignore_errors=True)
        die("build failed")
    os.remove(argfile)
    open(os.path.join(tmp, ".complete"), "w").close()
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    print(f"perfbench: compiled {len(srcs)} sources in {time.monotonic() - t0:.1f} s",
          file=sys.stderr)
    return classes


def java_cmd(classes, jars, run_dir, main_args):
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", "-XX:-UsePerfData", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={run_dir}/tmp",
             "-Dspark.ui.enabled=false"] + opens +
            ["-cp", classes + os.pathsep + os.path.join(jars, "*"), "perfbench.Main"] +
            main_args)


def run_jvm(cmd, run_dir, timeout, log):
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "w") as err:
        try:
            r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                               timeout=timeout, cwd=run_dir)
        except subprocess.TimeoutExpired:
            die(f"run exceeded {timeout:.0f} s")
    if r.returncode != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        die(f"JVM exited with {r.returncode}")
    return r.stdout


def layers_from_source():
    """query name -> graft module that implements it, read from SparkEntry."""
    src = open(os.path.join(ROOT, "src/main/scala/graft/SparkEntry.scala")).read()
    body = src[src.index("def queries"):src.index("def oracleSql")]
    mods = ["Tsdb", "Analytics", "Dedup", "Similarity", "TextAnalysis", "Curation",
            "Multimodal", "TokenizerStore"]
    out = {}
    for entry in re.split(r'\n    "', body)[1:]:
        name = entry.split('"')[0]
        m = re.search(r"\b(" + "|".join(mods) + r")\.", entry)
        mod = m.group(1) if m else "unknown"
        out[name] = "TextAnalysis" if mod == "TokenizerStore" else mod
    return out


def query_list(workload):
    return os.path.join(HERE, "queries", workload + ".txt")


def read_tsv(path):
    with open(path) as f:
        return [l.rstrip("\n").split("\t") for l in f if l.strip() and not l.startswith("#")]


# Query lists: for each graft module of the workload, its heaviest queries
# by alone-time in query_times.tsv, heaviest first, until they make up
# this share of the module's summed time.
SERIES_MODULES = ("Tsdb", "Analytics")
LIST_SHARE = {"series-analytics": 0.12, "curation-pipeline": 0.05}


def choose():
    """Rewrite queries/<workload>.txt from query_times.tsv and print each
    list's share of its modules' time as a markdown table."""
    times = [(r[0], r[1], float(r[2])) for r in read_tsv(QUERY_TIMES)]
    print("| workload | module | queries run | seconds run / all (alone) | share |")
    print("| --- | --- | --- | --- | --- |")
    for w, share in LIST_SHARE.items():
        mine = [t for t in times if (t[1] in SERIES_MODULES) == (w == "series-analytics")]
        chosen, run_all, all_all = [], 0.0, 0.0
        for m in sorted({t[1] for t in mine}):
            qs = sorted((t for t in mine if t[1] == m), key=lambda t: -t[2])
            total = sum(t[2] for t in qs)
            run_s, k = 0.0, 0
            while k < len(qs) and run_s < share * total:
                run_s += qs[k][2]
                k += 1
            chosen += [t[0] for t in qs[:k]]
            run_all, all_all = run_all + run_s, all_all + total
            print(f"| {w} | {m} | {k} / {len(qs)} | {run_s:.2f} / {total:.2f} | "
                  f"{run_s / total:.2f} |")
        print(f"| {w} | all | {len(chosen)} / {len(mine)} | {run_all:.2f} / {all_all:.2f} | "
              f"{run_all / all_all:.2f} |")
        with open(query_list(w), "w") as f:
            f.write(f"# {w}: per module, the heaviest queries in query_times.tsv until\n"
                    f"# they make up {share:.0%} of the module's time "
                    "(written by `python3 perfbench/run.py --choose`)\n")
            f.write("".join(q + "\n" for q in sorted(chosen)))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--bless", action="store_true",
                    help="regenerate expected.tsv and query_times.tsv from the current code")
    ap.add_argument("--choose", action="store_true",
                    help="rewrite the query lists from query_times.tsv")
    a = ap.parse_args()
    if a.choose:
        choose()
        return
    # a TERM unwinds through subprocess.run, which kills and reaps the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not a.bless and not a.workload:
        ap.error("--workload is required")
    jars = spark_jars()
    classes = build(jars)
    # the run's deadline starts after the build: only a tree's first run compiles
    t0 = time.monotonic()
    cpus = len(os.sched_getaffinity(0))
    tag = "bless" if a.bless else f"{a.workload}-seed{a.seed}-trace{a.trace}"
    run_dir = os.path.join(ROOT, ".bench_run", f"{tag}-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    try:
        common = ["--cpus", str(cpus), "--data", DATA, "--run-dir", run_dir]
        budget = DEADLINE_S - (time.monotonic() - t0)
        if a.bless:
            out = os.path.join(run_dir, "bless.tsv")
            times = os.path.join(run_dir, "times.tsv")
            run_jvm(java_cmd(classes, jars, run_dir, common + ["--bless", out, "--times", times]),
                    run_dir, 3600, os.path.join(run_dir, "jvm.stderr"))
            layer = layers_from_source()
            with open(out) as f, open(EXPECTED, "w") as g:
                g.write("# query\tgraft module\trows\tchecksum "
                        "(written by `python3 perfbench/run.py --bless`)\n")
                for line in f:
                    name, rows, checksum = line.rstrip("\n").split("\t")
                    g.write(f"{name}\t{layer.get(name, 'unknown')}\t{rows}\t{checksum}\n")
            with open(times) as f, open(QUERY_TIMES, "w") as g:
                g.write("# query\tgraft module\tseconds alone at full output, faster of two "
                        f"(written by `python3 perfbench/run.py --bless` on {cpus} cores)\n")
                for line in f:
                    name, secs = line.rstrip("\n").split("\t")
                    g.write(f"{name}\t{layer.get(name, 'unknown')}\t{secs}\n")
            print(f"wrote {EXPECTED} and {QUERY_TIMES}")
            return
        out_prefix = os.path.join(ROOT, ".bench_out", tag)
        stdout = run_jvm(java_cmd(classes, jars, run_dir, common + [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--expected", EXPECTED, "--out", out_prefix] +
            (["--queries", query_list(a.workload)] if a.workload != "metric-store" else [])),
            run_dir, budget, out_prefix + ".stderr.log")
        lines = [l for l in stdout.splitlines() if l.strip()]
        try:
            result = json.loads(lines[-1])
        except (IndexError, ValueError):
            result = None
        if not isinstance(result, dict) or set(result) != {
                "correct", "attempted", "failed", "metrics"}:
            die("no result line from the JVM")
        print(json.dumps(result))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
