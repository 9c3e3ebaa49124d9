#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest|serve --seed N --seconds S --trace 0|1

Run from the root of a checkout. It builds the program from `src/main`
and the harness from `perfbench/scala` with the Scala compiler that ships
in the Spark distribution (no build tool, no network), generates the
workload's inputs from the seed, runs the harness in one JVM, checks the
program's outputs, and prints the metrics. The last line of standard
output is one JSON object: `correct`, `attempted`, `failed`, `metrics`.
The exit code is 0 only when every output check passed.
"""

import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen      # noqa: E402
import report   # noqa: E402

SCALA = "2.13.17"
BUILD = ".bench_build"
WORK = ".bench_work"
JVM_TIMEOUT_S = 165
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]

# Inputs per workload: pages of each corpus file, and requests in the
# serve stream. Serve indexes file by file through the route, which costs
# seconds per file at this commit, so it takes the two largest files of
# the ingest profile.
INGEST_PAGES = gen.page_counts(48)
SIZES = {"ingest": {"pages": INGEST_PAGES, "requests": 0},
         "serve": {"pages": sorted(INGEST_PAGES)[-2:], "requests": 2000}}


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def sources(root):
    out = []
    for base, _, names in os.walk(root):
        out += [os.path.join(base, n) for n in names if n.endswith(".scala")]
    return sorted(out)


def tree_digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_JARS, else the
    `unmanagedBase` that build.sbt compiles the program against."""
    d = os.environ.get("SPARK_JARS")
    if not d and os.path.exists("build.sbt"):
        with open("build.sbt") as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        d = m and m.group(1)
    if not d or not os.path.isdir(d):
        fail("Spark jars not found (set SPARK_JARS)")
    return d


def jars():
    d = spark_jars()
    return sorted(os.path.join(d, j) for j in os.listdir(d) if j.endswith(".jar"))


def scalac(srcs, classpath, out):
    if os.path.isdir(out):
        shutil.rmtree(out)
    os.makedirs(out)
    argfile = out + ".args"
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs))
    j = lambda n: os.path.join(spark_jars(), n)  # noqa: E731
    cmd = ["java", "-XX:-UsePerfData", "-Xss16m", "-Xmx2g", "-cp",
           ":".join(j(n % SCALA) for n in ("scala-compiler-%s.jar",
                                           "scala-library-%s.jar",
                                           "scala-reflect-%s.jar")),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", ":".join(classpath),
           "-d", out, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        fail("compile failed:\n" + r.stdout[-4000:])


def build():
    """Compile the program and the harness once per source tree."""
    prog_src = os.path.join("src", "main", "scala")
    if not os.path.isdir(prog_src):
        fail("program sources not found at %s (run from a checkout root)" % prog_src)
    cp = jars()
    prog, bench = os.path.join(BUILD, "program"), os.path.join(BUILD, "harness")
    psrcs, bsrcs = sources(prog_src), sources(os.path.join(HERE, "scala"))
    pstamp, bstamp = prog + ".stamp", bench + ".stamp"
    pd = tree_digest(psrcs)
    if not (os.path.isdir(prog) and _read(pstamp) == pd):
        t = time.time()
        scalac(psrcs, cp, prog)
        res = os.path.join("src", "main", "resources")
        if os.path.isdir(res):
            shutil.copytree(res, prog, dirs_exist_ok=True)
        _write(pstamp, pd)
        _write(bstamp, "")
        print("built program in %.1f s" % (time.time() - t))
    bd = tree_digest(bsrcs) + pd
    if not (os.path.isdir(bench) and _read(bstamp) == bd):
        scalac(bsrcs, cp + [prog], bench)
        _write(bstamp, bd)
    return cp + [os.path.abspath(prog), os.path.abspath(bench)]


def _read(p):
    try:
        with open(p) as fh:
            return fh.read()
    except OSError:
        return None


def _write(p, s):
    with open(p, "w") as fh:
        fh.write(s)


def make_inputs(workload, seed, d, trace):
    """The workload's inputs. A traced ingest run also gets the text
    tables its `operators` measurement reads."""
    size = SIZES[workload]
    tables = workload == "ingest" and bool(trace)
    vocab, files, stream, tabs = gen.generate(seed, size["pages"], size["requests"], tables)
    first = gen.digest(files, stream, tabs)
    gen.self_check(seed, size["pages"], size["requests"], tables, first)
    gen.write(d, files, stream)
    if tabs:
        gen.write_tables(d, *tabs)
    with open(os.path.join(d, "pages.json"), "w") as fh:
        json.dump({rel: len(pages) for rel, _, pages in files}, fh)
    info = gen.summary(vocab, files, stream, tabs)
    info["digest"] = first
    info["page_cache_available_bytes"] = mem_available()
    return files, info


def mem_available():
    """What the OS page cache can hold, to set the corpus size against."""
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemAvailable:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return -1


def run_harness(classpath, workload, inp, work, seconds, trace, deadline=None):
    out = os.path.join(work, "record.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + [a for p in OPENS for a in ("--add-opens", "java.base/%s=ALL-UNNAMED" % p)]
    # no hsperfdata file in the system temp dir: write only in the checkout
    cmd += ["-XX:-UsePerfData", "-Xmx3g", "-Djava.io.tmpdir=" + tmp, "-Dspark.local.dir=" + tmp,
            "-Dderby.system.home=" + tmp, "-Dspark.sql.warehouse.dir=" + os.path.join(tmp, "wh"),
            "-cp", ":".join(classpath), "perfbench.Harness",
            workload, inp, work, str(seconds), str(trace), out]
    log = os.path.join(work, "harness.log")
    with open(log, "w") as fh:
        try:
            r = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT,
                               timeout=max(5, (deadline or time.time() + JVM_TIMEOUT_S)
                                           - time.time()))
        except subprocess.TimeoutExpired:
            fail("harness timed out; log at %s" % log)
    if r.returncode != 0 or not os.path.exists(out):
        with open(log) as fh:
            tail = fh.read()[-3000:]
        fail("harness failed (exit %d):\n%s" % (r.returncode, tail))
    with open(out) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classpath = build()
    deadline = time.time() + JVM_TIMEOUT_S
    work = os.path.abspath(os.path.join(WORK, a.workload))
    shutil.rmtree(work, ignore_errors=True)
    inp = os.path.join(work, "input")
    os.makedirs(inp)
    files, info = make_inputs(a.workload, a.seed, inp, a.trace)
    print("inputs " + json.dumps(info, sort_keys=True))

    rec = run_harness(classpath, a.workload, inp, os.path.join(work, "run"),
                      a.seconds, a.trace, deadline)
    checks = report.checks(a.workload, rec, files, os.path.join(inp, "tables"))
    e2e = report.end_to_end(a.workload, report.view(rec), info)
    out = {"correct": all(c["ok"] for c in checks),
           "attempted": len(report.timed_ops(a.workload, rec)),
           "failed": sum(not o["ok"] for o in report.timed_ops(a.workload, rec))}
    report.print_table(a.workload, report.view(rec), e2e, checks)
    if a.trace:
        traced = report.view(rec, True)
        out["metrics"] = report.per_layer(a.workload, traced,
                                          report.end_to_end(a.workload, traced, info), e2e)
        report.print_layers(traced, out["metrics"])
    else:
        out["metrics"] = {k: {"value": e2e[k]["value"], "unit": e2e[k]["unit"]}
                          for k in report.CONTRACT}
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out))
    sys.exit(0 if out["correct"] else 1)


if __name__ == "__main__":
    main()
