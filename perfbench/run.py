#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --workload all ...   (each workload in turn)
    python3 perfbench/run.py --selfcheck

Run from the root of a source checkout. The first call builds the program
and the harness from source with sbt (perfbench/build.sbt) and caches the
classpath under .bench_build/ with a hash of the sources it was built
from; a call that finds other sources builds again. Every run starts one JVM
(perfbench.Main) with the sandbox settings below, prints the harness's
info line, and as the last line the result object
{"correct", "attempted", "failed", "metrics"}.

A traced run also makes the census probe, whose output check runs here
after the JVM has dumped each census entry's result: tools/oracle_check.py
compares the dump against the entry's DuckDB oracle SQL over the same
tables, generated from the seed by gen_tables.py.

--selfcheck runs every workload at toy scale, traced and untraced, and
asserts that each metric BENCHMARK.json names is emitted with its unit and
that every output check ran and passed.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ["topk", "topk_cached"]
DEADLINE_S = 170  # a run after the build exits within 180 s
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def cores():
    return len(os.sched_getaffinity(0))


def driver_heap():
    """MemTotal/2 in whole GiB, clamped to [2, 8] (the tier-1 formula)."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(8, max(2, g))}g"


def source_hash():
    """SHA-256 over every file the build compiles: the program's and the
    harness's build definitions and main sources, and where they are (the
    cached classpath names absolute paths)."""
    h = hashlib.sha256(ROOT.encode() + b"\0")
    files = []
    for base in (ROOT, HERE):
        files += [os.path.join(base, "build.sbt")]
        for sub in ("project", os.path.join("src", "main")):
            top = os.path.join(base, sub)
            for dirpath, dirnames, names in os.walk(top):
                dirnames[:] = sorted(d for d in dirnames if d not in ("target", "project"))
                files += [os.path.join(dirpath, n) for n in names]
    for path in sorted(files):
        if os.path.isfile(path):
            h.update(os.path.relpath(path, ROOT).encode() + b"\0")
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile program + harness; returns the classpath. The build is
    redone whenever the sources differ from those of the cached one."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    hash_file = os.path.join(BUILD, "sources.sha256")
    digest = source_hash()
    if os.path.exists(cp_file) and os.path.exists(hash_file):
        with open(hash_file) as f:
            if f.read().strip() == digest:
                with open(cp_file) as f2:
                    return f2.read().strip()
    if not os.path.exists(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no program sources next to perfbench/ (run from a checkout root)")
    if shutil.which("sbt") is None:
        fail("sbt not found")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories")
                   + " -Dsbt.offline=true -Xmx4g")
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=840)
    lines = [l for l in out.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-4000:] + out.stderr[-4000:])
        fail("build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(hash_file, "w") as f:
        f.write(digest)
    return lines[-1].strip()


def run_jvm(cp, args, work, deadline):
    """Run perfbench.Main; returns its stdout lines."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = dict(os.environ)
    env["PERFBENCH_CORES"] = str(cores())
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    heap = driver_heap()
    # the heap is touched at start: first-touch page faults of a fresh
    # heap cost ~0.65 s/GB on a 4-vCPU VM and a run touches all of it
    # anyway, so they stay out of set-up and the timed window
    cmd = (["java", f"-Xmx{heap}", f"-Xms{heap}", "-XX:+UseG1GC", "-XX:+AlwaysPreTouch",
            "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--work", work] + args)
    p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL,
                         stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail("run exceeded its deadline")
    if p.returncode != 0:
        fail(f"harness exited with {p.returncode}")
    return [l for l in out.splitlines() if l.strip()]


def oracle_check(data, dump):
    """Compare each dumped entry with its DuckDB oracle; returns
    (entries checked, entries failed)."""
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "oracle_check.py"), data, dump],
        stdin=subprocess.DEVNULL, capture_output=True, text=True, timeout=120)
    marks = [l[:1] for l in out.stdout.splitlines() if l[:2] in ("✓ ", "X ", "T ", "  ")]
    bad = [l for l in out.stdout.splitlines() if l.startswith(("X ", "T "))]
    for l in bad[:10]:
        print(f"[perfbench] oracle {l}", file=sys.stderr)
    return len(marks), len(bad)


def run_once(workload, seed, seconds, trace, tiny=False):
    cp = build()
    deadline = time.time() + DEADLINE_S
    work = os.path.join(BUILD, "runs", f"{workload}-{seed}-{int(trace)}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0"]
    if tiny:
        args += ["--tiny", "1"]
    data = os.path.join(work, "data")
    try:
        if trace:
            subprocess.run([sys.executable, os.path.join(HERE, "gen_tables.py"), data,
                            str(seed), "0.02" if tiny else "1.0"], check=True, timeout=120)
            args += ["--data", data]
        lines = run_jvm(cp, args, work, deadline)
        result = json.loads(lines[-1])
        info = lines[:-1]
        if trace:
            dumped = json.loads(info[-1])["checks"].get("census.oracle_dump", 0)
            checked, bad = oracle_check(data, os.path.join(work, "dump"))
            result["failed"] += bad
            result["correct"] = result["correct"] and bad == 0 and checked == dumped > 0
            info.append(json.dumps({"oracle_entries": checked, "oracle_failed": bad}))
        if trace:
            spans = os.path.join(work, "spans.jsonl")
            if os.path.exists(spans):
                keep = os.path.join(BUILD, "spans", f"{workload}.jsonl")
                os.makedirs(os.path.dirname(keep), exist_ok=True)
                shutil.move(spans, keep)
                info.append(json.dumps({"spans": os.path.relpath(keep, ROOT)}))
        return info, result
    finally:
        shutil.rmtree(work, ignore_errors=True)


def selfcheck():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = []
    for w in spec["workloads"]:
        for trace, kind in ((False, "end_to_end"), (True, "per_layer")):
            _, r = run_once(w["name"], 1, 2, trace, tiny=True)
            if set(r) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{w['name']}: result keys {sorted(r)}")
            if not r["correct"] or r["failed"] or r["attempted"] < 1:
                problems.append(f"{w['name']} trace={int(trace)}: checks did not all pass: "
                                f"correct={r['correct']} failed={r['failed']}")
            for m in spec[kind]:
                got = r["metrics"].get(m["name"])
                if got is None or got.get("unit") != m["unit"] or \
                        not isinstance(got.get("value"), (int, float)):
                    problems.append(f"{w['name']}: metric {m['name']} missing or wrong: {got}")
            print(f"selfcheck {w['name']} trace={int(trace)}: "
                  f"{len(r['metrics'])} metrics, attempted={r['attempted']}", file=sys.stderr)
    for p in problems:
        print(f"selfcheck: {p}", file=sys.stderr)
    print(json.dumps({"selfcheck": "ok" if not problems else "failed",
                      "problems": len(problems)}))
    return 0 if not problems else 1


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    ap.add_argument("--selfcheck", action="store_true")
    a = ap.parse_args()
    if a.selfcheck:
        sys.exit(selfcheck())
    names = WORKLOADS if a.workload == "all" else [a.workload]
    if not set(names) <= set(WORKLOADS):
        fail(f"unknown workload {a.workload!r}")
    for name in names:
        info, result = run_once(name, a.seed, a.seconds, bool(a.trace))
        for l in info:
            print(l)
        print(json.dumps(result))


if __name__ == "__main__":
    main()
