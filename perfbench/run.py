#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --all [--seed N] [--seconds S]
    python3 perfbench/run.py --record-digests perfbench/digests.tsv

Run from the repository root. The first run builds the library and the
harness with sbt (offline) and generates the tables; both are cached under
`.bench_build/`, keyed by a hash of their sources. See BENCHMARK.md.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
CACHE = os.path.join(ROOT, ".bench_build")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
# Spark on JDK 17 outside spark-submit: the module opens spark-submit adds.
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
         "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
         "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]


def die(msg):
    print(f"[perfbench] error: {msg}", file=sys.stderr)
    sys.exit(2)


def tree_hash(paths):
    h = hashlib.sha1()
    for base in paths:
        if os.path.isfile(base):
            files = [base]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compile library + harness; return (runtime classpath of jars, the
    path of the class-data archive that belongs to it)."""
    sources = [os.path.join(ROOT, p) for p in ("src/main", "build.sbt", "project/build.properties")]
    sources += [os.path.join(BENCH, p) for p in ("src/main", "build.sbt", "project/build.properties")]
    missing = [p for p in sources if not os.path.exists(p)]
    if missing:
        die(f"cannot build: missing {', '.join(os.path.relpath(p, ROOT) for p in missing)}")
    key = tree_hash(sources)
    stamp = os.path.join(CACHE, f"classpath-{key}.txt")
    cds = os.path.join(CACHE, f"classes-{key}.jsa")
    if os.path.exists(stamp):
        with open(stamp) as f:
            return f.read().strip(), cds
    os.makedirs(CACHE, exist_ok=True)
    for f in os.listdir(CACHE):  # artifacts of earlier trees
        if f.startswith(("classpath-", "classes-")):
            os.remove(os.path.join(CACHE, f))
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    print("[perfbench] building with sbt ...", file=sys.stderr)
    t0 = time.time()
    p = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                   "export Runtime/fullClasspathAsJars"], BENCH, env, BUILD_TIMEOUT_S, capture=True)
    if p is None or p[0] != 0:
        if p:
            sys.stderr.write(p[1][-4000:])
        die("build failed")
    cp = [l for l in p[1].splitlines() if not l.startswith("[") and ".jar" in l]
    if not cp:
        die("build printed no classpath")
    print(f"[perfbench] built in {time.time() - t0:.0f} s", file=sys.stderr)
    with open(stamp, "w") as f:
        f.write(cp[-1].strip())
    return cp[-1].strip(), cds


def tables():
    gen = os.path.join(BENCH, "gen_tables.py")
    out = os.path.join(CACHE, f"tables-{tree_hash([gen])}")
    if not os.path.isdir(out):
        os.makedirs(CACHE, exist_ok=True)
        shutil.rmtree(out + ".tmp", ignore_errors=True)
        subprocess.run([sys.executable, gen, out], check=True)
    return out


def run_group(cmd, cwd, env, timeout, capture=False):
    """Run `cmd` in its own process group; kill the group on timeout.
    Returns (returncode, stdout) or None on timeout."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, start_new_session=True,
                            stdout=subprocess.PIPE if capture else None, text=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out or ""
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        return None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def spec():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(path):
        die("BENCHMARK.json not found in the working directory")
    with open(path) as f:
        return json.load(f)


def java(cp, tmp, main, cds=None):
    cmd = ["java", "-Xmx3g", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    # Class-data sharing: the first run after a build archives the classes it
    # loaded; later runs map them instead of loading ~10k classes from jars,
    # which cuts the JVM-cold set-up every run pays to about a third.
    if cds and os.path.exists(cds):
        cmd.append(f"-XX:SharedArchiveFile={cds}")
    elif cds:
        cmd.append(f"-XX:ArchiveClassesAtExit={cds}.tmp")
    for o in OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    return cmd + ["-cp", cp, main]


def record_digests(out, cp, data):
    """Digest every registry key twice on the generated tables (see
    perfbench.Digests); takes minutes, no time limit."""
    tmp = os.path.join(CACHE, f"digests-{os.getpid()}")
    os.makedirs(tmp)
    try:
        p = run_group(java(cp, tmp, "perfbench.Digests") + [data, os.path.abspath(out)],
                      ROOT, dict(os.environ), None)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if p[0] != 0:
        die("digest recording failed")


def run_one(workload, seed, seconds, trace, cp, cds, data, bench):
    work = os.path.join(CACHE, f"run-{os.getpid()}-{workload}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    spans = os.path.join(CACHE, "spans")
    os.makedirs(spans, exist_ok=True)
    cmd = java(cp, tmp, "perfbench.Main", cds) + ["--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace), "--data", data, "--work", work,
            "--digests", os.path.join(BENCH, "digests.tsv"),
            "--spans", os.path.join(spans, f"{workload}-seed{seed}.jsonl")]
    try:
        p = run_group(cmd, ROOT, dict(os.environ), RUN_TIMEOUT_S, capture=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if p is None:
        die(f"{workload} did not finish within {RUN_TIMEOUT_S} s")
    code, out = p
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if code != 0 or not lines:
        die(f"{workload} exited with {code} and no result")
    if os.path.exists(cds + ".tmp"):
        os.replace(cds + ".tmp", cds)
    res = json.loads(lines[-1])
    want = bench["per_layer" if trace else "end_to_end"]
    got = res["metrics"]
    metrics, na = {}, []
    for m in want:
        if m["name"] in got:
            metrics[m["name"]] = {"value": got[m["name"]]["value"], "unit": m["unit"]}
        elif trace:
            na.append(m["name"])
            metrics[m["name"]] = {"value": 0, "unit": m["unit"]}
        else:
            die(f"{workload} did not report {m['name']}")
    extra = sorted(set(got) - set(metrics))
    if extra:
        die(f"{workload} reported metrics not in BENCHMARK.json: {extra}")
    if na:
        print(f"[perfbench] n/a on {workload} (reported as 0): {' '.join(na)}", file=sys.stderr)
    return {"correct": res["correct"], "attempted": res["attempted"],
            "failed": res["failed"], "metrics": metrics}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    ap.add_argument("--all", action="store_true", help="run every workload, print a summary")
    ap.add_argument("--record-digests", metavar="OUT", help="rewrite the digest table")
    a = ap.parse_args()
    bench = spec()
    names = [w["name"] for w in bench["workloads"]]
    seconds = a.seconds or bench["run_seconds"]
    cp, cds = build()
    data = tables()
    if a.record_digests:
        record_digests(a.record_digests, cp, data)
        return
    if not a.all:
        if a.workload not in names:
            die(f"unknown workload {a.workload!r}; one of {names}")
        print(json.dumps(run_one(a.workload, a.seed, seconds, a.trace, cp, cds, data, bench)))
        return
    for w in names:
        res = run_one(w, a.seed, seconds, 0, cp, cds, data, bench)
        print(f"{w}: correct={res['correct']} fail_ratio={res['failed'] / res['attempted']:.4f} "
              f"({res['failed']}/{res['attempted']})")
        for k, m in res["metrics"].items():
            print(f"  {k:<14} {m['value']:>14.4f} {m['unit']}")


if __name__ == "__main__":
    main()
