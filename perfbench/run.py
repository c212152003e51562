#!/usr/bin/env python3
"""Closed-loop benchmark of the graft engine.

Run from the repository root:

    python3 perfbench/run.py --workload <corpus_kernels|table_writes>
        --seed <n> --seconds <s> --trace <0|1>

It builds the engine and the harness from source (once per source state,
into .bench_build/), generates the input tables (once per size), runs one
JVM with Spark local[N] (N = min(4, cores)) and one client, and prints as
its last stdout line one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json,
with --trace 1 the per-layer ones. A full report (per-op records, span
self times, per-op-type medians, run metadata) is written to
.bench_build/reports/. The exit status is 0 only when every op's output
was correct. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")

# Input sizes: star schema at sf 0.02 (120k lineitem rows), 2000
# documents, 1000 embeddings. Every table fits in memory many times over.
DATA = {"sf": 0.02, "docs": 2000, "vecs": 1000}
HEAP = "2g"
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 850
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Everything the build reads: both builds' definitions and sources."""
    files = []
    for base in (ROOT, HERE):
        files.append(os.path.join(base, "build.sbt"))
        proj = os.path.join(base, "project")
        files += [os.path.join(proj, f) for f in os.listdir(proj)] if os.path.isdir(proj) else []
        for d, _, fs in os.walk(os.path.join(base, "src", "main")):
            files += [os.path.join(d, f) for f in fs]
    return sorted(f for f in files if os.path.isfile(f))


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def build(src_digest):
    """Compile and package engine + harness with sbt unless this source
    state is built; returns the runtime classpath (jars only, so that the
    JVM can archive its classes) and whether it built."""
    stamp = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read().strip() == src_digest:
                with open(cp_file) as g:
                    return g.read().strip(), False
    if not shutil.which("sbt"):
        fail("sbt not found on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = [env.get("SBT_OPTS", ""), "-Dsbt.offline=true", "-Xmx2g",
            f"-Dsbt.global.base={BUILD}/sbt-global",
            f"-Djava.io.tmpdir={BUILD}/tmp",
            "-Dsbt.server.forcestart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(o for o in opts if o)
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        try:
            p = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true",
                 "export Runtime/fullClasspathAsJars"],
                cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log,
                stdin=subprocess.DEVNULL, text=True, timeout=BUILD_LIMIT_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out after {BUILD_LIMIT_S} s; see {log_path}")
        log.write(p.stdout)
    cps = [l for l in p.stdout.splitlines() if "graft-perfbench_" in l]
    if p.returncode != 0 or not cps:
        fail(f"build failed (exit {p.returncode}); see {log_path}")
    with open(cp_file, "w") as f:
        f.write(cps[-1].strip())
    with open(stamp, "w") as f:
        f.write(src_digest)
    return cps[-1].strip(), True


def data_dir():
    with open(os.path.join(HERE, "gen_data.py"), "rb") as f:
        gen = hashlib.sha256(f.read()).hexdigest()[:12]
    tag = "sf{sf}-d{docs}-v{vecs}-".format(**DATA) + gen
    out = os.path.join(BUILD, "data", tag)
    if not os.path.isdir(out):
        tmp = out + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        subprocess.run([sys.executable, os.path.join(HERE, "gen_data.py"), tmp,
                        "--sf", str(DATA["sf"]), "--docs", str(DATA["docs"]),
                        "--vecs", str(DATA["vecs"])], check=True, timeout=300)
        os.rename(tmp, out)
    return out


def git_commit():
    """HEAD of the checkout, or "none" when it is not a git work tree of
    its own (the source digest identifies the code either way)."""
    try:
        p = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=ROOT,
                           timeout=10, capture_output=True, text=True)
    except (OSError, subprocess.SubprocessError):
        return "none"
    out = p.stdout.split()
    if p.returncode != 0 or len(out) != 2 or os.path.realpath(out[0]) != os.path.realpath(ROOT):
        return "none"
    return out[1]


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return {m["name"]: m["unit"] for m in b["per_layer" if trace else "end_to_end"]}


def class_archive(workload, src_digest):
    """JVM options for an application class-data archive of this source
    state, which cuts class loading out of set-up: the first run of a
    workload writes it at exit (as a temporary file, renamed once the JVM
    has exited), later runs map it."""
    d = os.path.join(BUILD, "cds")
    os.makedirs(d, exist_ok=True)
    jsa = os.path.join(d, f"{workload}-{src_digest}.jsa")
    if os.path.exists(jsa):
        return [f"-XX:SharedArchiveFile={jsa}"], None
    for old in os.listdir(d):  # archives of other source states
        if old.startswith(f"{workload}-"):
            os.remove(os.path.join(d, old))
    tmp = f"{jsa}.tmp{os.getpid()}"
    return [f"-XX:ArchiveClassesAtExit={tmp}"], (tmp, jsa)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--calibrate", help="dump results for calibrate.py here "
                    "and check repeats against each other, not expected.json")
    a = ap.parse_args()
    t_start = time.time()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("run from the root of a graft checkout (build.sbt and "
             "src/main/scala/graft not found here)")
    if not os.path.isfile(os.path.join(ROOT, "BENCHMARK.json")):
        fail("BENCHMARK.json not found in the current directory")
    if not shutil.which("java"):
        fail("java not found on PATH")
    with open(os.path.join(HERE, "expected.json")) as f:
        expected = json.load(f)
    if expected["data"] != DATA:
        fail(f"expected.json was made for data {expected['data']}, not {DATA}")
    digests = {} if a.calibrate else expected["digests"].get(a.workload, {})

    src = digest(source_files())
    classpath, built = build(src)
    data = data_dir()

    cores = min(4, len(os.sched_getaffinity(0)))
    tmp = os.path.join(BUILD, "tmp", f"run{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    report = os.path.join(BUILD, "reports",
                          f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    exp_file = os.path.join(tmp, "expected.json")
    with open(exp_file, "w") as f:
        json.dump({"digests": digests}, f)

    cds_opts, new_archive = class_archive(a.workload, src)
    cmd = (["java"] + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + cds_opts
           + [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xlog:all=warning:stderr",
              f"-Djava.io.tmpdir={tmp}",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-Dspark.hadoop.fs.file.impl=graftbench.CountingLocalFileSystem",
              "-cp", classpath, "graftbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--data", data, "--report", report, "--cores", str(cores),
              "--expected", exp_file,
              "--meta", f"commit={git_commit()}", "--meta", f"source_digest={src}",
              "--meta", "data_sizes=" + json.dumps(DATA, sort_keys=True),
              "--meta", f"heap_limit={HEAP}",
              "--meta", f"sized_on_seed={expected['sized_on_seed']}"]
           + (["--calibrate", os.path.abspath(a.calibrate)] if a.calibrate else []))
    deadline = t_start + (900.0 if built else RUN_LIMIT_S)
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            text=True)
    try:
        out, _ = proc.communicate(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        out = None
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if new_archive and os.path.exists(new_archive[0]):
        if out is None:
            os.remove(new_archive[0])
        else:
            os.replace(*new_archive)
    if out is None:
        fail(f"run exceeded {deadline - t_start:.0f} s")

    lines = out.rstrip("\n").splitlines()
    results = [i for i, l in enumerate(lines) if l.startswith('{"correct"')]
    if not results:
        fail(f"the harness printed no result (exit {proc.returncode})")
    result = json.loads(lines[results[-1]])
    want = expected_metrics(a.trace)
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        fail(f"metrics differ from BENCHMARK.json: missing "
             f"{sorted(set(want) - set(got))}, extra {sorted(set(got) - set(want))}, "
             f"units {[(k, got[k], want[k]) for k in want if k in got and got[k] != want[k]]}")
    for l in lines[:results[-1]]:
        print(l)
    print(json.dumps(result))
    sys.exit(0 if proc.returncode == 0 and result["correct"] else 1)


if __name__ == "__main__":
    main()
