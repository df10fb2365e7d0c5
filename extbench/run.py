#!/usr/bin/env python3
"""Extraction benchmark launcher.

    python3 extbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 extbench/run.py --workload all --seed N --seconds S   # every workload, one summary

Run from the repository root. The first run builds the engine's sources
together with the benchmark (extbench/build.sbt, sbt, offline); later runs
reuse the build while the sources are unchanged. Each run starts one JVM
(local[nproc], heap sized from MemTotal as ROADMAP.md's test command does,
ParallelGC as in build.sbt) and prints, as its last stdout line, one JSON
object: correct, attempted, failed and the metrics BENCHMARK.json declares
(end-to-end with --trace 0, per-layer with --trace 1). Scratch data lives
in extbench/work/ and is removed when the run ends; the full result with
its environment and spans is kept in extbench/results/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala", "graft")
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "build.stamp")
CDS_ARCHIVE = os.path.join(TARGET, "extbench.jsa")
WORKLOADS = ["resume", "containers", "near_dup"]
JVM_TIMEOUT_S = 165

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"extbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    """Content hash of everything the build compiles."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation found: set SPARK_HOME")
    return home


def build(env):
    digest = source_digest()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                return
    sbt = shutil.which("sbt")
    if not sbt:
        fail("sbt not found on PATH")
    print("extbench: building (first run in this checkout)", file=sys.stderr)
    # sbt's global state, temporary files and (disabled) server stay in the checkout
    tmp = os.path.join(TARGET, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [sbt, "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           f"-Dsbt.global.base={os.path.join(TARGET, 'sbt-global')}", f"-Djava.io.tmpdir={tmp}",
           "writeClasspath"]
    try:
        with open(os.path.join(TARGET, "build.log"), "w") as log:
            r = subprocess.run(cmd, cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=540)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if r.returncode != 0 or not os.path.exists(CLASSPATH):
        fail(f"build failed, see {os.path.join(TARGET, 'build.log')}")
    train_cds_archive(env)
    with open(STAMP, "w") as f:
        f.write(digest)


def train_cds_archive(env):
    """Archives the classes one small pass of every workload loads, so each
    run maps them instead of loading them (about 4 s less JVM start). A run
    without the archive is slower to start but otherwise the same."""
    if os.path.exists(CDS_ARCHIVE):
        os.remove(CDS_ARCHIVE)
    work = os.path.join(HERE, "work", f"train-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = jvm_args(work, [f"-XX:ArchiveClassesAtExit={CDS_ARCHIVE}"]) + ["--workload", "train", "--work", work]
    try:
        with open(os.path.join(TARGET, "train.log"), "w") as log:
            r = subprocess.run(cmd, cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=240)
        if r.returncode != 0 and os.path.exists(CDS_ARCHIVE):
            os.remove(CDS_ARCHIVE)
    except subprocess.TimeoutExpired:
        if os.path.exists(CDS_ARCHIVE):
            os.remove(CDS_ARCHIVE)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def heap_gb():
    """MemTotal/2 in GiB, clamped to 2..8 (the rule of ROADMAP.md's test command)."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return max(2, min(8, int(line.split()[1]) // 2097152))
    except OSError:
        pass
    return 2


def commit_id():
    """The checkout's git commit, or a hash of the sources when it is not a git work tree."""
    try:
        r = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        top, head = (r.stdout.split() + ["", ""])[:2]
        if r.returncode == 0 and os.path.realpath(top) == os.path.realpath(ROOT):
            return head
    except (OSError, subprocess.SubprocessError):
        pass
    return "src-sha256:" + source_digest()[:16]


def jvm_args(work, cds=None):
    g = heap_gb()
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    args = [java]
    for p in ADD_OPENS:
        args += ["--add-opens", f"{p}=ALL-UNNAMED"]
    args += [f"-Xms{g}g", f"-Xmx{g}g", "-XX:+UseParallelGC", "-XX:-UsePerfData"]
    if g >= 4:
        args.append(f"-Xmn{g * 3 // 4}g")
    if cds is None and os.path.exists(CDS_ARCHIVE):
        cds = [f"-XX:SharedArchiveFile={CDS_ARCHIVE}"]
    args += (cds or []) + ["-Xlog:cds=off", "-Xlog:cds+dynamic=off"]
    args += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    with open(CLASSPATH) as f:
        args += ["-cp", f.read().strip(), "graftbench.Main"]
    return args


def run_jvm(workload, seed, seconds, trace, env, commit):
    work = os.path.join(HERE, "work", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    log_path = os.path.join(HERE, "results", f"{workload}-seed{seed}-trace{trace}.log")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    cmd = jvm_args(work) + ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                            "--trace", str(trace), "--work", work, "--commit", commit]
    lines = []
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=log,
                                    stdin=subprocess.DEVNULL, text=True, start_new_session=True)
            try:
                out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                fail(f"{workload}: JVM exceeded {JVM_TIMEOUT_S}s, see {log_path}", 3)
            finally:
                # also on SIGTERM/SIGINT to this launcher: never leave the JVM behind
                if proc.poll() is None:
                    os.killpg(proc.pid, signal.SIGKILL)
                    proc.wait()
            lines = out.splitlines()
        spans = os.path.join(work, "spans.json")
        if os.path.exists(spans):
            shutil.copy(spans, os.path.join(HERE, "results", f"{workload}-seed{seed}-trace{trace}.spans.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    info = next((json.loads(l[5:]) for l in lines if l.startswith("INFO ")), {})
    result = next((json.loads(l[7:]) for l in lines if l.startswith("RESULT ")), None)
    for l in lines:
        if not l.startswith(("INFO ", "RESULT ")):
            print(l)
    if result is None:
        fail(f"{workload}: no result (exit {proc.returncode}), see {log_path}", 3)
    return info, result, proc.returncode


def contract_metrics(result, trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    vals = result["values"]
    out = {}
    if trace == 0:
        for m in bench["end_to_end"]:
            if m["name"] not in vals:
                fail(f"end-to-end metric {m['name']} was not measured", 3)
            out[m["name"]] = {"value": vals[m["name"]], "unit": m["unit"]}
    else:
        # a layer a workload does not exercise reports its zero work
        for m in bench["per_layer"]:
            out[m["name"]] = {"value": vals.get(m["name"], 0.0), "unit": m["unit"]}
    return out


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not os.path.isdir(ENGINE_SRC) or not os.path.exists(os.path.join(HERE, "build.sbt")):
        fail(f"engine sources not found under {ROOT}: run from a full checkout of the repository")
    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    build(env)
    commit = commit_id()

    names = WORKLOADS if a.workload == "all" else [a.workload]
    summary = []
    for w in names:
        info, result, code = run_jvm(w, a.seed, a.seconds, a.trace, env, commit)
        info["heap_gb"] = heap_gb()
        with open(os.path.join(HERE, "results", f"{w}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
            json.dump({"env": info, "result": result}, f, indent=1)
        metrics = contract_metrics(result, a.trace)
        line = {"correct": bool(result["correct"]) and code == 0, "attempted": int(result["attempted"]),
                "failed": int(result["failed"]), "metrics": metrics}
        summary.append((w, line, result))
        print("env " + json.dumps(info, sort_keys=True))

    if a.workload == "all":
        for w, line, result in summary:
            v = result["values"]
            frac = line["failed"] / line["attempted"]
            print(f"{w:12s} correct={line['correct']} " + (
                f"setup_s={v.get('setup_s', 0):.3f} s  docs_per_s={v.get('docs_per_s', 0):.1f} docs/s  "
                f"resume_s={v.get('resume_s', 0):.4f} s  " if a.trace == 0 else "") +
                f"failed_frac={frac:.6f} ({line['failed']}/{line['attempted']})")
        ok = all(l["correct"] for _, l, _ in summary)
        print(json.dumps({"correct": ok, "attempted": sum(l["attempted"] for _, l, _ in summary),
                          "failed": sum(l["failed"] for _, l, _ in summary),
                          "metrics": {f"{w}.{k}": m for w, l, _ in summary for k, m in l["metrics"].items()}}))
        sys.exit(0 if ok else 1)
    w, line, _ = summary[0]
    print(json.dumps(line))
    sys.exit(0 if line["correct"] else 1)


if __name__ == "__main__":
    main()
