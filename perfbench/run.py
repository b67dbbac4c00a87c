#!/usr/bin/env python3
"""graft benchmark launcher.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from source with sbt (offline) the first
time, or whenever a source file changed, then runs one workload in a fresh
JVM on `local[4]`. The JVM prints a provenance line and a detail line; the
last line of standard output is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

holding every `end_to_end` metric of BENCHMARK.json (`--trace 0`) or every
`per_layer` metric (`--trace 1`). Each run also appends its lines to
`perfbench/out/runs.jsonl`; traced runs leave their spans in
`perfbench/out/spans-<workload>-<seed>.jsonl`. Scratch data lives under
`perfbench/work/` and is removed when the run ends.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("relational", "llm-pipeline", "wire-chain", "ivfpq-store")
PREFIXES = ("PERFBENCH_PROVENANCE ", "PERFBENCH_DETAIL ", "PERFBENCH_RESULT ")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 400
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build_inputs():
    """Every file the build reads from the checkout, in a stable order."""
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, names in sorted(os.walk(top)):
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def source_id(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def spark_jars():
    """Directory of Spark's jars: $SPARK_HOME/jars, else next to the
    spark-submit on the PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not os.path.isdir(jars):
        die("Spark jars not found: set SPARK_HOME")
    return jars


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    return env


def java_cmd(cp, work, extra=()):
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return cmd + list(extra) + [
        "-Xmx2g", f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "graft.perfbench.Main"]


def fresh_work(name):
    work = os.path.join(HERE, "work", f"{name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    return work


def jar_classes(classes, jar):
    """Packs the compiled classes into one jar: the JVM archives classes
    from jars only, never from a directory on the class path."""
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for d, _, names in sorted(os.walk(classes)):
            for n in sorted(names):
                f = os.path.join(d, n)
                z.write(f, os.path.relpath(f, classes))


def dump_class_archive(cp, jsa, src):
    """Runs every workload briefly with -XX:ArchiveClassesAtExit, so later
    runs map the loaded classes from `jsa` instead of parsing and verifying
    them again: set-up time then measures the engine, not class loading."""
    work = fresh_work("cds")
    cmd = java_cmd(cp, work, [f"-XX:ArchiveClassesAtExit={jsa}"]) + [
        "cds-warmup", "0", "1", "0", HERE, work, str(int(time.time() * 1000)), src]
    try:
        with open(os.path.join(work, "jvm.log"), "w") as log:
            subprocess.run(cmd, cwd=ROOT, stdout=log, stderr=log, stdin=subprocess.DEVNULL,
                           timeout=BUILD_TIMEOUT_S, check=True)
    except (OSError, subprocess.SubprocessError) as e:
        die(f"class archive dump failed: {e}")
    finally:
        shutil.rmtree(work, ignore_errors=True)


def build(src):
    """(class path, class archive) of the built harness; rebuilds when `src`
    changed."""
    target = os.path.join(HERE, "target")
    stamp = os.path.join(target, "perfbench-build.json")
    jar = os.path.join(target, "perfbench.jar")
    jsa = os.path.join(target, "perfbench.jsa")
    if os.path.exists(stamp) and os.path.exists(jar) and os.path.exists(jsa):
        with open(stamp) as fh:
            st = json.load(fh)
        if st.get("source") == src:
            return st["classpath"], jsa
    print(f"perfbench: building from source ({src})", file=sys.stderr)
    try:
        proc = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "--no-server",
             f"-Dperfbench.sparkJars={spark_jars()}", "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        die(f"build failed: {e}")
    lines = [l.strip() for l in proc.stdout.splitlines() if l.strip()]
    full = next((l for l in reversed(lines) if "scala-2.13/classes" in l and " " not in l), None)
    if proc.returncode != 0 or full is None:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        die("build failed")
    classes = os.path.join(target, "scala-2.13", "classes")
    for f in (stamp, jar, jsa):
        if os.path.exists(f):
            os.remove(f)
    jar_classes(classes, jar)
    cp = os.pathsep.join([jar] + [p for p in full.split(os.pathsep)
                                  if os.path.realpath(p) != os.path.realpath(classes)])
    dump_class_archive(cp, jsa, src)
    with open(stamp, "w") as fh:
        json.dump({"source": src, "classpath": cp}, fh)
    return cp, jsa


def cpu_times():
    """Aggregate (busy + idle, steal) jiffies from /proc/stat, or None."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:9]]
        return sum(f), f[7]
    except (OSError, ValueError, IndexError):
        return None


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()

    engine = os.path.join(ROOT, "src", "main", "scala", "graft")
    if not os.path.isdir(engine):
        die(f"engine sources not found at {engine}: run from a full checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    key = "per_layer" if args.trace == "1" else "end_to_end"
    wanted = {m["name"]: m["unit"] for m in spec[key]}

    src = source_id(build_inputs())
    cp, jsa = build(src)

    work = fresh_work(f"{args.workload}-{args.seed}")
    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    cmd = java_cmd(cp, work, [f"-XX:SharedArchiveFile={jsa}"]) + [
        args.workload, str(args.seed), str(args.seconds), args.trace, HERE, work,
        str(int(time.time() * 1000)), f"{src} git:{git_commit()}"]
    log_path = os.path.join(work, "jvm.log")
    got = {}
    cpu0 = cpu_times()
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=log,
                                    stdin=subprocess.DEVNULL, text=True)
            try:
                out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                die(f"run exceeded {JVM_TIMEOUT_S} s")
        for line in out.splitlines():
            for p in PREFIXES:
                if line.startswith(p):
                    got[p.strip()] = json.loads(line[len(p):])
        if proc.returncode != 0 or "PERFBENCH_RESULT" not in got:
            with open(log_path) as fh:
                sys.stderr.write("".join(fh.readlines()[-60:]))
            die(f"workload exited with code {proc.returncode} and no result")
        # share of the machine's CPU time the hypervisor gave to other
        # guests during the run: a noisy-neighbour marker for A/B reading
        cpu1 = cpu_times()
        if cpu0 and cpu1 and cpu1[0] > cpu0[0] and "PERFBENCH_PROVENANCE" in got:
            got["PERFBENCH_PROVENANCE"]["steal_share"] = (cpu1[1] - cpu0[1]) / (cpu1[0] - cpu0[0])
        result = got["PERFBENCH_RESULT"]
        metrics = result["metrics"]
        if set(metrics) != set(wanted) or any(metrics[n]["unit"] != u for n, u in wanted.items()):
            die(f"metrics differ from BENCHMARK.json {key}: "
                f"missing {sorted(set(wanted) - set(metrics))}, "
                f"extra {sorted(set(metrics) - set(wanted))}")
        if args.trace == "1" and os.path.exists(os.path.join(work, "spans.jsonl")):
            shutil.copy(os.path.join(work, "spans.jsonl"),
                        os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl"))
        record = {"provenance": got.get("PERFBENCH_PROVENANCE"),
                  "detail": got.get("PERFBENCH_DETAIL"), "result": result}
        with open(os.path.join(out_dir, "runs.jsonl"), "a") as fh:
            fh.write(json.dumps(record) + "\n")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"provenance": got.get("PERFBENCH_PROVENANCE")}))
    print(json.dumps({"detail": got.get("PERFBENCH_DETAIL")}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
