#!/usr/bin/env python3
"""Build the engine and the benchmark from source, run one workload, and
print its result as the last line of standard output.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds with sbt into the
checkout (``target/`` dirs), records the runtime classpath under
``.bench_build/`` and dumps a class-data-sharing archive there from one
training run, so later JVMs start faster; later runs reuse both until a
source file changes. A build whose archive is missing fails, and every
run maps the archive (``-Xshare:on``) or fails, so all runs measure the
same JVM configuration. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
ARCHIVE = os.path.join(BUILD, "classes.jsa")
RUN_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 540
TRAIN_TIMEOUT_S = 180
HEAP = "3g"

# files whose content decides the build
SOURCES = ["build.sbt", "project/*.properties", "project/*.sbt",
           "src/main/**/*.scala", "src/main/**/*.java",
           "perfbench/build.sbt", "perfbench/project/*.properties",
           "perfbench/src/main/**/*.scala"]

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    files = sorted({f for p in SOURCES
                    for f in glob.glob(os.path.join(ROOT, p), recursive=True)})
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx3g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build(stamp):
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export Runtime/fullClasspathAsJars"],
            cwd=HERE, env=sbt_env(), stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
    if rc != 0:
        fail(f"build failed (exit {rc}), see {log}")
    with open(log) as fh:
        cps = [l.strip() for l in fh if ".jar" in l and not l.startswith("[")]
    if not cps:
        fail(f"no classpath in {log}")
    with open(os.path.join(BUILD, "classpath.txt"), "w") as fh:
        fh.write(cps[-1])
    train(cps[-1])
    with open(os.path.join(BUILD, "stamp"), "w") as fh:
        fh.write(stamp)


def java_cmd(cp, work, args, archive_opt):
    return (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", archive_opt,
             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", cp, "perfbench.Main", "--work-dir", work] + args)


def train(cp):
    """dump the classes one corpus_curation run loads into a CDS archive;
    the build fails without it"""
    work = os.path.join(BUILD, "train")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    cmd = java_cmd(cp, work, ["--workload", "corpus_curation", "--seed", "0",
                              "--seconds", "1", "--trace", "0"],
                   f"-XX:ArchiveClassesAtExit={ARCHIVE}")
    log = os.path.join(BUILD, "train.log")
    with open(log, "w") as out:
        try:
            rc = subprocess.run(cmd, cwd=ROOT, stdout=out,
                                stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL,
                                timeout=TRAIN_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not os.path.exists(ARCHIVE):
        if os.path.exists(ARCHIVE):
            os.remove(ARCHIVE)
        fail(f"class-data-sharing training failed ({rc}), see {log}")


def classpath():
    stamp = source_stamp()
    try:
        with open(os.path.join(BUILD, "stamp")) as fh:
            fresh = fh.read() == stamp
    except OSError:
        fresh = False
    if not fresh:
        build(stamp)
    with open(os.path.join(BUILD, "classpath.txt")) as fh:
        return fh.read().strip()


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}


def check_result(line, names):
    """the result line as the benchmark contract defines it, or None"""
    try:
        r = json.loads(line)
    except ValueError:
        return None
    ok = (isinstance(r, dict)
          and set(r) == {"correct", "attempted", "failed", "metrics"}
          and isinstance(r["attempted"], int) and r["attempted"] >= 1
          and isinstance(r["failed"], int)
          and set(r["metrics"]) == names
          and all(isinstance(m.get("value"), (int, float))
                  for m in r["metrics"].values()))
    return r if ok else None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("no engine sources next to perfbench/ (build.sbt, src/main/scala)")
    names = expected_metrics(a.trace == 1)
    cp = classpath()

    work = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    if not os.path.exists(ARCHIVE):
        fail(f"no class-data-sharing archive at {ARCHIVE}")
    cmd = java_cmd(cp, work, ["--workload", a.workload, "--seed", str(a.seed),
                              "--seconds", str(a.seconds),
                              "--trace", str(a.trace)],
                   f"-XX:SharedArchiveFile={ARCHIVE}")
    cmd.insert(1, "-Xshare:on")
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"{a.workload} did not finish within {RUN_TIMEOUT_S} s", 3)
    if a.trace == 1 and os.path.exists(os.path.join(work, "trace.jsonl")):
        os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
        shutil.copy(os.path.join(work, "trace.jsonl"), os.path.join(
            BUILD, "traces", f"{a.workload}-{a.seed}.jsonl"))
    shutil.rmtree(work, ignore_errors=True)

    lines = [l for l in out.splitlines() if l.strip()]
    result = check_result(lines[-1], names) if lines else None
    if proc.returncode != 0 or result is None:
        sys.stderr.write("\n".join(lines[-5:]) + "\n")
        fail(f"{a.workload} exited {proc.returncode} without a valid result", 4)
    for l in lines:
        print(l)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
