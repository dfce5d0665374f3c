#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness from source (sbt, offline) into perfbench/target, writes the
input tables under .bench_build/data, and then, in a JVM of its own,
builds the state every run reuses: the layout base fixture and the
scaled corpus. Later runs reuse all of it while the sources and the
input generator are unchanged; a change to either throws the reused
state away and builds it again. Each run starts one JVM in a freshly
cleared work directory (.bench_build/work/<workload>), so every file the
engine writes stays there.

Prints a report (every metric by name with its unit, the checks), then,
as the last line, one JSON object: {"correct", "attempted", "failed",
"metrics"} with the end-to-end metrics (--trace 0) or the per-layer
metrics (--trace 1). Exits 1 when a correctness check fails, 2 when the
benchmark cannot run here (for example without the engine's sources).
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
sys.path.insert(0, HERE)

import gate  # noqa: E402
import gendata  # noqa: E402

WORKLOADS = ("warehouse", "layout_churn", "corpus_batch")
SF = 0.1
RUN_LIMIT_S = 170
# where the engine's CorpusFixture keeps the base fixture, under a run's
# working directory
LENT = os.path.join("target", "sinks", "_fixture")
JAVA_OPTS = ["-Xmx4g", "-XX:ReservedCodeCacheSize=512m",
             "-Dspark.ui.enabled=false"]
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp(root):
    paths = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(root, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(top):
            paths += [os.path.join(d, f) for f in files]
    h = hashlib.sha256()
    for p in sorted(paths):
        st = os.stat(p)
        h.update(f"{p}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build(root, build_dir):
    """Compile engine + harness; returns (runtime classpath, source stamp)."""
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        fail("no engine sources (src/main/scala) in the working directory")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are needed to build the engine")
    os.makedirs(build_dir, exist_ok=True)
    cp_file = os.path.join(build_dir, "classpath.txt")
    stamp_file = os.path.join(build_dir, "build.stamp")
    stamp = source_stamp(root)
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip(), stamp
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(build_dir, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out,
            text=True, timeout=850)
        out.write(r.stdout)
    # the exported classpath is the one output line that is not a log line
    cps = [ln.strip() for ln in r.stdout.splitlines()
           if ln.strip() and not ln.startswith("[")]
    if r.returncode != 0 or not cps:
        fail(f"build failed (see {log})")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1], stamp


def java(cp, tmp, args, cds_opt):
    """The JVM command line; `cds_opt` writes or maps the class-data
    archive (a run whose archive does not fit its classpath warns and
    loads its classes as usual)."""
    return (["java", cds_opt]
            + [x for p in ADD_OPENS
               for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
            + JAVA_OPTS + [f"-Djava.io.tmpdir={tmp}", "-cp", cp,
                           "graft.perfbench.Main"] + args)


def spark_env(tmp):
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)
    return dict(os.environ, SPARK_GRAFT_CPUS=cpus, SPARK_LOCAL_DIRS=tmp)


def prepare(cp, build_dir, data, stamp):
    """Builds the layout base fixture and the scaled corpus in a JVM of
    their own, unless this program and input vintage already did. Any
    state an earlier program or input vintage left (fixture, scaled
    corpus, per-seed records, work directories) is removed first, so
    every measured run starts from state built by the code under test.
    Returns the fixture's home between runs and the class-data archive."""
    fixture = os.path.join(build_dir, "fixture")
    work = os.path.join(build_dir, "work")
    if os.path.isdir(work):  # a killed run may have left it lent out
        for w in os.listdir(work):
            lent = os.path.join(work, w, LENT)
            if os.path.isdir(lent) and not os.path.isdir(fixture):
                os.replace(lent, fixture)
    mark = os.path.join(build_dir, "prepared.stamp")
    cds = os.path.join(build_dir, "classes.jsa")
    want = f"{stamp} inputs-v{gendata.VERSION}"
    if (os.path.exists(mark) and os.path.isdir(fixture)
            and os.path.exists(cds)):
        with open(mark) as f:
            if f.read() == want:
                return fixture, cds
    prep = os.path.join(build_dir, "prepare")
    for d in (mark, cds, prep, fixture, work,
              os.path.join(build_dir, "records")):
        if os.path.isdir(d):
            shutil.rmtree(d)
        elif os.path.exists(d):
            os.remove(d)
    for d in os.listdir(data):
        if d.startswith("scale"):
            shutil.rmtree(os.path.join(data, d))
    tmp = os.path.join(prep, "tmp")
    os.makedirs(tmp)
    log = os.path.join(prep, "jvm.log")
    with open(log, "w") as out:
        # the class-data archive holds the classes this JVM loaded, the
        # Spark and engine classes every run needs; mapped at start it
        # cut a run's set-up by 1.3-2.8 s on a 4-vCPU VM
        r = subprocess.run(java(cp, tmp, ["prepare", data],
                                f"-XX:ArchiveClassesAtExit={cds}"), cwd=prep,
                           env=spark_env(tmp), stdout=out,
                           stderr=subprocess.STDOUT, timeout=600)
    built = os.path.join(prep, LENT)
    if (r.returncode != 0 or not os.path.isdir(built)
            or not os.path.exists(cds)):
        fail(f"preparing the reused state failed (see {log})")
    os.replace(built, fixture)
    shutil.rmtree(prep)
    with open(mark, "w") as f:
        f.write(want)
    return fixture, cds


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    root = os.getcwd()
    build_dir = os.path.join(root, ".bench_build")
    cp, stamp = build(root, build_dir)
    data = gendata.ensure(os.path.join(build_dir, "data"), SF)
    fixture, cds = prepare(cp, build_dir, data, stamp)
    t_start = time.time()
    work = os.path.join(build_dir, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # the run gets the fixture in its own tree and hands it back after
    os.makedirs(os.path.dirname(os.path.join(work, LENT)))
    os.replace(fixture, os.path.join(work, LENT))

    cmd = java(cp, tmp, [a.workload, str(a.seed), str(a.seconds), a.trace,
                         data, os.path.join(build_dir, "records")],
               f"-XX:SharedArchiveFile={cds}")
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, env=spark_env(tmp),
                                stdout=out, stderr=subprocess.STDOUT)
        timed_out = False
        try:
            proc.wait(timeout=max(10, RUN_LIMIT_S - (time.time() - t_start)))
        except subprocess.TimeoutExpired:
            timed_out = True
            proc.kill()
            proc.wait()
        finally:
            os.replace(os.path.join(work, LENT), fixture)
    if timed_out:
        fail(f"run exceeded {RUN_LIMIT_S}s (log: {log})", 1)
    res_file = os.path.join(work, "result.json")
    if proc.returncode != 0 or not os.path.exists(res_file):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"run failed with exit code {proc.returncode} (log: {log})", 1)
    with open(res_file) as f:
        res = json.load(f)

    checks = [(c["name"], c["ok"], c["detail"]) for c in res["checks"]]
    if a.workload == "warehouse":
        checks += [(f"oracle {q}", ok, d)
                   for q, ok, d in gate.check(data, os.path.join(work, "gate"))]
    for f in res["failures"]:
        checks.append((f"operation {f['operation']}", False, f["error"]))
    correct = all(ok for _, ok, _ in checks)

    print(f"workload {a.workload} seed {a.seed} trace {a.trace}: "
          f"{res['attempted']} operations, {res['failed']} failed")
    for name, m in list(res["detail"].items()) + list(res["metrics"].items()):
        print(f"  {name:48s} {m['value']} {m['unit']}")
    bad = [c for c in checks if not c[1]]
    print(f"  checks: {len(checks) - len(bad)} of {len(checks)} pass")
    for name, _, d in bad:
        print(f"  FAIL {name}: {d}")
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": res["metrics"]}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
