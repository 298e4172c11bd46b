#!/usr/bin/env python3
"""Benchmark of the dump importer and the query suite.

Run from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

It builds the harness (perfbench/harness, which compiles the program's
sources with its own) on first use, generates the seeded dump an import
workload needs (cached per shape, seed and size), runs the workload in a
fresh JVM at local[N] with N = the usable cores, and prints one metric
per line followed by a JSON result line. Everything it writes goes under
.bench_build/perfbench in the checkout. See perfbench/README.md.
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

WORKLOADS = {
    # name: (most warm-up rounds, {dump shape: (pages, warm-up dump pages, layout)})
    "import_dumps": (4, {"articles": (3000, 300, "xml"), "history": (400, 80, "multistream")}),
    "query_suite_sf0.01": (2, {}),
}
DEADLINE_S = 170
BUILD_TIMEOUT_S = 850
JVM_HEAP = "3g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_bounded(cmd, cwd, env, timeout, log):
    """Run cmd in its own process group; kill the group on timeout."""
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=max(1, timeout))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"{cmd[0]} timed out after {timeout:.0f} s; see {log}")
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def source_hash(root):
    h = hashlib.sha256()
    for top in ("src/main", "perfbench/harness"):
        for d, dirs, files in sorted(os.walk(os.path.join(root, top))):
            dirs[:] = sorted(x for x in dirs if x != "target")
            for f in sorted(files):
                if f.endswith((".scala", ".java", ".sbt", ".properties")):
                    p = os.path.join(d, f)
                    h.update(os.path.relpath(p, root).encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:16]


def build(root, work, deadline):
    """Compile the harness and the program once per source tree; return
    the classpath and the source tree's hash."""
    tree = source_hash(root)
    cp_file = os.path.join(work, "build", tree + ".classpath")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip(), tree
    os.makedirs(os.path.dirname(cp_file), exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    log = os.path.join(work, "build", "sbt.log")
    harness = os.path.join(root, "perfbench", "harness")
    rc = run_bounded(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                      "export Runtime/fullClasspath"], harness, env,
                     min(BUILD_TIMEOUT_S, deadline - time.time()), log)
    with open(log) as f:
        lines = [ln.strip() for ln in f if ln.strip()]
    if rc != 0 or not lines or lines[-1].startswith("["):
        fail(f"build failed (exit {rc}); see {log}")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    return lines[-1], tree


def java_cmd(cp, work, main):
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return (["java", *opens, f"-Xmx{JVM_HEAP}", f"-Xms{JVM_HEAP}", "-XX:+AlwaysPreTouch",
             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
             f"-Dderby.system.home={work}",
             f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-cp", cp, main])


def clean_env():
    """The harness uses graft.Bench's defaults, not its environment knobs."""
    return {k: v for k, v in os.environ.items() if not k.startswith("SPARK_")}


def dumps_for(cp, tree, work, seed, dumps, deadline):
    """The cached dumps for (source tree, shape, seed, size): {(shape, pages): dir}.
    Missing ones are generated together in one JVM."""
    dirs, todo = {}, []
    for shape, (pages, warm_pages, layout) in dumps.items():
        for n in (pages, warm_pages):
            d = os.path.join(work, "dumps", tree, f"{shape}-seed{seed}-p{n}")
            dirs[(shape, n)] = d
            if not os.path.exists(os.path.join(d, "manifest.json")):
                shutil.rmtree(d + ".tmp", ignore_errors=True)
                todo.append((d, [shape, str(seed), str(n), d + ".tmp", layout]))
    if todo:
        log = os.path.join(work, "dumpgen.log")
        rc = run_bounded(java_cmd(cp, work, "graft.perfbench.DumpGen")
                         + [x for _, args in todo for x in args],
                         work, clean_env(), deadline - time.time(), log)
        if rc != 0:
            fail(f"dump generation failed (exit {rc}); see {log}")
        for d, _ in todo:
            os.replace(d + ".tmp", d)
    return dirs


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=30)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-counts", action="store_true",
                    help="re-record the query suite's expected counts on this tree")
    a = ap.parse_args()
    if not a.workload and not a.record_counts:
        ap.error("--workload is required")
    start = time.time()
    root = os.getcwd()
    here = os.path.dirname(os.path.abspath(__file__))
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("run from the root of a checkout of the program (no src/main/scala/graft here)")
    work = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # the first run in a checkout builds; later runs keep the usual deadline
    cp, tree = build(root, work, start + BUILD_TIMEOUT_S)
    deadline = max(start, time.time() - 10) + DEADLINE_S
    cores = len(os.sched_getaffinity(0))
    out = os.path.join(work, f"result-{a.workload}-{a.seed}-{a.trace}.json")
    if os.path.exists(out):
        os.remove(out)
    if a.record_counts:
        counts = os.path.join(here, "expected_counts_sf0.01.json")
        rc = run_bounded(java_cmd(cp, work, "graft.perfbench.Main") + [
            "--workload", "record-counts", "--seed", "0", "--seconds", "0", "--trace", "0",
            "--cores", str(cores), "--work", work, "--data", os.path.join(here, "data"),
            "--out", counts], work, clean_env(), 1800, os.path.join(work, "record-counts.log"))
        sys.exit(rc)
    cmd = java_cmd(cp, work, "graft.perfbench.Main") + [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--cores", str(cores), "--work", work,
        "--data", os.path.join(here, "data"), "--out", out,
        "--counts", os.path.join(here, "expected_counts_sf0.01.json")]
    rounds, dumps = WORKLOADS[a.workload]
    cmd += ["--warmup-rounds", str(rounds)]
    dirs = dumps_for(cp, tree, work, a.seed, dumps, deadline)
    for shape, (pages, warm_pages, _) in dumps.items():
        cmd += [f"--{shape}", dirs[(shape, pages)], f"--{shape}-warmup", dirs[(shape, warm_pages)]]
    log = os.path.join(work, f"run-{a.workload}.log")
    rc = run_bounded(cmd, work, clean_env(), deadline - time.time(), log)
    if rc != 0 or not os.path.exists(out):
        fail(f"workload run failed (exit {rc}); see {log}")
    with open(out) as f:
        res = json.load(f)
    for name, m in res["metrics"].items():
        print(f"{name} {m['value']} {m['unit']}")
    for name, v in res["info"].items():
        print(f"info {name} {v}")
    for e in res["errors"]:
        print(f"failed {e}")
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
