#!/usr/bin/env python3
"""Benchmark of the ETL core and the query engine. See perfbench/README.md.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --regen-manifest

Run from the repository root. The first run in a checkout compiles the
engine and builds the query corpus under .bench_build/. The last line of
stdout is one JSON object: {"correct", "attempted", "failed", "metrics"}.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # keep the checkout clean
import build  # noqa: E402

WORKLOADS = ("etl_refresh", "etl_bulk", "query_mix")
# Seconds one pass takes on the reference host (4 cores): a run measures
# round(seconds / PASS_S) whole passes, so both sides of a comparison do
# identical work.
PASS_S = {"etl_refresh": 2.0, "etl_bulk": 5.5, "query_mix": 14.0}
# etl_bulk volume, as a multiple of the reference's record counts
BULK_SCALE = 25
HEAP = "3g"
MANIFEST = os.path.join(HERE, "manifest.json")
QUERIES = os.path.join(HERE, "queries.tsv")
MODULES = ("Relational TpchSql Stats Analytics Events Graph AsOfJoin Dedup "
           "Similarity TextAnalysis Sampling Classifier Streams").split()
# Same module openings build.sbt gives the forked run (Spark on JDK 17).
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
RUN_LIMIT_S = 175
FIRST_RUN_LIMIT_S = 880


def fail(msg, code=2):
    sys.stderr.write("perfbench: %s\n" % msg)
    sys.exit(code)


def load_queries():
    rows = []
    with open(QUERIES) as fh:
        for line in fh:
            line = line.strip()
            if line and not line.startswith("#"):
                name, half, module = line.split()
                rows.append((name, half, module))
    return rows


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def pid_alive(pid):
    try:
        os.kill(pid, 0)
        return True
    except OSError:
        return False


class Jvm:
    """Runs one JVM on the built jar, inside the checkout."""

    def __init__(self, jar, work, n_cores, archive=None):
        self.jar, self.work, self.cores, self.archive = jar, work, n_cores, archive

    def run(self, args, limit_s, dump_archive=None):
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        cmd = ["java"]
        for m in ADD_OPENS:
            cmd += ["--add-opens", m + "=ALL-UNNAMED"]
        if dump_archive:
            cmd.append("-XX:ArchiveClassesAtExit=" + dump_archive)
        elif self.archive:
            cmd.append("-XX:SharedArchiveFile=" + self.archive)
        cmd += ["-Xmx" + HEAP, "-XX:+UseG1GC",
                "-Djava.io.tmpdir=" + tmp,
                "-Dspark.local.dir=" + os.path.join(self.work, "local"),
                "-Dspark.sql.warehouse.dir=" + os.path.join(self.work, "spark-warehouse"),
                "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                "-cp", self.jar + os.pathsep + os.path.join(build.spark_jars(), "*"),
                "perfbench.Main"] + args
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(self.cores))
        log_path = os.path.join(self.work, "jvm.log")
        with open(log_path, "w") as log:
            p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                                 cwd=self.work, start_new_session=True)
            try:
                rc = p.wait(timeout=max(1.0, limit_s))
            except subprocess.TimeoutExpired:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
                rc = "timeout after %.0f s" % limit_s
        if rc != 0:
            with open(log_path, errors="replace") as fh:
                lines = [x for x in fh if not x.startswith(("\tat ", "\t\tat "))]
            sys.stderr.write("".join(lines[-40:]))
            fail("JVM %s failed: %s" % (args[0], rc), 3)


def prepared(path, st):
    return os.path.exists(path) and open(path).read().strip() == st


def prepare_checkout(root, out, jvm, st):
    """Once per build: the query_mix corpus, then the class-data-sharing
    archive. Both are redone whenever the program changes: the corpus comes
    from the program's own generator, and the archive holds its classes.

    The archive is recorded by one training JVM that runs a little of every
    workload; each benchmark JVM then maps it instead of loading and
    verifying Spark's and the engine's classes from the jars one by one.
    Returns whether any work was done.
    """
    data = os.path.join(out, "data")
    archive = os.path.join(out, "classes.jsa")
    did = False
    data_st = build.data_stamp(root)
    if not prepared(os.path.join(data, "READY"), data_st):
        shutil.rmtree(data, ignore_errors=True)
        os.makedirs(data)
        jvm.run(["prepare", data, str(jvm.cores)], FIRST_RUN_LIMIT_S)
        with open(os.path.join(data, "READY"), "w") as fh:
            fh.write(data_st + "\n")
        did = True
    if not prepared(archive + ".stamp", st):
        if os.path.exists(archive):
            os.remove(archive)
        jvm.run(["train", "data=" + data, "cores=%d" % jvm.cores, "work=" + jvm.work,
                 "queries=" + ",".join(q[0] for q in load_queries()),
                 "bulk_scale=%d" % BULK_SCALE], FIRST_RUN_LIMIT_S, dump_archive=archive)
        with open(archive + ".stamp", "w") as fh:
            fh.write(st + "\n")
        did = True
    return data, archive, did


def run_workload(root, workload, seed, seconds, trace):
    t_start = time.time()
    out = os.path.join(root, ".bench_build")
    os.makedirs(out, exist_ok=True)
    jar, st, built = build.build(root, out)
    works = os.path.join(out, "work")
    os.makedirs(works, exist_ok=True)
    for d in os.listdir(works):  # left by a run that was killed
        if d.startswith("run-") and not pid_alive(int(d[4:])):
            shutil.rmtree(os.path.join(works, d), ignore_errors=True)
    work = os.path.join(works, "run-%d" % os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        n = cores()
        data, archive, did = prepare_checkout(root, out, Jvm(jar, work, n), st)
        jvm = Jvm(jar, work, n, archive)
        limit = (FIRST_RUN_LIMIT_S if built or did else RUN_LIMIT_S) - (time.time() - t_start)
        passes = max(1, int(round(seconds / PASS_S[workload])))
        result = os.path.join(work, "result.json")
        load0 = os.getloadavg()[0]
        jvm.run(["run", "workload=" + workload, "seed=%d" % seed, "trace=%d" % trace,
                 "passes=%d" % passes, "deadline=%f" % (3.0 * seconds),
                 "cores=%d" % n, "work=" + work, "data=" + data,
                 "queries=" + ",".join(q[0] for q in load_queries()),
                 "bulk_scale=%d" % BULK_SCALE, "out=" + result], limit)
        load1 = os.getloadavg()[0]
        keep = os.path.join(out, "last")
        os.makedirs(keep, exist_ok=True)
        shutil.copy(result, os.path.join(keep, "%s-trace%d.json" % (workload, trace)))
        with open(result) as fh:
            res = json.load(fh)
        res["env"] = {"nproc": os.cpu_count(), "local_cores": n, "heap": HEAP,
                      "heap_max_bytes": res["heap_max_bytes"], "load1_start": load0,
                      "load1_end": load1, "seed": seed, "seconds": seconds,
                      "passes_planned": passes, "trace": trace}
        return res
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--regen-manifest", action="store_true")
    a = ap.parse_args()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        fail("run from the repository root (no src/main/scala here)")
    if a.regen_manifest:
        import manifest
        manifest.regenerate(lambda w: run_workload(root, w, 1, PASS_S[w], 0), MANIFEST,
                            config(), [a.workload] if a.workload else WORKLOADS)
        return
    if not a.workload:
        fail("--workload is required")
    res = run_workload(root, a.workload, a.seed, a.seconds, a.trace)
    import report
    report.emit(res, a.workload, a.trace, MANIFEST, config(), load_queries(), MODULES, root)


def config():
    return {"bulk_scale": BULK_SCALE, "queries": [q[0] for q in load_queries()]}


if __name__ == "__main__":
    main()
