#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as the last stdout line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

The first run in a checkout builds the harness together with the program's
own sources (sbt, offline); later runs reuse the build while the sources are
unchanged. Everything a run writes stays under perfbench/target/.
"""
import argparse
import collections
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "sources.sha256")
PROGRAM_SOURCES = os.path.join(ROOT, "src", "main")
WORKLOADS = ("backfill", "live_tail")
RUN_TIMEOUT_S = 170

# The add-opens Spark needs on JDK 17 outside spark-submit, as in the
# program's own build.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
JAVA_OPTS = [o for p in ADD_OPENS for o in ("--add-opens", p + "=ALL-UNNAMED")] + [
    "-Xmx2g",
    "-XX:-UsePerfData",
    "-XX:ReservedCodeCacheSize=1g",
    "-XX:+UseCodeCacheFlushing",
    "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources_digest():
    h = hashlib.sha256()
    roots = [PROGRAM_SOURCES, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    if not os.path.isfile(os.path.join(PROGRAM_SOURCES, "scala", "graft", "app", "Main.scala")):
        fail("the program's sources (src/main/scala) are not in this checkout")
    digest = sources_digest()
    if os.path.isfile(CLASSPATH) and os.path.isfile(STAMP) and open(STAMP).read() == digest:
        return
    os.makedirs(TARGET, exist_ok=True)
    log = os.path.join(TARGET, "build.log")
    with open(log, "w") as out:
        tmp = os.path.join(TARGET, "tmp")
        os.makedirs(tmp, exist_ok=True)
        r = subprocess.run(["sbt", "-batch", "-J-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
                            "-Dsbt.server.autostart=false", "writeClasspath"], cwd=HERE, stdout=out,
                           stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, timeout=840)
    if r.returncode != 0 or not os.path.isfile(CLASSPATH):
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"build failed (log: {log})", 3)
    with open(STAMP, "w") as fh:
        fh.write(digest)


def java(main, args, cwd, log):
    """Runs a harness main in its own process group; returns (code, stdout lines).

    Temporary files (Spark's block manager, native libraries) go to
    <cwd>/tmp; the daemon JVM inherits these options."""
    tmp = os.path.join(cwd, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", *JAVA_OPTS, f"-Djava.io.tmpdir={tmp}", "-cp", open(CLASSPATH).read().strip(), main, *args]
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=err,
                             stdin=subprocess.DEVNULL, text=True, start_new_session=True,
                             env={**os.environ, "SPARK_LOCAL_DIRS": tmp})
        try:
            out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.communicate()
            fail(f"{main} did not finish in {RUN_TIMEOUT_S} s (log: {log})", 4)
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    # The harness's child JVMs share its process group; none may outlive it.
    try:
        os.killpg(p.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    return p.returncode, out.splitlines()


def check_warehouse(check):
    """Reads the stopped daemon's warehouse from outside the program.

    Returns (guids that are not stored exactly once, problems)."""
    import pyarrow.compute as pc
    import pyarrow.dataset as ds
    wh = check["warehouse"]
    guids = ds.dataset(os.path.join(wh, "cf_audit_events"), format="parquet",
                       partitioning="hive").to_table(columns=["guid"]).column("guid").to_pylist()
    counts = collections.Counter(guids)
    expected = check["expected"]
    bad = {g for g in expected if counts.get(g, 0) != 1}
    problems = []
    if len(guids) != len(expected):
        problems.append(f"warehouse holds {len(guids)} rows for {len(expected)} events")
    cursors = ds.dataset(os.path.join(wh, "shipper_cursors"), format="parquet").to_table()
    rows = [r for r in zip(cursors.column("name").to_pylist(),
                           pc.cast(cursors.column("updated_at"), "int64").to_pylist(),
                           cursors.column("shipped_id").to_pylist()) if r[0] == check["shipper"]]
    per_ms = {"s": 1e-3, "ms": 1, "us": 1e3, "ns": 1e6}[cursors.schema.field("updated_at").type.unit]
    if len(rows) != 1 or rows[0][2] not in check["cursor_candidates"] or \
            rows[0][1] != check["last_second_ms"] * per_ms:
        problems.append(f"cursor {rows} is not on a shipped event of the last second "
                        f"({check['last_second_ms']} ms)")
    return bad, problems


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    build()
    cpus = len(os.sched_getaffinity(0))
    logs = os.path.join(TARGET, "logs")
    os.makedirs(logs, exist_ok=True)
    if a.selftest:
        work = os.path.join(TARGET, "work", f"selftest-{os.getpid()}")
        os.makedirs(work)
        try:
            code, lines = java("perfbench.SelfTest", [], work, os.path.join(logs, "selftest.log"))
        finally:
            shutil.rmtree(work, ignore_errors=True)
        print("\n".join(lines))
        sys.exit(code)

    work = os.path.join(TARGET, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    log = os.path.join(logs, f"{a.workload}-{a.seed}-trace{a.trace}.log")
    try:
        code, lines = java("perfbench.Harness",
                           ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                            "--trace", str(a.trace), "--cpus", str(cpus), "--work", work],
                           work, log)
        check_file = os.path.join(work, "warehouse-check.json")
        check = json.load(open(check_file)) if os.path.isfile(check_file) else None
        stored_wrong, problems = check_warehouse(check) if check else (set(), ["no warehouse check"])
    finally:
        for kept in ("daemon.log", "spans.jsonl"):
            if os.path.isfile(os.path.join(work, kept)):
                shutil.copy(os.path.join(work, kept), log[:-len(".log")] + "-" + kept)
        shutil.rmtree(work, ignore_errors=True)
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    if code != 0 or not isinstance(result, dict) or set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"harness exited {code} without a result (log: {log})", 1)
    failed = stored_wrong | set(check["failed_at_hec"] if check else [])
    result["failed"] = len(failed)
    result["correct"] = bool(result["correct"] and not problems and not failed)
    print("\n".join(lines[:-1] + [f"perfbench: check failed: {p}" for p in problems]))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
