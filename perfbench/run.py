#!/usr/bin/env python3
"""Benchmark of the graft engine: two seeded workloads, each run as a
closed loop by one client in one JVM with local[nproc].

    python3 perfbench/run.py --workload migrate|ingest --seed N \
        --seconds S --trace 0|1

migrate  the paper's pipeline run whole: introspect, mine the query log,
         convert, pre-flight the document budget, nest, write both sinks
ingest   the stored near-dup index fed micro-batches the way x114 does;
         its traced run also attributes x93, the batch curation chain,
         over the same documents

The first run in a checkout compiles the engine (perfbench/build.py).
Inputs are generated from the seed under .bench_work/ and removed at
exit. Every op's output is checked, x93's against its DuckDB oracle.
The last stdout line is the result: end-to-end metrics with --trace 0,
per-layer metrics with --trace 1 (see BENCHMARK.json). The line before
it stamps the run: cpus, heap, Spark version, commit, loadavg, and
whether other processes contended for the CPUs.
"""
import argparse
import json
import math
import os
import resource
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ("migrate", "ingest")
# a run must end within 180 s (900 s for the run that compiles): stop
# the JVM early enough to check and report
LIMIT_S, BUILD_LIMIT_S, MARGIN_S = 180, 900, 25
# CPU use by other processes (or stolen by the hypervisor) above this
# share of the box marks the run contended; loadavg cannot tell, since it
# counts this benchmark's own back-to-back runs (the loadavg stamps stay)
CONTENDED_SHARE = 0.25
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def loadavg():
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def cpu_seconds():
    """(busy, stolen) CPU seconds of the whole box since boot; busy
    includes the time the hypervisor gave to other guests."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal
    tick = os.sysconf("SC_CLK_TCK")
    return (f[0] + f[1] + f[2] + f[5] + f[6] + f[7]) / tick, f[7] / tick


def own_cpu_seconds():
    s, c = resource.getrusage(resource.RUSAGE_SELF), resource.getrusage(resource.RUSAGE_CHILDREN)
    return s.ru_utime + s.ru_stime + c.ru_utime + c.ru_stime


def commit():
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def canon(rows):
    """Rows as sortable tuples; floats to 9 significant digits."""
    def c(v):
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else f"{v:.9g}"
        return repr(v)
    return sorted(tuple(c(v) for v in r) for r in rows)


def check_x93(extra, work):
    """x93's output and forced row count against its DuckDB oracle on the
    same corpus. Returns failure messages."""
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count()}")
    con.execute(f"SET temp_directory = '{os.path.join(work, 'duckdb')}'")
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{extra['documents']}/*.parquet')")
    want = con.execute(open(extra["x93_sql"]).read())
    want_cols = [d[0] for d in want.description]
    want_rows = want.fetchall()
    got = con.execute(f"SELECT * FROM read_parquet('{extra['x93_out']}/*.parquet')")
    got_cols = [d[0] for d in got.description]
    got_rows = got.fetchall()
    order = sorted(range(len(want_cols)), key=lambda i: want_cols[i])
    fails = []
    if sorted(got_cols) != sorted(want_cols):
        fails.append(f"x93 columns {sorted(got_cols)} != oracle {sorted(want_cols)}")
    else:
        by_name = [got_cols.index(want_cols[i]) for i in order]
        if canon([[r[i] for i in by_name] for r in got_rows]) != \
                canon([[r[i] for i in order] for r in want_rows]):
            fails.append(f"x93 output ({len(got_rows)} rows) differs from the oracle "
                         f"({len(want_rows)} rows)")
    fails += [f"x93 action {i}: {n} rows, oracle {len(want_rows)}"
              for i, n in enumerate(extra["x93_counts"]) if n != len(want_rows)]
    return fails


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.time()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("terminated"))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    wanted = spec["per_layer" if a.trace else "end_to_end"]
    try:
        classes, source_digest, built = build.build()
    except build.BuildError as e:
        sys.exit(f"build: {e}")

    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    load_before, cpu0, own0 = loadavg(), cpu_seconds(), own_cpu_seconds()
    spawned = time.time()
    cmd = [build.java(), "-XX:-UsePerfData", "-Xms3g", "-Xmx3g", "-Xss16m",
           f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}:{os.path.join(build.spark_jars(), '*')}", "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--spawned", repr(spawned)]
    log_path = os.path.join(work, "jvm.log")
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
            limit = (BUILD_LIMIT_S if built else LIMIT_S) - MARGIN_S
            try:
                rc = proc.wait(timeout=max(1.0, started + limit - time.time()))
            except subprocess.TimeoutExpired:
                rc = "timeout"
            finally:
                # also on SIGTERM or Ctrl-C: never leave the JVM running
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
        if rc != 0:
            with open(log_path, errors="replace") as fh:
                sys.stderr.write(fh.read()[-6000:])
            sys.exit(f"benchmark JVM failed: {rc}")
        with open(os.path.join(work, "result.json")) as fh:
            res = json.load(fh)
        failures = list(res["failures"])
        if "x93_out" in res["extra"]:
            failures += check_x93(res["extra"], work)
        wall = time.time() - spawned
        cpu1, box = cpu_seconds(), wall * os.cpu_count()
        foreign = (cpu1[0] - cpu0[0] - (own_cpu_seconds() - own0)) / box
        stolen = (cpu1[1] - cpu0[1]) / box
    finally:
        shutil.rmtree(work, ignore_errors=True)

    missing = [m["name"] for m in wanted if res["metrics"].get(m["name"]) is None]
    if missing:
        sys.exit(f"benchmark did not report {missing}")
    failed = min(len(failures), res["attempted"])
    stamp = dict(res["stamp"], workload=a.workload, seed=a.seed, trace=a.trace,
                 nproc=os.cpu_count(), commit=commit(), source_digest=source_digest,
                 loadavg_before=load_before, loadavg_after=loadavg(),
                 foreign_cpu_share=round(foreign, 4), stolen_cpu_share=round(stolen, 4),
                 contended=foreign > CONTENDED_SHARE,
                 op_seconds=res["ops"], failures=failures[:20])
    print(json.dumps({"stamp": stamp}))
    print(json.dumps({
        "correct": failed == 0, "attempted": res["attempted"], "failed": failed,
        "metrics": {m["name"]: {"value": res["metrics"][m["name"]], "unit": m["unit"]}
                    for m in wanted}}))


if __name__ == "__main__":
    main()
