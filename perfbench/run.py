#!/usr/bin/env python3
"""Benchmark of the graft engine: one closed-loop client per run, one fresh
JVM per run, on the engine's own session profile (`Engine.session`,
local[N] with N = the CPUs this process may use).

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run compiles the engine's
sources and the harness with scalac from the engine's jar directory (the
`unmanagedBase` of build.sbt); later runs reuse the build while the sources
are unchanged. A run generates its inputs, runs the
untimed warm-up passes, then the measured passes, checks every op's output
once after the timed window, and prints one JSON line last. `--trace 0` reports the
end-to-end metrics of BENCHMARK.json; `--trace 1` interleaves untraced and
traced passes and reports the per-layer metrics, derived from spans around
the harness's calls into each layer and from a SparkListener that counts
each op's Spark work. Everything a run writes lives in one directory under
perfbench/.work/ that is deleted when the run ends. Workload choices and the
layer-to-end-to-end map are in perfbench/README.md.
"""
import time

PROCESS_START_US = int(time.time() * 1e6)

import argparse  # noqa: E402  (imports count toward set-up time)
import hashlib
import json
import os
import random
import re
import shutil
import signal
import subprocess
import sys

import duckdb

import fixtures
import metrics

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(HERE, "target", "classes")
BUILD_STAMP = os.path.join(HERE, "target", "perfbench-build.json")

SQL_OLAP = [
    "q01_pricing_summary", "q02_revenue_by_nation", "q03_top_orders",
    "q04_segment_top_customers", "q05_running_revenue", "q06_distinct_counts",
    "q07_semi_join", "q08_anti_join", "q09_set_ops", "q10_rollup", "q11_cube",
    "q12_having", "q13_scalar_funcs", "q14_above_brand_avg",
    "q37_grouping_sets", "q38_subquery_decorrelation", "q50_range_join",
    "q52_sortmerge_join"]
ELT = ["ctas", "export", "readback"]

# Per workload: its ops, the input size, and the nominal pass wall on a
# 4-CPU host, which turns --seconds into a fixed number of measured passes
# so every run of a workload reports over the same sample count. min_passes
# keeps more than 10 op samples, so the tail percentile exists (for
# sql_olap, three passes: the tail lies well above the median, and one
# disturbed pass does not move the pass median or an op's median).
WORKLOADS = {
    "elt_m33": dict(ops=ELT, fixed_order=True, m33_rows_per_file=50000,
                    nominal_pass_s=3.3, min_passes=6),
    "sql_olap": dict(ops=SQL_OLAP, scale=0.01, nominal_pass_s=12.0, min_passes=3),
}
JVM_TIMEOUT_S = 160
OP_TIMEOUT_S = 60

JDK17_ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The engine's jar directory as the repo's build declares it
    (`unmanagedBase` in build.sbt): Spark, the Scala library and the Scala
    compiler the engine is built with."""
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not m or not os.path.isdir(m.group(1)):
        fail("build.sbt names no jar directory (unmanagedBase) that exists")
    return m.group(1)


def scala_sources():
    return [os.path.join(d, f)
            for base in (ENGINE_SRC, os.path.join(HERE, "src"))
            for d, _, files in sorted(os.walk(base))
            for f in sorted(files) if f.endswith(".scala")]


def sources_digest(sources, jars):
    h = hashlib.sha256(jars.encode())
    for p in sources + [os.path.join(ROOT, "build.sbt")]:
        h.update(p[len(ROOT):].encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the engine's sources and the harness in one scalac pass,
    with the Scala compiler from the engine's jar directory; returns the
    runtime classpath and whether a build ran. Skipped while the sources
    match the last build. Writes only under perfbench/target/."""
    if not os.path.isdir(ENGINE_SRC):
        fail(f"no engine sources at {os.path.relpath(ENGINE_SRC, ROOT)}: "
             "run from the root of a full checkout")
    jars = spark_jars()
    classpath = f"{CLASSES}:{jars}/*"
    sources = scala_sources()
    digest = sources_digest(sources, jars)
    if os.path.exists(BUILD_STAMP):
        with open(BUILD_STAMP) as fh:
            if json.load(fh).get("digest") == digest:
                return classpath, False
    target = os.path.dirname(BUILD_STAMP)
    staging = CLASSES + ".tmp"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(os.path.join(target, "tmp"), exist_ok=True)
    os.makedirs(staging)
    argfile = os.path.join(target, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(sources) + "\n")
    proc = subprocess.run(
        ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
         f"-Djava.io.tmpdir={os.path.join(target, 'tmp')}", "-cp", f"{jars}/*",
         "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", staging, f"@{argfile}"],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=840)
    if proc.returncode != 0:
        sys.stderr.write("\n".join(proc.stdout.splitlines()[-40:]) + "\n")
        fail("build failed")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(staging, CLASSES)
    with open(BUILD_STAMP, "w") as fh:
        json.dump({"digest": digest}, fh)
    return classpath, True


def cpu_times():
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    return vals[7] if len(vals) > 7 else 0, sum(vals[:8])


def schedule(spec, seed, seconds, trace):
    """The generated schedule: one warm-up pass, then the measured passes;
    the seed permutes each pass's op order (elt_m33's order is fixed by data
    dependence). Traced runs measure untraced and traced passes in
    U T T U blocks, so a warming trend cancels out of the overhead."""
    rng = random.Random(seed)
    n = max(spec["min_passes"], round(seconds / spec["nominal_pass_s"]))
    if trace:
        n = 4 * -(-n // 4)
    passes = []
    for i in range(1 + n):
        ops = list(spec["ops"])
        if not spec.get("fixed_order"):
            rng.shuffle(ops)
        passes.append({"kind": "warmup" if i == 0 else "measure",
                       "traced": bool(trace) and i > 0 and (i - 1) % 4 in (1, 2),
                       "ops": ops})
    return passes


def check_catalog(checks, data_dir):
    """Compare each op's output with its DuckDB oracle over the same tables:
    row count plus order-insensitive row hash. Returns {op: ok}."""
    con = duckdb.connect()
    for t in fixtures.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    out, ok = checks["outputs_dir"], {}
    for op, sql in checks["oracle_sql"].items():
        if op not in checks["written"]:
            ok[op] = False
            continue
        try:
            got = con.execute(f"SELECT * FROM '{out}/{op}/*.parquet'")
            got_cols = [d[0] for d in got.description]
            got_digest = metrics.row_digest(got.fetchall(), got_cols)
            want = con.execute(sql)
            want_cols = [d[0] for d in want.description]
            want_digest = metrics.row_digest(want.fetchall(), want_cols)
            ok[op] = sorted(got_cols) == sorted(want_cols) and got_digest == want_digest
        except duckdb.Error as e:
            print(f"perfbench: {op} check error: {str(e)[:200]}", file=sys.stderr)
            ok[op] = False
        if not ok[op]:
            print(f"perfbench: {op} output differs from its oracle", file=sys.stderr)
    con.close()
    return ok


def m33_expected(rows_per_file):
    """Per-(age, is_peculiar) row count, sum of flam*10 and sum of
    wavelength*100, from the closed form of M33Fixture.flam."""
    want = []
    for pec in (0, 1):
        for age in (11, 12):
            cents = range(300000, 300000 + rows_per_file)
            flam10 = sum((c * 31 + age * 7 + (13 if pec else 0)) % 999983 for c in cents)
            want.append([age, pec, rows_per_file, flam10, sum(cents)])
    return sorted(want)


def check_elt(checks, rows_per_file):
    want = m33_expected(rows_per_file)
    ok = {"ctas": sorted(checks["ctas_groups"]) == want,
          "export": sorted(checks["jdbc_groups"]) == want,
          "readback": checks["readback_rows"] == 100 == checks["readback_found"]}
    for op, good in ok.items():
        if not good:
            print(f"perfbench: {op} output check failed", file=sys.stderr)
    return ok


def end_to_end(result, setup_start_us):
    """The end-to-end metrics of an untraced run. query_p50_s is the median
    over ops of each op's median latency: the middle of a mix of different
    queries, robust to which pass a slow sample fell in. query_tail_s is
    taken over all op samples."""
    measured = [p for p in result["passes"] if p["kind"] == "measure"]
    by_op = {}
    for p in measured:
        for o in p["ops"]:
            if o["ok"]:
                by_op.setdefault(o["op"], []).append((o["end_us"] - o["start_us"]) / 1e6)
    lat = [x for xs in by_op.values() for x in xs]
    tail, pct, n = metrics.tail(lat)
    if tail is None:
        fail(f"{n} op samples: the tail needs more than {metrics.TAIL_BEYOND}")
    return {
        "setup_s": (result["first_timed_us"] - setup_start_us) / 1e6,
        "pass_s": metrics.median([(p["end_us"] - p["start_us"]) / 1e6 for p in measured]),
        "query_p50_s": metrics.median([metrics.median(xs) for xs in by_op.values()]),
        "query_tail_s": tail,
    }, {"query_tail_percentile": round(pct, 2), "query_samples": n}


def per_layer(result, cpus, all_ops):
    """Every per-layer metric from the traced passes' spans and jobs.
    Ops a workload does not run report 0 work and 0 time."""
    spans = result["spans"]
    by_id = {s["id"]: s for s in spans}
    jobs_by_span = {}
    for j in result["jobs"]:
        parts = j["group"].split("-")
        if len(parts) > 1 and parts[0] == "pb" and parts[1].isdigit():
            jobs_by_span.setdefault(int(parts[1]), []).append(j)
    iv = lambda x: (x["start_us"], x["end_us"])
    dur = lambda x: (x["end_us"] - x["start_us"]) / 1e6
    pass_spans = [s for s in spans if s["name"] == "pass"]
    op_spans = [s for s in spans if s["name"] == "op"]
    per_pass = []
    op_s, op_jobs = {}, {}
    for ps in pass_spans:
        ops = [s for s in op_spans if s["parent"] == ps["id"]]
        jobs = [j for s in ops for j in jobs_by_span.get(s["id"], [])]
        task_s = sum(j["task_ms"] for j in jobs) / 1000
        read = sum(j["bytes_read"] for j in jobs)
        written = sum(j["bytes_written"] for j in jobs)
        tasks = sum(j["tasks"] for j in jobs)
        children = lambda name: [s for s in spans if s["name"] == name
                                 and by_id.get(s["parent"], {}).get("parent") == ps["id"]]
        per_pass.append({
            "core.jobs": len(jobs),
            "core.tasks": tasks,
            "core.tasks_per_job": tasks / len(jobs) if jobs else 0.0,
            "core.task_s": task_s,
            "core.core_util": task_s / (dur(ps) * cpus),
            "core.driver_gap_s": sum(
                metrics.self_time(s["start_us"], s["end_us"],
                                  [iv(j) for j in jobs_by_span.get(s["id"], [])])
                for s in ops) / 1e6,
            "core.job_overlap": metrics.job_overlap([iv(j) for j in jobs]),
            "core.shuffle_write_bytes": sum(j["shuffle_write_bytes"] for j in jobs),
            "core.shuffle_read_bytes": sum(j["shuffle_read_bytes"] for j in jobs),
            "core.spill_bytes": sum(j["spill_bytes"] for j in jobs),
            "core.peak_exec_mem_bytes": max([j["peak_exec_mem_bytes"] for j in jobs] or [0]),
            "sources.bytes_read": read,
            "pipeline.write_amp": written / read if read else 0.0,
            "sinks.ddl_s": sum(dur(s) for s in children("sinks.ddl")),
            "sinks.rows_written": sum(j["records_written"] for s in ops
                                      if s["op"] == "export"
                                      for j in jobs_by_span.get(s["id"], [])),
        })
        for s in ops:
            op_s.setdefault(s["op"], []).append(dur(s))
            op_jobs.setdefault(s["op"], []).append(len(jobs_by_span.get(s["id"], [])))
    out = {k: metrics.median([p[k] for p in per_pass]) for k in per_pass[0]}
    gc = [p["gc_ms"] / 1000 for p in result["passes"] if p["traced"]]
    out["core.gc_s"] = metrics.median(gc)
    out["core.session_start_s"] = sum(dur(s) for s in spans if s["name"] == "core.session_start")
    out["sources.fixture_gen_s"] = sum(dur(s) for s in spans if s["name"] == "sources.fixture_gen")
    spark_s = [dur(s) for s in spans if s["name"] == "sinks.export_spark"]
    out["sinks.export_spark_s"] = metrics.median(spark_s) if spark_s else 0.0
    out["sinks.export_sink_s"] = (metrics.median(op_s["export"]) - out["sinks.export_spark_s"]
                                  if "export" in op_s else 0.0)
    for op in all_ops:
        out[f"op.{op}.s"] = metrics.median(op_s[op]) if op in op_s else 0.0
        out[f"op.{op}.jobs"] = metrics.median(op_jobs[op]) if op in op_jobs else 0
    walls = lambda traced: [(p["end_us"] - p["start_us"]) / 1e6 for p in result["passes"]
                            if p["kind"] == "measure" and p["traced"] == traced]
    out["trace.overhead_s"] = metrics.median(walls(True)) - metrics.median(walls(False))
    return out


def run_all(args):
    """Run every workload in turn, each in its own process, and print its
    metrics by name and unit. Exits non-zero if any run failed a check."""
    bad = 0
    for w in WORKLOADS:
        proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), "--workload", w, "--seed",
             str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True)
        try:
            lines = proc.communicate()[0].splitlines()
        finally:  # SIGTERM, so the child stops its own JVM
            if proc.poll() is None:
                proc.terminate()
                proc.wait()
        if proc.returncode != 0 and not lines:
            print(f"{w}: failed (exit {proc.returncode})")
            bad += 1
            continue
        info = json.loads(lines[-2][len("info "):]) if len(lines) > 1 else {}
        out = json.loads(lines[-1])
        bad += proc.returncode != 0 or not out["correct"]
        print(f"{w}: correct={out['correct']} attempted={out['attempted']} "
              f"failed={out['failed']}")
        for name, m in out["metrics"].items():
            print(f"  {name:<32} {m['value']:>16.6g} {m['unit']}")
        for name, v in info.items():
            print(f"  {name:<32} {json.dumps(v)}")
    sys.exit(1 if bad else 0)


def main():
    # a terminated run still stops its JVM and deletes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.workload == "all":
        run_all(args)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    classpath, built = build()

    # set-up runs from process start to the first timed op; a build is a
    # once-per-checkout cost and is not part of it
    setup_start_us = int(time.time() * 1e6) if built else PROCESS_START_US
    steal0, total0 = cpu_times()
    spec = WORKLOADS[args.workload]
    cpus = len(os.sched_getaffinity(0))
    run_dir = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    try:
        pre_spans = []
        plan = {"workload": args.workload, "trace": bool(args.trace), "cpus": cpus,
                "run_dir": run_dir, "op_timeout_s": OP_TIMEOUT_S,
                "out": os.path.join(run_dir, "result.json"),
                "passes": schedule(spec, args.seed, args.seconds, args.trace)}
        if "scale" in spec:
            data_dir = os.path.join(run_dir, "data")
            t0 = int(time.time() * 1e6)
            fixtures.generate(data_dir, spec["scale"])
            pre_spans.append({"name": "sources.fixture_gen", "start_us": t0,
                              "end_us": int(time.time() * 1e6)})
            plan["data_dir"] = data_dir
        else:
            plan["m33_rows_per_file"] = spec["m33_rows_per_file"]
        plan["pre_spans"] = pre_spans
        with open(os.path.join(run_dir, "plan.json"), "w") as fh:
            json.dump(plan, fh)

        java = ["java"] + [a for p in JDK17_ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
        java += ["-Xmx3g", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
                 "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={run_dir}/tmp",
                 "-cp", classpath,
                 "perfbench.Harness", os.path.join(run_dir, "plan.json")]
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus),
                   SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
        log_path = os.path.join(run_dir, "jvm.log")
        with open(log_path, "w") as log:
            proc = subprocess.Popen(java, cwd=run_dir, env=env, stdout=log, stderr=log)
            try:
                code = proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                code = None
            finally:  # also on SIGTERM: never leave the JVM behind
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
        if code != 0:
            with open(log_path) as fh:
                sys.stderr.write("".join(fh.readlines()[-40:]))
            fail(f"harness JVM {'timed out' if code is None else f'exited {code}'}")
        with open(plan["out"]) as fh:
            result = json.load(fh)
        steal1, total1 = cpu_times()

        if args.workload == "elt_m33":
            checked = check_elt(result["checks"], spec["m33_rows_per_file"])
        else:
            checked = check_catalog(result["checks"], data_dir)
        measured = [o for p in result["passes"] if p["kind"] == "measure" for o in p["ops"]]
        failed = sum(1 for o in measured if not o["ok"] or not checked.get(o["op"], False))
        attempted = len(measured)

        if args.trace:
            # the trace outlives the run directory, for reading spans and jobs
            with open(os.path.join(HERE, ".work", f"trace-{args.workload}-{args.seed}.json"),
                      "w") as fh:
                json.dump({"spans": result["spans"], "jobs": result["jobs"]}, fh)
            values = per_layer(result, cpus, ELT + SQL_OLAP)
            names = bench["per_layer"]
            extra = {}
        else:
            values, extra = end_to_end(result, setup_start_us)
            names = bench["end_to_end"]
            extra["session_start_s"] = result["session_start_s"]
            extra["warmup_s"] = result["warmup_s"]
            extra["pass_walls_s"] = [round((p["end_us"] - p["start_us"]) / 1e6, 3)
                                     for p in result["passes"] if p["kind"] == "measure"]
            extra["fail_ratio"] = metrics.fail_ratio(attempted, failed)
            if args.workload == "elt_m33":
                rows = 4 * spec["m33_rows_per_file"]
                for op, key in (("ctas", "ctas_rows_per_s"), ("export", "export_rows_per_s")):
                    extra[key] = metrics.rows_per_s(
                        rows, [(o["end_us"] - o["start_us"]) / 1e6
                               for o in measured if o["op"] == op])
        host = {"nproc": cpus, "cpu_steal_pct": round(
                    100.0 * (steal1 - steal0) / max(1, total1 - total0), 3),
                "seed": args.seed, "workload": args.workload, "trace": args.trace,
                "passes": len([p for p in plan["passes"] if p["kind"] == "measure"]),
                "checks": checked, **result["host"]}
        print("host " + json.dumps(host, sort_keys=True))
        print("info " + json.dumps(extra, sort_keys=True))
        out = {"correct": failed == 0, "attempted": attempted, "failed": failed,
               "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                           for m in names}}
        print(json.dumps(out))
        sys.stdout.flush()
        if failed:
            sys.exit(1)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
