#!/usr/bin/env python3
"""graft's benchmark: one run of one workload.

    python3 perfbench/run.py --workload star --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The harness (perfbench/src) is built
together with graft's own sources into one jar on first use (sbt, offline)
and rebuilt when any of them changes. Each run:

  1. generates the workload's inputs from --seed (gen.py);
  2. starts a fresh JVM running perfbench.Harness, which runs a check pass,
     warm passes, then about --seconds of timed passes in a closed loop;
  3. compares every query's check-pass output with its DuckDB oracle, the
     same compare as dev/check.py (the ingest checks run in the JVM);
  4. prints a readable report, then one JSON line with the end-to-end
     metrics (--trace 0) or the per-layer metrics (--trace 1).

Work files live in .perfbench_work/ (removed after the run); the report,
the spans and the per-query ledger of the last run of each workload stay
in .perfbench_results/. Exits non-zero if the build, a run or a check
fails.
"""
import argparse
import glob
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402

# scale factor of the generated base tables (scale10 is a 10x replica)
SF = 0.01
# untimed passes after the check pass; ingest's check pass already runs
# every step the way a timed pass does
WARM = {"curate": 2, "scale10": 2, "ingest": 0}
# a timed pass's usual length with its cleanup (4 cores): --seconds buys
# round(seconds / PASS_S) passes, at least one
PASS_S = {"curate": 4.2, "scale10": 5.0, "ingest": 10.0}
JVM_TIMEOUT_S = 150
ARCHIVE = os.path.join(HERE, "target", "perfbench.jsa")
HEAP, YOUNG = "3g", "512m"
END_TO_END = ["setup_s", "wall_s", "query_p50_s", "query_tail_s", "cpu_s",
              "peak_rss_mb", "success_rate"]
UNITS = {"setup_s": "s", "wall_s": "s", "query_p50_s": "s", "query_tail_s": "s",
         "cpu_s": "s", "peak_rss_mb": "MB", "success_rate": "ratio"}
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def build_inputs():
    graft_src = os.path.join(ROOT, "src", "main")
    if not os.path.isdir(os.path.join(graft_src, "scala", "graft")):
        fail(f"graft sources not found under {graft_src}")
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for base in [graft_src, os.path.join(HERE, "src")]:
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build(log_path):
    """Package the harness and graft into one jar (sbt, offline) unless the
    sources are unchanged since the last build. Returns the jar."""
    jar = os.path.join(HERE, "target", "perfbench.jar")
    stamp_path = os.path.join(HERE, "target", "perfbench.stamp")
    h = hashlib.sha256()
    for f in build_inputs():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    if os.path.exists(jar) and os.path.exists(stamp_path) and \
            open(stamp_path).read() == stamp:
        return jar
    for stale in (stamp_path, ARCHIVE):
        if os.path.exists(stale):
            os.remove(stale)
    env = dict(os.environ, COURSIER_MODE="offline")
    with open(log_path, "w") as log:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "package"],
                           cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL)
    if r.returncode != 0:
        sys.stderr.write(open(log_path).read()[-4000:])
        fail("build failed")
    with open(stamp_path, "w") as f:
        f.write(stamp)
    return jar


def run_jvm(jar, work, data, args):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    jars = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars", "*")
    os.makedirs(f"{work}/tmp", exist_ok=True)
    # class-data sharing: the first run after a build archives the classes
    # it loaded, later runs map that archive instead of loading them again
    cds = f"-XX:SharedArchiveFile={ARCHIVE}" if os.path.exists(ARCHIVE) \
        else f"-XX:ArchiveClassesAtExit={ARCHIVE}"
    # graft.Bench's JVM flags; the young generation is fixed so the heap,
    # and with it peak_rss_mb, sizes the same way in every run
    cmd = [java, *ADD_OPENS, cds, "-XX:ReservedCodeCacheSize=512m", f"-Xmx{HEAP}",
           f"-Xms{HEAP}", f"-Xmn{YOUNG}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={work}/tmp", "-cp", f"{jar}{os.pathsep}{jars}",
           "perfbench.Harness", "--workload", args.workload, "--data", data,
           "--out", f"{work}/out", "--seed", str(args.seed),
           "--passes", str(max(1, round(args.seconds / PASS_S[args.workload]))),
           "--trace", str(args.trace),
           "--warm", str(WARM[args.workload]), "--cores", str(args.cores)]
    with open(f"{work}/jvm.log", "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if code != 0:
        sys.stderr.write(open(f"{work}/jvm.log").read()[-4000:])
        fail(f"harness JVM exited with {code}", 1)
    with open(f"{work}/out/result.json") as f:
        return json.load(f)


def load_check_py():
    spec = importlib.util.spec_from_file_location(
        "graft_check", os.path.join(ROOT, "dev", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def oracle_compare(data, out):
    """dev/check.py's compare of every check-pass output with its oracle:
    row count, sorted column names, and a digest over all values. Returns
    the failure messages."""
    import duckdb
    check = load_check_py()
    oracles = json.load(open(f"{out}/check/oracle_sql.json"))
    con = duckdb.connect()
    for t in gen.TABLES:
        p = f"{data}/{t}.parquet"
        src = f"read_parquet('{p}/*.parquet')" if os.path.isdir(p) else f"'{p}'"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM {src}")
    failures = []
    for name, sql in sorted(oracles.items()):
        files = glob.glob(f"{out}/check/{name}/*.parquet")
        if not files:
            failures.append(f"{name}: no output")
            continue
        try:
            s = con.execute(f"SELECT * FROM read_parquet({files!r})")
            scols, srows = [d[0] for d in s.description], s.fetchall()
            o = con.execute(sql)
            ocols, orows = [d[0] for d in o.description], o.fetchall()
        except Exception as e:  # an oracle that cannot run is a failure
            failures.append(f"{name}: {e}")
            continue
        if sorted(scols) != sorted(ocols) or len(srows) != len(orows) or \
                check.table_digest(scols, srows) != check.table_digest(ocols, orows):
            failures.append(f"{name}: differs from its oracle "
                            f"({len(srows)} vs {len(orows)} rows)")
    return failures


def tail(latencies):
    """The highest percentile with at least 10 samples beyond it, as long as
    that is not below the median; otherwise (runs of fewer than 20 samples)
    the maximum. Returns (value, percentile, samples beyond it)."""
    xs = sorted(latencies)
    n = len(xs)
    rank = n - 10 if n >= 20 else n
    return xs[rank - 1], 100 * rank // n, n - rank


def end_to_end(res, setup_s):
    plain = [p for p in res["passes"] if not p["traced"]]
    lat = [x for p in plain for x in p["latencies"]]
    value, pct, n = tail(lat)
    return {
        "setup_s": setup_s,
        "wall_s": statistics.median(p["wall_s"] for p in plain),
        "query_p50_s": statistics.median(lat),
        "query_tail_s": value,
        "cpu_s": statistics.median(p["cpu_s"] for p in plain),
        "peak_rss_mb": res["peak_rss_mb"],
    }, {"query_tail_pct": pct, "query_tail_beyond": n, "query_samples": len(lat)}


def per_layer(res):
    """Medians over the traced passes, plus the tracing overhead: each traced
    pass's wall minus the mean of the untraced passes either side of it."""
    ps = res["passes"]
    traced = [p for p in ps if p["traced"]]
    out = {k: statistics.median(p["layers"][k] for p in traced)
           for k in traced[0]["layers"]}
    out["trace.overhead_s"] = statistics.median(
        ps[i]["wall_s"] - (ps[i - 1]["wall_s"] + ps[i + 1]["wall_s"]) / 2
        for i in range(1, len(ps) - 1) if ps[i]["traced"])
    return out


def layer_unit(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb") or name.endswith("_mb_peak"):
        return "MB"
    if name.endswith("_share") or name in ("spark.parallelism", "shuffle.skew"):
        return "ratio"
    return "count"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WARM))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cores", type=int, default=os.cpu_count(),
                    help="Spark local[N] (default: every core)")
    args = ap.parse_args()
    # a terminated run still stops its JVM and removes its work files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    results = os.path.join(ROOT, ".perfbench_results")
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(results, exist_ok=True)
    try:
        jar = build(os.path.join(results, "build.log"))
        data = f"{work}/data"
        t0 = time.time()
        gen.generate(args.workload, data, args.seed, SF)
        gen_s = time.time() - t0
        rows, size = gen.input_stats(data)
        t0 = time.time()
        res = run_jvm(jar, work, data, args)
        jvm_s = time.time() - t0
        failures = list(res["check_failures"])
        t0 = time.time()
        if args.workload != "ingest":
            failures += oracle_compare(data, f"{work}/out")
        oracle_s = time.time() - t0
        attempted = res["check_attempted"] + sum(p["attempted"] for p in res["passes"])
        failed = len(failures) + sum(p["failed"] for p in res["passes"])
        e2e, tail_info = end_to_end(res, gen_s + res["setup_jvm_s"])
        e2e["success_rate"] = 1.0 - failed / attempted
        report = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                  "input_rows": rows, "input_bytes": size, "input_gen_s": gen_s,
                  "setup_jvm_s": res["setup_jvm_s"], "session_s": res["session_s"],
                  "check_s": res["check_s"], "jvm_s": jvm_s, "oracle_s": oracle_s,
                  "passes": len(res["passes"]), "timed_s": res["timed_s"],
                  "pass_walls": [p["wall_s"] for p in res["passes"]],
                  "error_rate": failed / attempted, "failures": failures,
                  **tail_info, "end_to_end": e2e}
        if args.trace:
            report["per_layer"] = per_layer(res)
            shutil.copy(f"{work}/out/trace.json",
                        os.path.join(results, f"{args.workload}-trace.json"))
        with open(os.path.join(results, f"{args.workload}-report.json"), "w") as f:
            json.dump(report, f, indent=1)
    finally:
        for src, dst in [("jvm.log", "jvm.log"), ("out/check/oracle_sql.json", "oracle_sql.json")]:
            if os.path.exists(f"{work}/{src}"):
                shutil.copy(f"{work}/{src}", os.path.join(results, f"{args.workload}-{dst}"))
        shutil.rmtree(work, ignore_errors=True)

    print(f"# workload {args.workload}  seed {args.seed}  input {rows} rows, "
          f"{size} bytes  passes {report['passes']}  error_rate {report['error_rate']:.4f}")
    for k in END_TO_END:
        print(f"#   {k:<14} {e2e[k]:>12.4f} {UNITS[k]}")
    print(f"#   query_tail_s is p{tail_info['query_tail_pct']} of "
          f"{tail_info['query_samples']} samples, {tail_info['query_tail_beyond']} beyond it")
    for msg in failures:
        print(f"# FAILED {msg}")
    if args.trace:
        metrics = {k: {"value": v, "unit": layer_unit(k)}
                   for k, v in sorted(report["per_layer"].items())}
    else:
        metrics = {k: {"value": e2e[k], "unit": UNITS[k]} for k in END_TO_END}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
