#!/usr/bin/env python3
"""The repository benchmark: the paper's daily CLV run and a read-only
query mix, one closed-loop client in one JVM per run.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload daily_history --seed 1 --seconds 20 --trace 0

Workloads: daily_history, query_mix (see perfbench/README.md).
The first run builds the program and the benchmark from source with sbt
into .bench_build/; later runs reuse that build while the sources are
unchanged. The JVM writes a raw run record; this script checks every output
against an independent recompute, then prints each metric with its unit
and, as the last line, one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones; with --trace 1 the per-layer ones.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys

import duckdb

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
# the project's generated TPC-H-style test tables (TESTDATA.md)
SF_DIR = "/root/testdata/sf0.01"
WORKLOADS = ("daily_history", "query_mix")
JVM_TIMEOUT_S = 165

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "scored_per_s": "1/s",
}

DAILY_LAYERS = {}
for _name, _metrics in [
        ("io.registry_max", ["jobs", "driver_s"]),
        ("io.append_staging", ["jobs", "exec_run_s", "write_mb"]),
        ("io.append_registry", ["jobs"]),
        ("rfm.features_write", ["jobs", "shuffle_write_mb", "spill_mb",
                                "exec_run_s", "gc_s", "driver_s"]),
        ("firewall.validate", ["jobs", "shuffle_write_mb", "exec_run_s",
                               "driver_s"]),
        ("clv.fit", ["jobs", "result_kb", "exec_run_s", "driver_s"]),
        ("clv.score_write", ["jobs", "exec_run_s", "write_mb"])]:
    DAILY_LAYERS[_name + "_s"] = "s"
    for _m in _metrics:
        DAILY_LAYERS[f"{_name}.{_m}"] = (
            "s" if _m.endswith("_s") else "MB" if _m.endswith("_mb")
            else "KB" if _m.endswith("_kb") else "count")
DAILY_LAYERS.update({
    "day.jobs": "count", "day.tasks": "count", "day.gc_s": "s",
    "day.residual_s": "s", "day.trace_overhead_s": "s",
    "io.append_staging.txn_per_s": "1/s", "io.store.write_amp": "ratio",
    "io.store.staging_files": "count", "io.store.staging_mb": "MB",
    "io.store.snapshot_versions": "count",
})
QUERIES = ["q_rfm_features", "q_clv_scores", "q_join_star", "q_dedup_minhash",
           "q_pagerank", "q_sssp", "q_closeness", "q_hits"]
MIX_LAYERS = {}
for _q in QUERIES:
    MIX_LAYERS[f"query.{_q}_s"] = "s"
    MIX_LAYERS[f"query.{_q}.jobs"] = "count"
    MIX_LAYERS[f"query.{_q}.stages"] = "count"
    MIX_LAYERS[f"query.{_q}.shuffle_write_mb"] = "MB"
    MIX_LAYERS[f"query.{_q}.driver_s"] = "s"
MIX_LAYERS["mix.trace_overhead_s"] = "s"
PER_LAYER = {**DAILY_LAYERS, **MIX_LAYERS, "jvm.rss_peak_mb": "MB"}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_stamp():
    """Hash of everything the build compiles, so a changed tree rebuilds."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
            os.path.join(BENCH, "build.sbt"),
            os.path.join(BENCH, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles program + benchmark with sbt unless the stamp matches;
    returns the runtime classpath."""
    os.makedirs(BUILD, exist_ok=True)
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = sources_stamp()
        if (os.path.exists(cp_file) and os.path.exists(stamp_file)
                and open(stamp_file).read() == stamp):
            return open(cp_file).read()
        log("building program and benchmark with sbt")
        shutil.rmtree(os.path.join(BUILD, "digests"), ignore_errors=True)
        repos = os.path.expanduser("~/.sbt/repositories")
        env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=(
            "-Dsbt.override.build.repos=true "
            f"-Dsbt.repository.config={repos} "
            "-Dsbt.offline=true -Dsbt.server.autostart=false -Xmx2g"))
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=subprocess.PIPE, text=True, timeout=840)
        lines = [l for l in p.stdout.splitlines() if l.strip()]
        if p.returncode != 0 or not lines or lines[-1].startswith("["):
            sys.stdout.write(p.stdout[-4000:])
            raise SystemExit(f"sbt build failed (exit {p.returncode})")
        with open(cp_file, "w") as f:
            f.write(lines[-1].strip())
        with open(stamp_file, "w") as f:
            f.write(stamp)
        return lines[-1].strip()


def cpu_jiffies():
    """(steal, total) from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def driver_heap():
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    return "4g"


def run_jvm(classpath, args, work, result):
    nproc = os.cpu_count()
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(nproc))
    if int(cpus) > nproc:
        raise SystemExit(f"SPARK_GRAFT_CPUS={cpus} exceeds nproc={nproc}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    cmd = ["java"]
    for o in opens:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += [f"-Xmx{driver_heap()}", "-XX:+UseG1GC",
            "-XX:ReservedCodeCacheSize=512m",
            f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "-cp", classpath, "perfbench.Main",
            args.workload, str(args.seed), str(args.seconds), str(args.trace),
            work, SF_DIR, result]
    env = dict(os.environ, SPARK_GRAFT_CPUS=cpus, SPARK_LOCAL_DIRS=tmp)
    p = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr)
    try:
        code = p.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        raise SystemExit(f"benchmark JVM exceeded {JVM_TIMEOUT_S} s")
    if code != 0 or not os.path.exists(result):
        raise SystemExit(f"benchmark JVM failed (exit {code})")
    with open(result) as f:
        return json.load(f)


# ---------------------------------------------------------------- checks

def check_daily(rec, workload):
    """Output checks on the final store, untimed: an independent DuckDB
    recompute of RFM-T, the scored population, the scoring envelope, and
    the per-day digests against earlier runs of the same seed."""
    info = rec["info"]
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    staging = f"read_parquet('{info['staging']}/*.parquet')"
    feats = f"read_parquet('{info['features_root']}/{info['features']}/*.parquet')"
    pred = f"read_parquet('{info['predicted_clv_root']}/{info['predicted_clv']}/*.parquet')"
    as_of = info["last_as_of"]
    fails = []

    # RFM-T recompute from staging must equal the features snapshot.
    # Integer and date columns compare exactly. monetary_value is an AVG of
    # doubles whose summation order differs between engines, so it compares
    # to the last few ulps (relative 1e-12).
    recompute = f"""
      SELECT CAST(CustomerID AS BIGINT) AS customer_id,
        CAST(date_diff('day', CAST(min(order_timestamp) AS DATE),
                       CAST(max(order_timestamp) AS DATE)) AS BIGINT) AS recency,
        CAST(date_diff('day', CAST(min(order_timestamp) AS DATE),
                       DATE '{as_of}') AS BIGINT) AS t,
        CAST(count(DISTINCT CAST(order_timestamp AS DATE)) - 1 AS BIGINT) AS frequency,
        avg(TotalPurchase) AS monetary_value,
        CAST(min(order_timestamp) AS DATE) AS first_purchase,
        CAST(max(order_timestamp) AS DATE) AS last_purchase
      FROM {staging} GROUP BY 1"""
    bad, n_exp, n_got = con.execute(f"""
      WITH e AS ({recompute}), g AS (SELECT * FROM {feats})
      SELECT count(*) FILTER (WHERE e.customer_id IS NULL OR g.customer_id IS NULL
               OR e.recency IS DISTINCT FROM g.recency
               OR e.t IS DISTINCT FROM g.t
               OR e.frequency IS DISTINCT FROM g.frequency
               OR e.first_purchase IS DISTINCT FROM g.first_purchase
               OR e.last_purchase IS DISTINCT FROM g.last_purchase
               OR abs(e.monetary_value - g.monetary_value)
                  > 1e-12 * abs(e.monetary_value)),
             count(e.customer_id), count(g.customer_id)
      FROM e FULL OUTER JOIN g ON e.customer_id = g.customer_id""").fetchone()
    if bad:
        fails.append(f"RFM-T recompute: {bad} of {n_exp} customers differ "
                     f"from the features snapshot ({n_got} rows)")

    # predicted_clv scores exactly the returning customers.
    returning, = con.execute(
        f"SELECT count(*) FROM {feats} WHERE frequency > 0 AND monetary_value > 0"
    ).fetchone()
    scored, = con.execute(f"SELECT count(*) FROM {pred}").fetchone()
    if scored != returning or scored != info["last_scored"]:
        fails.append(f"predicted_clv has {scored} rows, {returning} returning "
                     f"customers, last day reported {info['last_scored']}")

    # q_clv_scores envelope: finite scores, clv >= 0, consistent flags.
    broken, = con.execute(f"""
      SELECT count(*) FROM {pred} WHERE NOT coalesce(
        isfinite(predicted_purchases) AND isfinite(predicted_avg_value)
        AND isfinite(clv) AND clv >= 0
        AND (negatif_clv_flag = 0 OR clv = 0)
        AND ((outliners_flag = 1) = (clv > 1000000)), false)""").fetchone()
    if broken:
        fails.append(f"predicted_clv envelope: {broken} rows break it")

    # The same seed must score the same customers the same way in every
    # run. Counts compare exactly and score sums to 1e-6 of their value, the
    # fit's tolerance; the exact-bit row digest is recorded, and a change in
    # it is reported but not failed, because RFM-T's average sums in an
    # order that follows random staging file names (see README.md).
    days = {str(d["day"]): d for d in info["digests"]}
    path = os.path.join(BUILD, "digests", f"{workload}-{rec['seed']}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    seen = json.load(open(path)) if os.path.exists(path) else {}
    changed = 0
    for day, d in days.items():
        old = seen.get(day)
        if old is None:
            continue
        sums_ok = all(abs(a - b) <= 1e-6 * max(abs(a), abs(b), 1.0)
                      for a, b in zip(d["sums"], old["sums"]))
        if d["scored"] != old["scored"] or not sums_ok:
            fails.append(f"day {day}: predicted_clv {d['scored']} rows, sums "
                         f"{d['sums']}; an earlier run of seed {rec['seed']} "
                         f"wrote {old['scored']} rows, sums {old['sums']}")
        changed += d["digest"] != old["digest"]
    info["exact_digest_changed_days"] = changed
    seen.update(days)
    with open(path, "w") as f:
        json.dump(seen, f, indent=0, sort_keys=True)
    return 4, fails


def check_mix(rec):
    """Every query result of the set-up pass against its DuckDB oracle,
    through tools/check.py."""
    info = rec["info"]
    p = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"),
                        info["sf_dir"], info["results"]],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=120)
    log("tools/check.py:\n" + p.stdout.strip())
    fails = [l for l in p.stdout.splitlines() if l.startswith("FAIL")]
    passed = sum(1 for l in p.stdout.splitlines() if l.startswith("PASS"))
    if passed != len(QUERIES) and not fails:
        fails.append(f"tools/check.py passed {passed} of {len(QUERIES)} queries")
    return len(QUERIES), fails


# --------------------------------------------------------------- metrics

def tail(samples):
    """The highest percentile with at least ten samples above it, and that
    percentile; None when a run has ten samples or fewer."""
    s = sorted(samples)
    if len(s) <= 10:
        return None, None
    return s[len(s) - 11], 100.0 * (len(s) - 10) / len(s)


def end_to_end(rec):
    ops = rec["op_s"]
    tail_v, tail_p = tail(ops)
    return {
        "setup_s": rec["setup_s"],
        "op_p50_s": statistics.median(ops),
        "scored_per_s": rec["scored"] / sum(ops),
    }, {"op_samples": len(ops), "op_tail_s": tail_v,
        "op_tail_percentile": tail_p, "op_max_s": max(ops)}


def per_layer(rec, workload):
    own = MIX_LAYERS if workload == "query_mix" else DAILY_LAYERS
    got = rec["layers"]
    missing = sorted(set(own) - set(got))
    if missing:
        raise SystemExit(f"traced run did not produce {missing}")
    # a layer the workload never calls reports zero work
    out = {k: float(got.get(k, 0.0)) for k in PER_LAYER}
    out["jvm.rss_peak_mb"] = rec["rss_peak_mb"]
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for need in [os.path.join(ROOT, "src", "main", "scala"),
                 os.path.join(ROOT, "tools", "check.py")]:
        if not os.path.exists(need):
            raise SystemExit(f"missing {need}: run from the root of a full checkout")
    if args.workload == "query_mix" and not os.path.isdir(SF_DIR):
        raise SystemExit(f"query_mix needs the TPC-H-style tables at {SF_DIR}")

    classpath = build()
    work = os.path.join(BUILD, "runs", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    steal0, total0 = cpu_jiffies()
    rec = run_jvm(classpath, args, work, os.path.join(work, "record.json"))
    steal1, total1 = cpu_jiffies()

    if args.workload == "query_mix":
        checks, check_fails = check_mix(rec)
    else:
        checks, check_fails = check_daily(rec, args.workload)
    for f in rec["failures"] + check_fails:
        log(f"FAILED {f}")
    attempted = rec["attempted"] + checks
    failed = len(rec["failures"]) + len(check_fails)

    if args.trace:
        metrics = per_layer(rec, args.workload)
        units = PER_LAYER
        extra = {}
    else:
        metrics, extra = end_to_end(rec)
        units = END_TO_END
    meta = dict(rec["meta"], workload=args.workload, seed=args.seed,
                seconds=args.seconds, trace=args.trace,
                fail_ratio=failed / attempted, rss_peak_mb=rec["rss_peak_mb"],
                # CPU time the host took from this machine during the run:
                # a high share means the timings measured contention
                cpu_steal_share=(steal1 - steal0) / max(total1 - total0, 1),
                sizes={k: v for k, v in rec["info"].items()
                       if k not in ("digests",)}, **extra)
    with open(os.path.join(work, "summary.json"), "w") as f:
        json.dump({"meta": meta, "metrics": metrics}, f, indent=1)
    print(json.dumps({"meta": meta}))
    for k, v in metrics.items():
        print(f"{k} = {v:.6g} {units[k]}")
    print(f"fail_ratio = {failed / attempted:.6g} ({failed}/{attempted})")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))


if __name__ == "__main__":
    main()
