#!/usr/bin/env python3
"""Closed-loop benchmark of the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the harness (sbt,
perfbench/build.sbt) into $CARGO_TARGET_DIR/perfbench (default
.bench_build/perfbench); later runs reuse the build while the sources are
unchanged. Each run launches one JVM with SPARK_GRAFT_CPUS = local[n] =
the CPUs this process may use, runs the workload's ops one at a time over
the fixed tables in perfbench/data/ for the workload's number of passes
(in an order drawn from the seed), checks every op's result against its
DuckDB oracle, and prints one JSON line last. Metric names and units come
from BENCHMARK.json. See perfbench/README.md for the workloads and
metrics.
"""
import argparse
import collections
import glob
import hashlib
import json
import math
import os
import pickle
import shutil
import signal
import statistics
import resource
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH)
CPUS = len(os.sched_getaffinity(0))
HEAP = "3g"                 # fixed, so peak_rss_mb compares like with like
JVM_LIMIT_S = 150           # a run must end within 180 s, checks included
BUILD_LIMIT_S = 840         # the first run of a checkout may take 900 s
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    pats = [os.path.join(REPO, "src", "main", "scala", "**", "*.scala"),
            os.path.join(BENCH, "src", "**", "*.scala"),
            os.path.join(BENCH, "build.sbt"),
            os.path.join(BENCH, "project", "build.properties")]
    return sorted(f for p in pats for f in glob.glob(p, recursive=True))


def build(target):
    """Compiles engine + harness once per source state; returns the classpath."""
    if not os.path.isfile(os.path.join(REPO, "src", "main", "scala", "graft",
                                       "SparkEntry.scala")):
        fail(f"engine sources not found under {REPO}/src/main/scala")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, REPO).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(target, "classpath.txt")
    stamp_file = os.path.join(target, "source.sha256")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(target, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, PERFBENCH_TARGET=target, COURSIER_MODE="offline",
               SBT_OPTS=" ".join(opts))
    log = os.path.join(target, "build.log")
    with open(log, "w") as fh:
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true",
                          "writeClasspath"], BENCH, env, fh, BUILD_LIMIT_S)
    if rc != 0 or not os.path.isfile(cp_file):
        tail = open(log).read()[-3000:]
        fail(f"build failed (exit {rc}); log {log}:\n{tail}")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return open(cp_file).read().strip()


def run_bounded(cmd, cwd, env, out, limit):
    """Runs cmd in its own process group; kills the group at the limit."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out,
                         stderr=subprocess.STDOUT, start_new_session=True)
    try:
        return p.wait(timeout=max(1, limit))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def jvm_env(local):
    return dict(os.environ, SPARK_GRAFT_CPUS=str(CPUS), SPARK_LOCAL_DIRS=local)


def java_cmd(cp, work):
    """The harness JVM: engine + harness classes, all temporary space
    (java.io.tmpdir = the engine's store base, Spark local dirs, the
    warehouse) under `work`."""
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Dspark.local.dir={os.path.join(work, 'local')}",
        f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "-cp", cp, "graft.perfbench.Main"]


def bytes_under(path):
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(root, f)).st_size
            except OSError:
                pass
    return total


def cv(v):
    """Canonical value: the repo's oracle-check convention (floats to 6
    significant figures)."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.6g}"
    return str(v)


def canon(rows, cols):
    """Rows sorted by canonical form, columns sorted by name:
    [(canonical tuple, raw tuple)]."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted((tuple(cv(r[i]) for i in order), tuple(r[i] for i in order))
                  for r in rows)


def same_rows(s_rows, s_cols, d_rows, d_cols):
    """Canonical forms are equal, or differ only where a float sits on a
    6-significant-figure rounding boundary (e.g. 3648.235 summed in another
    order). Then rows are matched on their exact non-float values, and each
    float pair must agree to 1e-9 relative."""
    a, b = canon(s_rows, s_cols), canon(d_rows, d_cols)
    if [k for k, _ in a] == [k for k, _ in b]:
        return True
    if len(a) != len(b):
        return False

    def key(raw):
        return tuple(cv(v) for v in raw if not isinstance(v, float))

    def close(x, y):
        return cv(x) == cv(y) or (isinstance(x, float) and isinstance(y, float)
                                  and math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-12))
    pool = collections.defaultdict(list)
    for _, raw in b:
        pool[key(raw)].append(raw)
    for _, raw in a:
        cands = pool.get(key(raw), [])
        hit = next((i for i, c in enumerate(cands)
                    if all(close(x, y) for x, y in zip(raw, c))), None)
        if hit is None:
            return False
        cands.pop(hit)
    return True


def oracle_result(con, sql, cache):
    """(columns, rows) of one oracle query. The tables are fixed, so the
    result is kept in `cache` under a hash of the table files and the SQL,
    and DuckDB runs each oracle once per checkout."""
    f = os.path.join(cache, hashlib.sha256(sql.encode()).hexdigest() + ".pkl")
    if os.path.isfile(f):
        with open(f, "rb") as fh:
            return pickle.load(fh)
    rel = con.sql(sql)
    res = (rel.columns, rel.fetchall())
    with open(f + ".part", "wb") as fh:
        pickle.dump(res, fh)
    os.replace(f + ".part", f)
    return res


def check(data, check_dir, ops, oracle, check_errors, target):
    """Compares each op's check result with its DuckDB oracle; ops without
    an oracle (rows-only by design) must return rows. Returns
    ({op: problem}, {op: result rows})."""
    import duckdb
    h = hashlib.sha256()
    for t in TABLES:
        with open(os.path.join(data, f"{t}.parquet"), "rb") as fh:
            h.update(fh.read())
    cache = os.path.join(target, "oracle", h.hexdigest())
    os.makedirs(cache, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"SET threads={CPUS}")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    bad, rows = {}, {}
    for op in sorted(set(ops)):
        if op in check_errors:
            bad[op] = "threw: " + check_errors[op]
            continue
        try:
            srel = con.sql(f"SELECT * FROM '{check_dir}/{op}/*.parquet'")
            s_cols, s_rows = srel.columns, srel.fetchall()
            rows[op] = len(s_rows)
            if op not in oracle:
                if not s_rows:
                    bad[op] = "rows-only check: no rows"
                continue
            d_cols, d_rows = oracle_result(con, oracle[op], cache)
        except Exception as e:  # noqa: BLE001 - any failure is a check failure
            bad[op] = f"check error: {e}"[:300]
            continue
        if sorted(s_cols) != sorted(d_cols):
            bad[op] = f"columns {sorted(s_cols)} != {sorted(d_cols)}"
        elif not same_rows(s_rows, s_cols, d_rows, d_cols):
            bad[op] = f"rows differ (spark {len(s_rows)}, duckdb {len(d_rows)})"
    con.close()
    return bad, rows


def host_sample():
    """Host-wide CPU counters, this process's children's CPU time, load."""
    with open("/proc/stat") as fh:
        cpu = [int(x) for x in fh.readline().split()[1:]]
    with open("/proc/loadavg") as fh:
        load1 = float(fh.read().split()[0])
    ru = resource.getrusage(resource.RUSAGE_CHILDREN)
    return {"busy": sum(cpu) - cpu[3] - cpu[4], "steal": cpu[7] if len(cpu) > 7 else 0,
            "children_cpu_s": ru.ru_utime + ru.ru_stime, "load1": load1,
            "t": time.time()}


def host_noise(a, b):
    """CPU other processes used on the host while the harness ran: a reader
    can tell a noisy-host run from these without the probes' cost."""
    tick = os.sysconf("SC_CLK_TCK")
    busy_s = (b["busy"] - a["busy"]) / tick
    own_s = b["children_cpu_s"] - a["children_cpu_s"]
    return {"wall_s": b["t"] - a["t"], "foreign_cpu_s": busy_s - own_s,
            "steal_s": (b["steal"] - a["steal"]) / tick,
            "load1_before": a["load1"], "load1_after": b["load1"]}


def tail_percentile(xs):
    """Highest percentile with at least 10 samples above it: (pct, value)."""
    xs = sorted(xs)
    n = len(xs)
    if n < 11:
        return 100.0, xs[-1]
    k = n - 11
    return 100.0 * (k + 1) / n, xs[k]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="accepted for the benchmark contract and not used: each "
                         "workload runs its fixed pass count (workloads.json)")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--data", help="override the workload's table set (perfbench/data/<name>)")
    ap.add_argument("--passes", type=int, help="override the workload's pass count")
    ap.add_argument("--no-probes", action="store_true",
                    help="skip the host probes of a traced run")
    args = ap.parse_args()

    top = os.path.join(REPO, "BENCHMARK.json")
    if not os.path.isfile(top):
        fail(f"{top} not found")
    with open(top) as fh:
        spec = json.load(fh)
    with open(os.path.join(BENCH, "workloads.json")) as fh:
        workloads = json.load(fh)
    if args.workload not in workloads:
        fail(f"unknown workload {args.workload}; have {sorted(workloads)}")
    wl = workloads[args.workload]
    ops = wl["ops"]
    data = os.path.join(BENCH, "data", args.data or wl["data"])
    passes = args.passes if args.passes is not None else wl["passes"]

    build_root = os.path.abspath(os.environ.get("CARGO_TARGET_DIR",
                                                os.path.join(REPO, ".bench_build")))
    target = os.path.join(build_root, "perfbench")
    cp = build(target)

    work = os.path.join(target, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    tmp, local = os.path.join(work, "tmp"), os.path.join(work, "local")
    for d in (tmp, local):
        os.makedirs(d)
    out = os.path.join(work, "out")
    cmd = java_cmd(cp, work) + [
        "ops=" + ",".join(ops), f"seed={args.seed}", f"passes={passes}",
        f"trace={args.trace}", f"probes={0 if args.no_probes else args.trace}",
        f"data={data}", f"out={out}"]
    log = os.path.join(work, "jvm.log")
    before = host_sample()
    with open(log, "w") as fh:
        rc = run_bounded(cmd, work, jvm_env(local), fh, JVM_LIMIT_S)
    noise = host_noise(before, host_sample())
    res_file = os.path.join(out, "result.json")
    if rc != 0 or not os.path.isfile(res_file):
        tail = open(log).read()[-4000:]
        fail(f"harness failed (exit {rc}); log {log}:\n{tail}")
    with open(res_file) as fh:
        res = json.load(fh)

    # ---- correctness, outside the timed region ----
    # Every timed execution fails if it threw, if its op's checked result
    # is wrong, or if it returned another row count than the checked one.
    t0 = time.perf_counter()
    bad, check_rows = check(data, os.path.join(out, "check"), ops, res["oracle"],
                            res["check_errors"], target)
    check_s = time.perf_counter() - t0
    timed = [s for s in res["samples"] if not s["traced"]]
    failed = sum(1 for s in res["samples"] if s["error"] or s["op"] in bad
                 or s["rows"] != check_rows.get(s["op"]))
    attempted = len(res["samples"])
    lat = [s["build_ms"] + s["exec_ms"] for s in timed]
    # pass_s is the best pass (graft.Bench's per-query min): a JVM this
    # young is still compiling, and the minimum is what survives transient
    # host contention. op_p50_ms and op_tail_ms are order statistics of
    # every timed execution: one call of a 0.3 s op can take twice as long
    # as the next, so a median of per-op minimums jumps between runs.
    untraced_pass = [p["ms"] for p in res["passes"] if not p["traced"]]
    traced_pass = [p["ms"] for p in res["passes"] if p["traced"]]
    setup_s = (res["jvm_to_main_ms"] + res["session_ms"] + res["warmup_ms"]) / 1000.0
    disk_mb = bytes_under(tmp) / 2**20
    tail_pct, tail_ms = tail_percentile(lat)

    if args.trace == 0:
        values = {
            "setup_s": setup_s,
            "pass_s": min(untraced_pass) / 1000.0,
            "op_p50_ms": statistics.median(lat),
            "op_tail_ms": tail_ms,
            "peak_rss_mb": res["peak_rss_mb"],
        }
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    else:
        layers = dict(res["layers"])
        layers.update({
            "core.Sessions.start_ms": res["session_ms"],
            "setup.warmup_ms": res["warmup_ms"],
            "core.StoreFs.disk_mb": res["store_bytes"] / 2**20,
            "core.TmpHygiene.residue_dirs": res["residue_dirs"],
            "trace.overhead_ms": min(traced_pass) - min(untraced_pass),
            "trace.n_spans": res["n_spans"],
            "ops.read_only": sum(1 for w in res["writers"].values() if not w),
        })
        metrics = {m["name"]: {"value": layers[m["name"]], "unit": m["unit"]}
                   for m in spec["per_layer"]}

    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cpus": CPUS, "data": os.path.relpath(data, REPO), "ops": len(set(ops)),
        "input_mb": bytes_under(data) / 2**20,
        "disk_mb": disk_mb,
        "tmp_left_mb": {e: bytes_under(os.path.join(tmp, e)) / 2**20
                        for e in sorted(os.listdir(tmp))},
        "storage_memory_mb": res["storage_memory_mb"],
        "passes": len(untraced_pass), "traced_passes": len(traced_pass),
        "samples": len(lat), "op_tail_pct": round(tail_pct, 2),
        "op_fail_ratio": failed / attempted if attempted else None,
        "failures": bad, "sample_errors": sorted({f"{s['op']}: {s['error']}"
                                                 for s in res["samples"] if s["error"]}),
        "host_probes_s": res["probes"],
        "host_noise": noise,
        "setup_parts_ms": {"jvm_to_main": res["jvm_to_main_ms"],
                           "session": res["session_ms"],
                           "warmup": res["warmup_ms"]},
        "check_s": check_s,
        "warmup_ms_per_op": res["warmup_ops"],
        "timed_ms_per_op": {op: [round(s["build_ms"] + s["exec_ms"], 3) for s in timed
                                 if s["op"] == op] for op in sorted(set(ops))},
        "pass_ms": {"untraced": untraced_pass, "traced": traced_pass},
        "read_only_ops": sorted(k for k, w in res.get("writers", {}).items() if not w),
        "writer_ops": sorted(k for k, w in res.get("writers", {}).items() if w),
    }
    keep = os.path.join(target, "out")
    os.makedirs(keep, exist_ok=True)
    stem = os.path.join(keep, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as fh:
        json.dump({"detail": detail, "metrics": metrics}, fh, indent=1)
    if args.trace == 1:
        shutil.copy(os.path.join(out, "spans.jsonl"), stem + ".spans.jsonl")
    shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": not bad and failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
