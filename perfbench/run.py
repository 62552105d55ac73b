#!/usr/bin/env python3
"""The repository's benchmark: one run of one workload.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. It builds the program and the JVM harness
from source into .bench_build/ (again only when a source changed), makes
the workload's inputs from the seed into .bench_cache/, runs the harness in
one JVM at local[4], checks every output with DuckDB outside the timed
region, and prints one JSON line last: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. Workloads, dimensions,
catalog samples and the layer-to-metric predictions are in workloads.json.

Exits non-zero without a result when the program cannot be built or run.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import duckdb  # noqa: E402

import gen_books  # noqa: E402
import gen_tables  # noqa: E402
import stats  # noqa: E402

OP_TIMEOUT_S = 60.0
JVM_TIMEOUT_S = 170.0
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars(root):
    """The Spark jar directory the repository's build.sbt compiles against."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    build = os.path.join(root, "build.sbt")
    if os.path.exists(build):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(build).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    fail("no Spark jar directory (set SPARK_HOME)")


def build(root, jars):
    """Compile src/main/scala plus the harness into .bench_build/classes."""
    srcs = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not srcs:
        fail("no program sources under src/main/scala")
    srcs += sorted(glob.glob(os.path.join(HERE, "harness/**/*.scala"), recursive=True))
    h = hashlib.sha1()
    for s in srcs:
        h.update(s.encode())
        h.update(open(s, "rb").read())
    out = os.path.join(root, ".bench_build")
    classes = os.path.join(out, "classes")
    stamp = os.path.join(out, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classes
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
         "-usejavacp", "-nowarn", "-d", classes, "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=800)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("build failed")
    open(stamp, "w").write(h.hexdigest())
    return classes


def dir_bytes(path, pattern="**/*"):
    return sum(os.path.getsize(p) for p in glob.glob(os.path.join(path, pattern), recursive=True)
               if os.path.isfile(p))


# ---------------------------------------------------------------- checks

def count(con, path):
    return con.sql(f"SELECT count(*) FROM read_parquet('{path}')").fetchone()[0]


def replay(con, details_glob, reviews_files):
    """DuckDB replay of the silver join + YEAR > 2010 filter and the gold
    grouping: (silver rows, gold groups)."""
    files = ", ".join(f"'{f}'" for f in reviews_files)
    return con.sql(f"""
        WITH j AS (
          SELECT b.Title AS t, a.Year_of_publish AS y, a.categories AS c
          FROM read_parquet('{details_glob}') a
          JOIN read_parquet([{files}]) b ON a.Title = b.Title
          WHERE year(CAST(b.review_Time AS TIMESTAMP)) > 2010)
        SELECT count(*), (SELECT count(*) FROM (SELECT DISTINCT t, y, c FROM j)) FROM j
    """).fetchone()


def check_medallion(con, details, reviews_files, m):
    """Bronze = cleaned on each side, silver and gold = DuckDB's replay,
    gold sum(users_count) = silver rows. Returns a list of failures."""
    bad = []
    n_d = count(con, f"{details}/*.parquet")
    n_r = con.sql("SELECT count(*) FROM read_parquet([{}])".format(
        ", ".join(f"'{f}'" for f in reviews_files))).fetchone()[0]
    if count(con, f"{m}/bronze_details/*.parquet") != n_d:
        bad.append("bronze_details != cleaned details")
    if count(con, f"{m}/bronze_reviews/*.parquet") != n_r:
        bad.append("bronze_reviews != cleaned reviews")
    silver = count(con, f"{m}/silver/*.parquet")
    gold_rows, gold_users = con.sql(
        f"SELECT count(*), sum(users_count) FROM read_parquet('{m}/gold/**/*.parquet')").fetchone()
    want_silver, want_groups = replay(con, f"{details}/*.parquet", reviews_files)
    if silver != want_silver:
        bad.append(f"silver {silver} != replay {want_silver}")
    if gold_rows != want_groups:
        bad.append(f"gold groups {gold_rows} != replay {want_groups}")
    if gold_users != silver:
        bad.append(f"gold sum(users_count) {gold_users} != silver {silver}")
    return bad, {"details": n_d, "reviews": n_r, "silver": silver, "gold": gold_rows}


def check_bulk(con, res, ops):
    failed = set()
    counts = {}
    for o in ops:
        if o["region"] == "warm" or not o["ok"]:
            continue
        root = os.path.join(res["work"], "bulk", f"{o['region']}_{o['pass']}")
        bad, counts = check_medallion(con, f"{root}/details",
                                      glob.glob(f"{root}/reviews/*.parquet"), f"{root}/m")
        if counts["details"] == 0 or counts["reviews"] == 0:
            bad.append("no cleaned rows")
        if bad:
            print(f"perfbench: check failed {o['region']}_{o['pass']}: {bad}", file=sys.stderr)
            failed.add(o["op"])
    return failed, counts


def check_catalog(con, res, ops, sf):
    for t in ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings"]:
        con.sql(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    bad_entries = set()
    last = {n["entry"]: n for n in res["notes"] if "entry" in n}
    for n in last.values():
        why = "" if n["ok"] else "threw"
        if not why and n["oracle"]:
            try:
                got = con.sql(f"SELECT * FROM read_parquet('{n['out']}/*.parquet')")
                want = con.sql(n["oracle"].replace("__SF__", os.path.basename(sf)))
                n_got = con.sql("SELECT count(*) FROM got").fetchone()[0]
                n_want = len(want.fetchall())
                if n_got != n_want:
                    why = f"rows {n_got} != oracle {n_want}"
                elif sorted(map(str.lower, got.columns)) != sorted(map(str.lower, want.columns)):
                    why = f"columns {got.columns} != oracle {want.columns}"
            except Exception as e:  # an oracle that cannot run is a failed check
                why = f"oracle: {e}"[:300]
        if why:
            print(f"perfbench: entry {n['entry']} failed its check: {why}", file=sys.stderr)
            bad_entries.add(n["entry"])
    return {o["op"] for o in ops if o["name"] in bad_entries}, {}


# ---------------------------------------------------------------- metrics

def units():
    """Each metric's unit, as BENCHMARK.json declares it."""
    path = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
    if not os.path.exists(path):
        fail("no BENCHMARK.json beside perfbench/")
    spec = json.load(open(path))
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def end_to_end(res, ops, failed, t_start, rss_mb):
    """`t_start` is the epoch second the harness process was started."""
    timed = [o for o in ops if o["region"] == "timed"]
    walls = [(p["t1"] - p["t0"]) / 1000 for p in res["passes"] if p["region"] == "timed"]
    durs = [(o["t1"] - o["t0"]) / 1000 for o in timed]
    q, tail, n = stats.tail_percentile(durs)
    return {
        "setup_s": min(o["t0"] for o in timed) / 1000 - t_start,
        "wall_s": stats.median(walls),
        "op_p50_s": stats.median(durs),
        "peak_rss_mb": rss_mb,
        "ok_frac": (len(ops) - len(failed)) / len(ops),
    }, {"op_tail_percentile": q, "op_tail_s": tail, "op_samples": n,
            "pass_walls_s": [round(w, 3) for w in walls]}


def per_layer(res, ops, inputs):
    traced = [o for o in ops if o["region"] == "traced"]
    op_ids = {o["op"] for o in traced}
    passes = [p for p in res["passes"] if p["region"] == "traced"]
    npass = max(1, len(passes))
    untraced = [(p["t1"] - p["t0"]) / 1000 for p in res["passes"] if p["region"] == "untraced"]
    tasks = [t for t in res["tasks"] if t[0] in op_ids]
    jobs = [j for j in res["jobs"] if j[0] in op_ids]
    stages = [s for s in res["stages"] if s[0] in op_ids]
    prog = [p for p in res["progress"] if p["op"] in op_ids]
    spans = [s for s in res["spans"] if s["op"] in op_ids]
    busy = [(t[1], t[2]) for t in tasks]

    def in_windows(windows, t):
        mid = (t[1] + t[2]) / 2
        return any(s <= mid <= e for s, e in windows)

    def span_windows(*names):
        return [(s["t0"], s["t1"]) for s in spans if s["name"] in names]

    m = {}
    # etl
    etl_w = span_windows("etl.cleanDetails", "etl.cleanReviews")
    etl_tasks = [t for t in tasks if in_windows(etl_w, t)]
    m["etl.details_s"] = sum(e - s for s, e in span_windows("etl.cleanDetails")) / 1000 / npass
    m["etl.reviews_s"] = sum(e - s for s, e in span_windows("etl.cleanReviews")) / 1000 / npass
    m["etl.rows_out"] = sum(t[10] for t in etl_tasks) / npass
    m["etl.jobs"] = sum(1 for j in jobs if any(s <= j[1] <= e for s, e in etl_w)) / npass
    csv_bytes = inputs.get("csv_bytes", 0) * npass
    m["etl.csv_scan_amp"] = sum(t[8] for t in etl_tasks) / csv_bytes if csv_bytes else 0.0

    # medallion: micro-batches of the books ops, classified by sink; their
    # trigger intervals are derived child spans of the runMedallion call
    books_ops = {o["op"] for o in traced if o["family"] == "books"}

    def kind(p):
        d = p["sink"]
        if p["op"] not in books_ops:
            return "other"
        for k in ("bronze_details", "bronze_reviews", "silver"):
            if k in d:
                return "bronze" if k.startswith("bronze") else k
        return "gold" if "ForeachBatch" in d else "other"

    trig = {k: [(p["t0"], p["t0"] + p["trigger"]) for p in prog if kind(p) == k]
            for k in ("bronze", "silver", "gold")}
    med = [p for p in prog if kind(p) != "other"]
    med_spans = span_windows("medallion.runMedallion")
    for k in ("bronze", "silver", "gold"):
        m[f"medallion.{k}_s"] = stats.union_length(trig[k]) / 1000 / npass
    children = trig["bronze"] + trig["silver"] + trig["gold"]
    m["medallion.driver_self_s"] = sum(stats.self_time(w, children) for w in med_spans) / 1000 / npass
    m["medallion.batches"] = len(med) / npass
    m["medallion.bronze_rows"] = sum(p["in_rows"] for p in med if kind(p) == "bronze") / npass

    def observed(name, field):
        return [p["observed"][name][field] for p in prog if name in p["observed"]]

    m["medallion.silver_rows"] = sum(observed("silver_quality", "n_rows")) / npass
    gold = observed("gold_quality", "n_rows")
    m["medallion.gold_rows"] = gold[-1] if gold else 0
    silver_prog = [p for p in prog if kind(p) == "silver"]
    m["medallion.silver_state_rows"] = silver_prog[-1]["state_rows"] if silver_prog else 0
    m["medallion.silver_state_bytes"] = silver_prog[-1]["state_bytes"] if silver_prog else 0
    gold_out = sum(t[9] for t in tasks if in_windows(trig["gold"], t)) / npass
    new_bytes = inputs.get("new_review_bytes", 0)
    m["medallion.gold_write_amp"] = gold_out / new_bytes if new_bytes else 0.0

    # streaming micro-batch phases, every stream of the region
    nb = len(prog)
    for key, name in [("trigger", "trigger_ms"), ("add_batch", "add_batch_ms"),
                      ("planning", "planning_ms"), ("latest_offset", "latest_offset_ms"),
                      ("wal_commit", "wal_commit_ms"), ("commit_offsets", "commit_offsets_ms"),
                      ("state_commit", "state_commit_ms")]:
        m[f"stream.{name}"] = sum(p[key] for p in prog) / npass
    m["stream.state_rows"] = max((p["state_rows"] for p in prog), default=0)
    m["stream.state_bytes"] = max((p["state_bytes"] for p in prog), default=0)
    m["stream.batches"] = nb / npass
    m["stream.overhead_ms_per_batch"] = (
        sum(p["trigger"] - p["add_batch"] for p in prog) / nb if nb else 0.0)

    # Spark engine
    region_w = [(p["t0"], p["t1"]) for p in passes]
    m["spark.jobs"] = len(jobs) / npass
    m["spark.stages"] = len(stages) / npass
    m["spark.tasks"] = len(tasks) / npass
    m["spark.tasks_failed"] = sum(t[11] for t in tasks) / npass
    m["spark.task_busy_s"] = sum(t[3] for t in tasks) / 1000 / npass
    m["spark.gc_s"] = sum(t[4] for t in tasks) / 1000 / npass
    m["spark.idle_s"] = sum(stats.idle_time(w, busy) for w in region_w) / 1000 / npass
    m["spark.shuffle_read_bytes"] = sum(t[5] for t in tasks) / npass
    m["spark.shuffle_write_bytes"] = sum(t[6] for t in tasks) / npass
    m["spark.spill_bytes"] = sum(t[7] for t in tasks) / npass
    m["spark.input_bytes"] = sum(t[8] for t in tasks) / npass
    m["spark.output_bytes"] = sum(t[9] for t in tasks) / npass

    # catalog families
    for f in ("relational", "ext", "txlog", "stream"):
        fam = [o for o in traced if o["family"] == f]
        ids = {o["op"] for o in fam}
        ft = [t for t in tasks if t[0] in ids]
        m[f"ops.{f}.s"] = sum(o["t1"] - o["t0"] for o in fam) / 1000 / npass
        m[f"ops.{f}.jobs"] = sum(1 for j in jobs if j[0] in ids) / npass
        m[f"ops.{f}.idle_s"] = sum(stats.idle_time((o["t0"], o["t1"]), [(t[1], t[2]) for t in ft if t[0] == o["op"]])
                                   for o in fam) / 1000 / npass
        m[f"ops.{f}.shuffle_bytes"] = sum(t[5] + t[6] for t in ft) / npass
    cold, warm = {}, {}
    for o in ops:
        if o["region"] in ("cold", "untraced", "traced") and o["family"] != "books":
            (cold if o["region"] == "cold" else warm).setdefault(o["name"], []).append(
                (o["t1"] - o["t0"]) / 1000)
    m["ops.stage_s"] = sum(stats.median(cold[n]) - stats.median(warm[n]) for n in cold if n in warm)
    m["ops.stage_bytes"] = next((n["stage_bytes"] for n in res["notes"] if "stage_bytes" in n), 0)
    m["ops.tmp_leak_bytes"] = inputs.get("tmp_leak_bytes", 0)
    txlog = next((n for n in res["notes"] if "txlog_commits" in n), {})
    m["txlog.commits"] = txlog.get("txlog_commits", 0) / npass
    m["txlog.log_bytes"] = txlog.get("txlog_bytes", 0) / npass

    traced_walls = [(p["t1"] - p["t0"]) / 1000 for p in passes]
    m["trace.untraced_wall_s"] = stats.median(untraced)
    m["trace.traced_wall_s"] = stats.median(traced_walls)
    m["trace.overhead_frac"] = (m["trace.traced_wall_s"] / m["trace.untraced_wall_s"] - 1
                                if untraced else 0.0)
    return m


# ---------------------------------------------------------------- run

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--books", help="BOOKS,REVIEWS: override books_bulk's corpus size")
    args = ap.parse_args()

    root = os.getcwd()
    spec = json.load(open(os.path.join(HERE, "workloads.json")))
    wl = next((w for w in spec["workloads"] if w["name"] == args.workload), None)
    if wl is None:
        fail(f"unknown workload {args.workload}")
    e2e_units, layer_units = units()
    jars = spark_jars(root)
    classes = build(root, jars)

    cache = os.path.join(root, ".bench_cache")
    work_root = os.path.join(root, ".bench_work")
    run_dir = os.path.join(work_root, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(run_dir, d))
    hargs = {"workload": args.workload, "seconds": args.seconds, "trace": args.trace,
             "work": run_dir, "result": os.path.join(run_dir, "result.json")}
    inputs = {}
    timeout = JVM_TIMEOUT_S
    if args.workload == "books_bulk":
        dims = dict(wl["dims"])
        if args.books:
            dims["books"], dims["reviews"] = map(int, args.books.split(","))
            # a larger corpus takes longer than the limit of a benchmark run
            timeout *= max(1.0, dims["reviews"] / wl["dims"]["reviews"])
        key = f"books_s{args.seed}_b{dims['books']}_r{dims['reviews']}"
        data = gen_books.generate(os.path.join(cache, key), args.seed, dims["books"], dims["reviews"])
        hargs.update(data=data)
        inputs["csv_bytes"] = sum(os.path.getsize(os.path.join(data, f))
                                  for f in ("books_data.csv", "Books_rating.csv"))
    else:
        sf = gen_tables.generate(os.path.join(cache, f"tables_s{args.seed}", "sf0.1"), args.seed, 0.1)
        hargs.update(sf=sf, entries=",".join(f"{n}:{f}" for n, f in wl["entries"]))

    # A fixed heap with a fixed young generation under the parallel
    # collector: peak RSS then follows what the program keeps live, not
    # when an adaptive collector chose to grow the heap. Traced runs
    # register the progress listener with every session.
    listener = ["-Dspark.sql.streaming.streamingQueryListeners=perfbench.ProgressListener"]
    cmd = (["java", "-XX:+UseParallelGC", "-Xms3g", "-Xmx3g", "-Xmn768m", "-Xss8m"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={run_dir}/tmp", f"-Dspark.local.dir={run_dir}/spark-local",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + (listener if args.trace else [])
           + ["-cp", f"{classes}:{os.path.join(jars, '*')}", "perfbench.Harness"]
           + [f"{k}={v}" for k, v in hargs.items()])
    log = open(os.path.join(run_dir, "jvm.log"), "w")
    t_start = time.time()
    proc = subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=log,
                            text=True, cwd=run_dir)
    rss_kb = 0
    try:
        deadline = t_start + timeout
        done = False
        for line in proc.stdout:
            if line.strip() == "PERFBENCH_DONE":
                done = True
                break
            if time.time() > deadline:
                break
        if done:
            with open(f"/proc/{proc.pid}/status") as f:
                rss_kb = int(next(x for x in f if x.startswith("VmHWM")).split()[1])
            proc.stdin.write("\n")
            proc.stdin.flush()
        proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        done = False
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        log.close()
    if not done or proc.returncode != 0:
        sys.stderr.write(open(os.path.join(run_dir, "jvm.log")).read()[-4000:])
        shutil.rmtree(run_dir, ignore_errors=True)
        fail("harness did not finish")

    res = json.load(open(hargs["result"]))
    res["work"] = run_dir
    ops = res["ops"]
    con = duckdb.connect()
    if args.workload == "books_bulk":
        failed, counts = check_bulk(con, res, ops)
        pass_root = glob.glob(os.path.join(run_dir, "bulk", "*"))[0]
        inputs["new_review_bytes"] = dir_bytes(os.path.join(pass_root, "reviews"), "*.parquet")
    else:
        failed, counts = check_catalog(con, res, ops, hargs["sf"])
    failed |= {o["op"] for o in ops if not o["ok"] or (o["t1"] - o["t0"]) / 1000 > OP_TIMEOUT_S}
    for o in ops:
        if not o["ok"]:
            print(f"perfbench: {o['name']} failed: {o['err']}", file=sys.stderr)
    if counts:
        print(f"perfbench: rows {json.dumps(counts)}", file=sys.stderr)
    inputs["tmp_leak_bytes"] = dir_bytes(os.path.join(run_dir, "tmp"))

    if args.trace:
        values, want = per_layer(res, ops, inputs), layer_units
        trace_out = os.path.join(work_root, f"trace-{args.workload}.json")
        with open(trace_out, "w") as f:
            json.dump({k: res[k] for k in ("ops", "spans", "passes", "progress")}, f)
        info = {}
    else:
        values, info = end_to_end(res, ops, failed, t_start, rss_kb / 1024)
        want = e2e_units
    print(f"perfbench: {args.workload} seed={args.seed} {json.dumps(info)}", file=sys.stderr)
    shutil.rmtree(run_dir, ignore_errors=True)
    if set(values) != set(want):
        fail(f"metrics differ from BENCHMARK.json: {sorted(set(values) ^ set(want))}")

    out = {"correct": not failed, "attempted": len(ops), "failed": len(failed),
           "metrics": {k: {"value": v, "unit": want[k]} for k, v in values.items()}}
    print(json.dumps(out))


if __name__ == "__main__":
    main()
