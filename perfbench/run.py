#!/usr/bin/env python3
"""Benchmark command for the engine in this checkout.

    python3 perfbench/run.py --workload {project,battery}
        --seed N --seconds S --trace {0,1}

Builds the engine and the harness from source on first use (sbt, output
under .bench_build/), generates the workload's inputs from the seed in a
fresh temp dir under .bench_build/runs/, runs one closed-loop client in
one JVM (Spark at local[nproc], Runner threads = nproc), checks the
outputs, and prints one JSON object as the last line of stdout. With
--trace 0 it reports the end-to-end metrics; with --trace 1 the per-layer
ones. A full report (every metric, percentiles with their sample counts,
machine state) is the line before it. Exits non-zero if any output check
fails. See METRICS.md for what each metric means.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time

import benchlib

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CORPUS = os.path.join(BUILD, "corpus", "sf0.1")  # see Corpus in Main.scala
HEAP = "4g"
JVM_TIMEOUT_S = 150
ORACLE_LIMIT_S = 20
# Spark 4 on JDK 17 outside spark-submit (the engine build uses the same)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def nproc():
    return len(os.sched_getaffinity(0))


# ---------------------------------------------------------------- build


def source_files():
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            for f in sorted(fs):
                yield os.path.join(d, f)
    yield os.path.join(HERE, "build.sbt")


def ensure_built():
    """Compile engine + harness unless the classpath matches the sources."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("perfbench: no engine sources at src/main/scala next to perfbench/")
    h = hashlib.sha256()
    for p in sorted(source_files()):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp, stamp_file = h.hexdigest(), os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    log("building engine and harness (sbt compile)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "-Dsbt.server.autostart=false", "compile", "writeClasspath"],
                       cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                       stdout=sys.stderr, stderr=sys.stderr, timeout=840)
    if r.returncode != 0:
        raise SystemExit("perfbench: build failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    # the generated corpus belongs to the build that made it
    shutil.rmtree(os.path.join(BUILD, "corpus"), ignore_errors=True)
    return open(cp_file).read().strip()


def ensure_corpus(cp, args):
    """Generates the sf0.1 corpus if this build has none yet, in a JVM of
    its own, so no run's setup_s includes it."""
    if os.path.exists(os.path.join(CORPUS, "_READY")):
        return
    log("generating the sf0.1 corpus")
    work = tempfile.mkdtemp(prefix="corpus-", dir=os.path.join(BUILD, "runs"))
    try:
        run_jvm(cp, work, "corpus", args, timeout=600)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run_jvm(cp, work, workload, args, timeout=JVM_TIMEOUT_S, heap=HEAP):
    """Runs one workload in its own JVM; returns the raw record it wrote."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    cmd = ["java", f"-Xmx{heap}", *ADD_OPENS,
           f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
           f"-Dspark.sql.warehouse.dir={work}/spark-warehouse",
           "-cp", cp, "perfbench.Main", "--workload", workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work, "--cpus", str(nproc()),
           "--corpus", CORPUS]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as out:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL,
                             stdout=out, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        raise SystemExit(f"perfbench: workload JVM failed ({rc})")
    with open(os.path.join(work, "raw.json")) as f:
        return json.load(f)


# ---------------------------------------------------------------- reduce


def op_ms(o):
    return (o["end_ns"] - o["start_ns"]) / 1e6


def untraced(ops, kind):
    return [o for o in ops if o["kind"] == kind and not o["traced"]]


def trace_overhead(ops, kind, pick=lambda o: True):
    """Median traced op over median untraced op, minus one."""
    ops = [o for o in ops if o["kind"] == kind and o["ok"] and pick(o)]
    a = [op_ms(o) for o in ops if not o["traced"]]
    b = [op_ms(o) for o in ops if o["traced"]]
    return statistics.median(b) / statistics.median(a) - 1 if a and b else 0.0


def spark_totals(groups, pick=lambda g: True):
    keys = ("jobs", "stages", "tasks", "task_ms", "sched_delay_ms", "gc_ms",
            "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")
    tot = {k: 0 for k in keys}
    tot["task_max_ms"] = 0
    for g, a in groups.items():
        if pick(g):
            for k in keys:
                tot[k] += a[k]
            tot["task_max_ms"] = max(tot["task_max_ms"], a["task_max_ms"])
    return tot


def common_report(raw, t_start):
    setup_s = (raw["first_op_ms"] / 1000.0 - t_start) - raw["sentinel_ms"] / 1000.0
    steal = raw["steal_jiffies"]
    return {"setup_s": setup_s, "retained_heap_mb": raw["retained_heap_mb"],
            "machine": {"samples": raw["machine"], "steal_jiffies": steal,
                        "total_jiffies": raw["total_jiffies"],
                        "steal_frac": steal / raw["total_jiffies"] if raw["total_jiffies"] else 0.0,
                        "threads": raw["threads"]},
            "warm_pass_s": raw.get("warm_pass_s")}


def finite(v):
    """A metric with no sample (every pass failed) reads null, never NaN."""
    return v if math.isfinite(v) else None


def spark_layer(prefix, tot):
    return {f"{prefix}.{k}": v for k, v in tot.items()}


# ---------------------------------------------------------------- battery


def battery_inputs(args, inputs):
    catalog = benchlib.read_catalog(os.path.join(HERE, "battery_catalog.tsv"))
    draw = benchlib.draw_queries(catalog, args.seed)
    with open(os.path.join(inputs, "draw.txt"), "w") as f:
        f.write("\n".join(draw) + "\n")
    return {"draw": draw, "family": dict(catalog)}


def battery_checks(work, ctx, raw=None, only=None, limit_s=ORACLE_LIMIT_S):
    """Each drawn query's output against its DuckDB oracle, with the
    engine's own canonical sort/compare (check.py); queries without an
    oracle (the approximate sketches) must return rows. An oracle still
    running after `limit_s` is interrupted and fails its check."""
    sys.path.insert(0, ROOT)
    import duckdb
    import pandas as pd
    from check import canon, celleq
    out = os.path.join(work, "outputs")
    con = duckdb.connect()
    con.sql(f"SET threads={nproc()}")
    con.sql(f"SET temp_directory='{work}/tmp/duckdb'")
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{CORPUS}/{t}.parquet/*.parquet'")
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracles = json.load(f)
    results = []
    for q, sql in sorted(oracles.items()):
        if only is not None and q not in only:
            continue
        try:
            got = canon(pd.read_parquet(os.path.join(out, q)))
        except Exception as e:
            results.append((q, False, f"output unreadable: {e}"))
            continue
        if sql is None:
            results.append((q, len(got) > 0, f"{len(got)} rows (no oracle: approximate)"))
            continue
        timer = threading.Timer(limit_s, con.interrupt)
        timer.start()
        try:
            exp = canon(con.sql(sql).df())
        except Exception as e:
            results.append((q, False, f"oracle error: {e}"))
            continue
        finally:
            timer.cancel()
        if list(got.columns) != list(exp.columns):
            results.append((q, False, f"columns {list(got.columns)} vs {list(exp.columns)}"))
        elif len(got) != len(exp):
            results.append((q, False, f"rows {len(got)} vs {len(exp)}"))
        else:
            bad = next(((c, i) for c in got.columns
                        for i, (a, b) in enumerate(zip(got[c].tolist(), exp[c].tolist()))
                        if not celleq(a, b)), None)
            results.append((q, bad is None, f"{len(got)} rows" if bad is None
                            else f"mismatch at column {bad[0]} row {bad[1]}"))
    con.close()
    return [{"name": f"battery.{q}.oracle", "ok": ok, "detail": d} for q, ok, d in results]


def battery_reduce(raw, ctx, work):
    ops = raw["ops"]
    plain = [o for o in untraced(ops, "query") if o["ok"]]
    # a pass with a failed query is not a full pass: it never shortens a sum
    passes, broken = {}, {o["pass"] for o in ops if not o["ok"]}
    for o in plain:
        passes[o["pass"]] = passes.get(o["pass"], 0.0) + op_ms(o) / 1000.0
    full = [s for p, s in passes.items() if p not in broken]
    lat = benchlib.latency_summary([op_ms(o) for o in plain])
    e2e = {"pass_s": statistics.median(full) if full else float("nan"),
           "op_p50_ms": lat["p50"], "op_tail_ms": lat["tail"]}
    named = {"battery_s": e2e["pass_s"], "query_p50_ms": lat["p50"],
             "query_tail_ms": lat["tail"], "query_tail_pct": lat["tail_pct"],
             "query_n": lat["n"], "passes": len(full),
             "query_ms": {q: statistics.median(op_ms(o) for o in plain if o["query"] == q)
                          for q in sorted({o["query"] for o in plain})}}
    traced = [o for o in ops if o["kind"] == "query" and o["ok"] and o["traced"]]
    layer = {}
    if traced:
        n = len(traced)
        build, plan, exe = (sum(o[k] for o in traced) / 1e6
                            for k in ("build_ns", "plan_ns", "exec_ns"))
        layer.update({"battery.build_ms": build / n, "battery.plan_ms": plan / n,
                      "battery.exec_ms": exe / n,
                      "battery.split_cover": (build + plan + exe) / sum(op_ms(o) for o in traced)})
        for fam in sorted(set(ctx["family"].values())):
            fo = [o for o in traced if ctx["family"][o["query"]] == fam]
            for k in ("build", "exec"):
                layer[f"battery.{fam}.{k}_ms"] = \
                    sum(o[f"{k}_ns"] for o in fo) / 1e6 / len(fo) if fo else 0.0
        groups = raw["spark_groups"]
        b = spark_totals(groups, lambda g: g.startswith("build|"))
        x = spark_totals(groups, lambda g: g.startswith("exec|"))
        layer["battery.build_jobs"] = b["jobs"] / n
        layer.update(spark_layer("spark", spark_totals(
            groups, lambda g: g.startswith(("build|", "exec|")))))
        layer.update(spark_layer("spark.build", b))
        layer.update(spark_layer("spark.exec", x))
        src = spark_totals(groups, lambda g: g.startswith("sources|"))
        lt = benchlib.layer_totals(raw["spans"])
        calls, tot, _ = lt.get("sources.load", (1, 0.0, 0.0))
        layer["sources.load_ms"] = tot / calls
        layer["sources.load_jobs"] = src["jobs"] / calls
    r = raw.get("resident", {})
    hits, misses = r.get("hits", 0), r.get("misses", 0)
    layer.update({"resident.hits": hits, "resident.misses": misses,
                  "resident.evictions": r.get("evictions", 0),
                  "resident.hit_frac": hits / (hits + misses) if hits + misses else 0.0,
                  "trace.overhead_frac": trace_overhead(ops, "query")})
    return e2e, named, layer


# ---------------------------------------------------------------- project


def project_inputs(args, inputs):
    work = os.path.dirname(inputs)
    expect = benchlib.gen_dbt_project(args.seed, os.path.join(inputs, "project"),
                                      os.path.join(work, "data"))
    with open(os.path.join(inputs, "ticking.txt"), "w") as f:
        f.write("\n".join(expect["ticking"]) + "\n")
    with open(os.path.join(inputs, "expect_nodes.txt"), "w") as f:
        f.write(f"{expect['model'] + expect['test'] + expect['snapshot']}\n")
    return expect


def project_checks(work, ctx, raw):
    """Every build and tick ran every node it selected to success or pass."""
    bad = [o["err"] for o in raw["ops"] if not o["ok"]]
    return [{"name": "project.nodes_ok", "ok": not bad, "detail": "; ".join(bad)[:300]}]


def read_listing(path):
    out = {}
    with open(path) as f:
        for line in f:
            if line.strip():
                p, n = line.rstrip("\n").split("\t")
                out[p] = int(n)
    return out


def project_reduce(raw, ctx, work):
    ops = raw["ops"]
    build = [op_ms(o) for o in ops if o["kind"] == "build" and o["ok"]]
    ticks = [op_ms(o) for o in untraced(ops, "tick") if o["ok"]]
    lat = benchlib.latency_summary(ticks)
    e2e = {"pass_s": build[0] / 1000.0 if build else float("nan"),
           "op_p50_ms": lat["p50"], "op_tail_ms": lat["tail"]}
    written = files = 0
    n_ticks = sum(1 for o in ops if o["kind"] == "tick")
    for k in range(n_ticks):
        n, b = benchlib.files_written(
            read_listing(os.path.join(work, "listings", f"before_{k}.tsv")),
            read_listing(os.path.join(work, "listings", f"after_{k}.tsv")))
        files += n
        written += b
    wamp = benchlib.write_amp(written, raw["landed_bytes"])
    samp = benchlib.space_amp(raw["disk_bytes"], raw["live_bytes"])
    named = {"build_s": e2e["pass_s"], "tick_p50_s": lat["p50"] / 1000.0,
             "tick_tail_s": lat["tail"] / 1000.0, "tick_tail_pct": lat["tail_pct"],
             "tick_n": lat["n"], "tick_s": [t / 1000.0 for t in ticks],
             "write_amp": wamp, "space_amp": samp}
    layer = {"store.write_amp": wamp, "store.space_amp": samp,
             "store.bytes_written": written, "store.files_written": files,
             "store.versions": raw["versions"], "store.bytes_rewritten": raw["bytes_rewritten"],
             # like with like: a compacting tick does more work than one that
             # does not, and the first tick runs slower than later ones
             "trace.overhead_frac": trace_overhead(
                 ops, "tick", lambda o: not o["compacts"] and o["tick"] > 0)}
    # compaction time per compacting tick, traced or not: with a few ticks
    # per run the compacting ones need not fall in the traced half
    compacts = [o["compact_ns"] / 1e6 for o in ops
                if o["kind"] == "tick" and o["ok"] and o["compacts"]]
    layer["store.compact_ms"] = statistics.median(compacts) if compacts else 0.0
    traced_ticks = [o for o in ops if o["kind"] == "tick" and o["traced"] and o["ok"]]
    if traced_ticks:
        layer["parser.partial_hit_frac"] = sum(
            1 for o in traced_ticks if o["parse"] in ("hit", "partial")) / len(traced_ticks)
        cons = sum(o["files_considered"] for o in traced_ticks)
        layer["scan.files_opened_frac"] = \
            sum(o["files_opened"] for o in traced_ticks) / cons if cons else 1.0
    lt = benchlib.layer_totals(raw["spans"])

    def total_ms(name):
        return lt.get(name, (0, 0.0, 0.0))[1]
    res = raw.get("build_results")
    if res and raw["spans"] and build:
        wall_s = build[0] / 1000.0
        node_s = sum(r["s"] for r in res)
        for mat in ("view", "table", "incremental", "microbatch", "snapshot", "test", "ephemeral"):
            layer[f"runner.node_ms.{mat}"] = 1000.0 * sum(r["s"] for r in res if r["mat"] == mat)
        layer["runner.idle_frac"] = 1.0 - node_s / (raw["threads"] * wall_s)
        layer["runner.critical_path_s"] = benchlib.critical_path(
            {r["id"]: r["s"] for r in res}, raw["build_edges"])
        layer["parser.load_ms"] = total_ms("parser.load")
        layer["parser.resolve_ms"] = total_ms("parser.resolve")
        layer["parser.nodes_per_s"] = len(res) / (
            (total_ms("parser.load") + total_ms("parser.resolve")) / 1000.0)
        layer["graph.link_ms"] = total_ms("graph.link")
        layer["compiler.compile_ms"] = total_ms("compiler.compile")
        layer["graph.select_ms"] = total_ms("graph.select")
        layer["artifacts.run_results_ms"] = total_ms("artifacts.run_results")
        layer["artifacts.manifest_ms"] = total_ms("artifacts.manifest")
        layer["artifacts.bytes"] = raw["artifacts_bytes"]
        calls = lt.get("parser.partial", (0, 0.0, 0.0))[0]
        layer["parser.partial_ms"] = total_ms("parser.partial") / calls if calls else 0.0
        layer.update(spark_layer("spark", spark_totals(raw["spark_groups"],
                                                       lambda g: g != "land")))
    return e2e, named, layer


# ---------------------------------------------------------------- main

WORKLOADS = {
    "project": (project_inputs, project_checks, project_reduce),
    "battery": (battery_inputs, battery_checks, battery_reduce),
}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS) + ["calibrate"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    cp = ensure_built()
    os.makedirs(os.path.join(BUILD, "runs"), exist_ok=True)
    ensure_corpus(cp, args)
    t_start = time.time()
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(BUILD, "runs"))
    try:
        inputs = os.path.join(work, "inputs")
        os.makedirs(inputs)
        if args.workload == "calibrate":
            import calibrate
            return calibrate.run(cp, work, args, run_jvm, battery_checks)
        gen, check, reduce = WORKLOADS[args.workload]
        ctx = gen(args, inputs)
        raw = run_jvm(cp, work, args.workload, args)
        checks = raw["checks"] + check(work, ctx, raw)
        e2e, named, layer = reduce(raw, ctx, work)
        common = common_report(raw, t_start)
        e2e.update(setup_s=common["setup_s"], retained_heap_mb=common["retained_heap_mb"])
        ops = raw["ops"]
        attempted = sum(1 for o in ops if not o["traced"]) if not args.trace else len(ops)
        failed = sum(1 for o in ops if not o["ok"] and (args.trace or not o["traced"]))
        correct = all(c["ok"] for c in checks)
        report = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                  "end_to_end": e2e, "named": dict(named, failed_frac=failed / max(1, attempted)),
                  "per_layer": layer, "machine": common["machine"],
                  "warm_pass_s": common["warm_pass_s"],
                  "failed_checks": [c for c in checks if not c["ok"]],
                  "failed_ops": [o.get("err") for o in ops if not o["ok"]][:5]}
        print(json.dumps(report))
        # the contract: every end-to-end metric untraced, every per-layer
        # metric traced; a layer this workload does not exercise reads 0
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)["per_layer" if args.trace else "end_to_end"]
        values = layer if args.trace else e2e
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": {m["name"]: {"value": finite(values.get(m["name"], 0)),
                                                  "unit": m["unit"]} for m in spec}}))
        return 0 if correct else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
