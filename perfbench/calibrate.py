"""Rebuilds battery_catalog.tsv in two stages. The first times every
registered query at sf0.1 (one cold and one warm run, fully materialized),
checks each against its DuckDB oracle, and keeps the candidates. The
second times the candidates the way the battery runs them and keeps, per
family, the ones of about equal cost.

    python3 perfbench/run.py --workload calibrate --seed 0 --seconds 0 --trace 1

A query is a candidate when it passes its check, its oracle answers
within MAX_ORACLE_MS, its warm time lies in [MIN_WARM_MS, MAX_WARM_MS],
and that time is within BAND of its family's median. The window keeps a
pass short enough to repeat within one run.

A query's time alone can differ from its time inside the battery by up to
~40% either way (measured on a 4-core x86 VM: emb_cluster_assign 340 vs
466 ms, q_scalar_part 237 vs 161 ms), through the JIT and Spark state the
other queries leave. So the second stage runs every candidate in one
battery JVM, pass after pass, in REFINE_ORDERS shuffled orders, and keeps
per family the largest set whose median times lie within BAND of one
value (benchlib.densest).
The draw takes one query per family, so this keeps the drawn set's work,
and where the median query falls in it, about the same for every seed: a
seed changes which queries run, not how much work.

The RESIDENT queries go through a ResidentCache slot. They form a family
of their own, `resident`; with one query in it, every seed draws it, so
the battery always exercises the cache and the heap the cache holds
counts in retained_heap_mb for every seed alike.
"""
import json
import os
import statistics
import time

import benchlib

HERE = os.path.dirname(os.path.abspath(__file__))
MIN_WARM_MS = 100
MAX_WARM_MS = 400
BAND = 0.07
RESIDENT = {"txt_char_lm_score"}
MAX_ORACLE_MS = 3000
REFINE_ORDERS = 3


def run(cp, work, args, run_jvm, battery_checks):
    raw = run_jvm(cp, work, "calibrate", args, timeout=3600, heap="8g")
    by_q = {}
    for o in raw["ops"]:
        by_q.setdefault(o["query"], []).append(o)
    # oracle time per query, measured one query at a time
    with open(os.path.join(work, "outputs", "oracle_sql.json")) as f:
        oracles = json.load(f)
    timed = {}
    for q in sorted(oracles):
        t0 = time.time()
        res = battery_checks(work, {}, only={q}, limit_s=MAX_ORACLE_MS / 1000.0)
        timed[q] = ((time.time() - t0) * 1000, res[0]["ok"], res[0]["detail"])
    rows = []
    for q in sorted(oracles):
        ops = by_q.get(q, [])
        ok_ops = [o for o in ops if o["ok"]]
        warm = [(o["end_ns"] - o["start_ns"]) / 1e6 for o in ok_ops[1:]]
        duck_ms, ok, detail = timed[q]
        fam = "resident" if q in RESIDENT else benchlib.family(q)
        rows.append((q, fam, statistics.median(warm) if warm else None,
                     duck_ms, ok and len(ok_ops) == 2, detail))
    with open(os.path.join(HERE, "calibration.tsv"), "w") as f:
        f.write("#query\tfamily\twarm_ms\toracle_ms\tok\tdetail\n")
        for q, fam, w, d, ok, det in rows:
            f.write(f"{q}\t{fam}\t{w if w is None else round(w, 1)}\t{round(d)}\t{ok}\t{det}\n")
    write_catalog(rows)
    refine(cp, work, args, run_jvm)
    return 0


def write_catalog(rows):
    """rows: (query, family, warm_ms, oracle_ms, ok, detail)."""
    fit = [r for r in rows if r[4] and r[2] is not None
           and MIN_WARM_MS <= r[2] <= MAX_WARM_MS and r[3] <= MAX_ORACLE_MS]
    med = {fam: statistics.median(r[2] for r in fit if r[1] == fam) for _, fam, *_ in fit}
    eligible = sorted((r for r in fit if abs(r[2] - med[r[1]]) <= BAND * med[r[1]]),
                      key=lambda r: (r[1], r[2]))
    with open(os.path.join(HERE, "battery_catalog.tsv"), "w") as f:
        f.write("# query\tfamily\twarm_ms (see calibrate.py)\n")
        for r in eligible:
            f.write(f"{r[0]}\t{r[1]}\t{round(r[2])}\n")


def refine(cp, work, args, run_jvm):
    """Second stage: rewrites battery_catalog.tsv from the candidates'
    median times inside battery passes."""
    path = os.path.join(HERE, "battery_catalog.tsv")
    family = dict(benchlib.read_catalog(path))
    times = {}
    for order in range(REFINE_ORDERS):
        with open(os.path.join(work, "inputs", "draw.txt"), "w") as f:
            f.write("\n".join(benchlib.draw_queries(
                [(q, q) for q in family], order)) + "\n")
        raw = run_jvm(cp, work, "battery", args, timeout=900)
        for o in raw["ops"]:
            if o["kind"] == "query" and o["ok"] and not o["traced"]:
                times.setdefault(o["query"], []).append((o["end_ns"] - o["start_ns"]) / 1e6)
    ms = {q: statistics.median(v) for q, v in times.items()}
    with open(path, "w") as f:
        f.write("# query\tfamily\tbattery_ms (see calibrate.py)\n")
        for fam in sorted(set(family.values())):
            for q in benchlib.densest({q: ms[q] for q in ms if family[q] == fam}, BAND):
                f.write(f"{q}\t{fam}\t{round(ms[q])}\n")
