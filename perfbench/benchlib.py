"""Pure logic of the benchmark: seeded input generation, percentiles,
span self time, storage accounting. No I/O beyond writing generated
project files, so tests/test_benchlib.py can pin all of it."""
import math
import os
import random

# ---------------------------------------------------------------- percentiles


def percentile(values, pct):
    """Nearest-rank percentile: the smallest sample with at least `pct`
    percent of the samples at or below it."""
    xs = sorted(values)
    rank = max(1, math.ceil(pct / 100.0 * len(xs)))
    return xs[rank - 1]


def tail_pct(n, beyond=10):
    """Highest whole percentile that leaves at least `beyond` samples above
    it, never below the median: with fewer than 2*beyond samples the tail
    reads the median."""
    best = 50
    for pct in range(50, 100):
        if n - max(1, math.ceil(pct / 100.0 * n)) >= beyond:
            best = pct
    return best


def latency_summary(values):
    """Median and tail of a latency sample, with the tail's percentile and
    the sample count beside them."""
    pct = tail_pct(len(values))
    return {"p50": percentile(values, 50), "tail": percentile(values, pct),
            "tail_pct": pct, "n": len(values)}


# ---------------------------------------------------------------- spans


def self_times(spans):
    """Span id -> its duration minus the part of it its children cover.
    Children may overlap each other (concurrent workers); the union of
    their intervals, clipped to the parent, is subtracted once."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        ivs = sorted((max(lo, c["start_ns"]), min(hi, c["end_ns"]))
                     for c in kids.get(s["id"], []))
        covered, cur_lo, cur_hi = 0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (hi - lo) - covered
    return out


def layer_totals(spans):
    """Span name -> (calls, total ms, self ms)."""
    selfs = self_times(spans)
    out = {}
    for s in spans:
        n, tot, slf = out.get(s["name"], (0, 0.0, 0.0))
        out[s["name"]] = (n + 1, tot + (s["end_ns"] - s["start_ns"]) / 1e6,
                          slf + selfs[s["id"]] / 1e6)
    return out


# ---------------------------------------------------------------- storage


def files_written(before, after):
    """Files created or rewritten between two {path: size} listings:
    (count, bytes). A path whose size changed counts as rewritten."""
    new = [p for p, size in after.items() if before.get(p) != size]
    return len(new), sum(after[p] for p in new)


def write_amp(written_bytes, landed_bytes):
    """Bytes the warehouse wrote per byte of source data landed."""
    return written_bytes / landed_bytes


def space_amp(disk_bytes, live_bytes):
    """Bytes on disk per byte reachable from the head versions."""
    return disk_bytes / live_bytes


# ---------------------------------------------------------------- graphs


def critical_path(weights, edges):
    """Longest path through a DAG, weighting each node by its own time."""
    kids, indeg = {}, {n: 0 for n in weights}
    for a, b in edges:
        if a in weights and b in weights:
            kids.setdefault(a, []).append(b)
            indeg[b] += 1
    best = {n: weights[n] for n in weights}
    ready = [n for n, d in indeg.items() if d == 0]
    while ready:
        n = ready.pop()
        for k in kids.get(n, []):
            best[k] = max(best[k], best[n] + weights[k])
            indeg[k] -= 1
            if indeg[k] == 0:
                ready.append(k)
    return max(best.values(), default=0.0)


# ---------------------------------------------------------------- battery draw


def read_catalog(path):
    """battery_catalog.tsv rows: (query, family)."""
    rows = []
    with open(path) as f:
        for line in f:
            if line.strip() and not line.startswith("#"):
                q, fam = line.split("\t")[:2]
                rows.append((q, fam))
    return rows


def draw_queries(catalog, seed):
    """One query per family, in seeded order. The catalog holds only
    queries of similar cost within each family (calibrate.py), so every
    seed draws a different set with about the same total work."""
    rng = random.Random(seed)
    fams = {}
    for q, fam in sorted(catalog):
        fams.setdefault(fam, []).append(q)
    picks = [rng.choice(qs) for _, qs in sorted(fams.items())]
    rng.shuffle(picks)
    return picks


def densest(costs, band):
    """The largest set of queries whose costs lie within `band` of one
    value, i.e. in one window [c, c * (1 + band) / (1 - band)]; the
    cheaper window on a tie. `costs`: {query: cost}."""
    qs = sorted(costs, key=lambda q: (costs[q], q))
    best = []
    for i, q in enumerate(qs):
        win = [x for x in qs[i:] if costs[x] <= costs[q] * (1 + band) / (1 - band)]
        if len(win) > len(best):
            best = win
    return best


def family(query):
    """Query family: its name's first word, with the numbered TPC-H
    queries (q1_..., q21_...) as one family `tpch`."""
    head = query.split("_")[0]
    return "tpch" if head[0] == "q" and head[1:].isdigit() else head


# ---------------------------------------------------------------- dbt project

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
STAGING = {
    "stg_orders": ("view", "select o_orderkey, o_custkey, o_orderstatus, o_orderpriority,\n"
                   "  o_orderdate, cast(round(o_totalprice * 100) as bigint) as o_cents\n"
                   "from {{ source('tpch', 'orders') }}"),
    "stg_lineitem": ("ephemeral", "select l_orderkey, l_partkey, l_suppkey, l_returnflag,\n"
                     "  l_linestatus, cast(l_quantity as bigint) as l_qty,\n"
                     "  cast(round(l_extendedprice * (1 - l_discount) * 100) as bigint) as l_cents\n"
                     "from {{ source('tpch', 'lineitem') }}"),
    "stg_customer": ("view", "select c_custkey, c_nationkey, c_mktsegment\n"
                     "from {{ source('tpch', 'customer') }}"),
    "stg_part": ("view", "select p_partkey, p_brand, p_type, p_size\n"
                 "from {{ source('tpch', 'part') }}"),
    "stg_events": ("view", "select event_id, user_id, event_type, ts, to_date(ts) as d,\n"
                   "  cast(round(value * 100) as bigint) as cents\n"
                   "from {{ source('app', 'events') }}"),
}


def _cfg(**kw):
    return "{{ config(" + ", ".join(f"{k}={v!r}" for k, v in kw.items()) + ") }}\n"


def _int_model(rng, i):
    """An intermediate filter over one staging model (view or ephemeral)."""
    kind = rng.choice(["orders", "lineitem", "events"])
    if kind == "orders":
        ps = sorted(rng.sample(PRIORITIES, rng.randint(2, 4)))
        body = ("select * from {{ ref('stg_orders') }}\nwhere o_orderpriority in (" +
                ", ".join(f"'{p}'" for p in ps) + ")")
    elif kind == "lineitem":
        flag = rng.choice(["A", "N", "R"])
        body = f"select * from {{{{ ref('stg_lineitem') }}}}\nwhere l_returnflag = '{flag}'"
    else:
        ts = sorted(rng.sample(EVENT_TYPES, rng.randint(2, 4)))
        body = ("select * from {{ ref('stg_events') }}\nwhere event_type in (" +
                ", ".join(f"'{t}'" for t in ts) + ")")
    return f"int_{i:02d}", kind, _cfg(materialized=rng.choice(["view", "ephemeral"])) + body


def _mart(rng, i, ints):
    """A table mart aggregating one intermediate model; `k` is its key."""
    name, kind = rng.choice(ints)
    if kind == "orders":
        shape = rng.choice(["segment", "status"])
        if shape == "segment":
            sql = ("select concat(c.c_mktsegment, '|', year(o.o_orderdate)) as k,\n"
                   "  c.c_mktsegment as segment, count(*) as n, sum(o.o_cents) as cents\n"
                   f"from {{{{ ref('{name}') }}}} o\n"
                   "join {{ ref('stg_customer') }} c on o.o_custkey = c.c_custkey\n"
                   "group by c.c_mktsegment, year(o.o_orderdate)")
            extra = {"segment": SEGMENTS}
        else:
            sql = ("select concat(o_orderstatus, '|', o_orderpriority) as k,\n"
                   "  o_orderstatus as status, count(*) as n, sum(o_cents) as cents\n"
                   f"from {{{{ ref('{name}') }}}}\ngroup by o_orderstatus, o_orderpriority")
            extra = {"status": ["F", "O", "P"]}
    elif kind == "lineitem":
        by = rng.choice(["p_brand", "p_type", "p_size"])
        sql = (f"select cast(p.{by} as string) as k, count(*) as n, sum(l.l_qty) as qty,\n"
               "  sum(l.l_cents) as cents\n"
               f"from {{{{ ref('{name}') }}}} l\n"
               "join {{ ref('stg_part') }} p on l.l_partkey = p.p_partkey\n"
               f"group by p.{by}")
        extra = {}
    else:
        sql = ("select concat(cast(d as string), '|', event_type) as k, event_type,\n"
               "  count(*) as n, sum(cents) as cents\n"
               f"from {{{{ ref('{name}') }}}}\ngroup by d, event_type")
        extra = {"event_type": EVENT_TYPES}
    return f"mart_{i:02d}", _cfg(materialized="table") + sql, extra


def _incrementals(rng):
    """Models the ticks re-run: a merge, an append and a microbatch model.
    With the snapshot they are four nodes, one round of a 4-thread Runner.
    The seed picks which event types they read, never how many, so a tick
    does about the same work for every seed."""
    ts = sorted(rng.sample(EVENT_TYPES, 3))
    kind = rng.choice(EVENT_TYPES)
    return {
        "inc_user": ("user_id", _cfg(
            materialized="incremental", incremental_strategy="merge",
            unique_key="user_id", tags=["ticking"]) +
            "select user_id, count(*) as n, sum(cents) as cents, max(event_id) as last_id\n"
            "from {{ ref('stg_events') }}\nwhere event_type in (" +
            ", ".join(f"'{t}'" for t in ts) + ")\n"
            "{% if is_incremental() %}\n  and user_id in (select user_id from "
            "{{ ref('stg_events') }}\n    where event_id > (select coalesce(max(last_id), -1) "
            "from {{ this }}))\n{% endif %}\ngroup by user_id"),
        f"inc_{kind}": ("event_id", _cfg(
            materialized="incremental", incremental_strategy="append", tags=["ticking"]) +
            "select event_id, user_id, cents, ts from {{ ref('stg_events') }}\n"
            f"where event_type = '{kind}'\n"
            "{% if is_incremental() %}\n  and event_id > (select coalesce(max(event_id), -1) "
            "from {{ this }})\n{% endif %}"),
        "mb_events": ("event_id", _cfg(
            materialized="incremental", incremental_strategy="microbatch", event_time="ts",
            batch_size="day", begin="2024-01-28", unique_key="event_id", tags=["ticking"]) +
            "select event_id, user_id, event_type, cents, ts from {{ ref('stg_events') }}"),
    }


N_INTS = 8
N_MARTS = 8


def gen_dbt_project(seed, root, data_dir):
    """A seeded dbt project over the tpch and app.events sources: staging
    views and an ephemeral, intermediate views/ephemerals, table marts,
    merge/append/microbatch incrementals, one snapshot, and unique /
    not_null / relationships / accepted_values tests. Returns the
    expected node counts by resource type."""
    rng = random.Random(seed)
    models = os.path.join(root, "models")
    os.makedirs(models, exist_ok=True)
    os.makedirs(os.path.join(root, "snapshots"), exist_ok=True)

    def write(rel, text):
        with open(os.path.join(root, rel), "w") as f:
            f.write(text + "\n")

    write("dbt_project.yml", f"name: bench\nvars:\n  data_dir: {data_dir}")
    src = "version: 2\nsources:\n  - name: tpch\n    tables:\n" + "".join(
        f"      - name: {t}\n        location: \"{{data_dir}}/{t}.parquet\"\n"
        for t in ("orders", "lineitem", "customer", "part"))
    src += ("  - name: app\n    tables:\n      - name: events\n"
            "        location: \"{data_dir}/events.parquet\"\n        event_time: ts\n")
    write("models/sources.yml", src)
    for name, (mat, body) in STAGING.items():
        # microbatch filters only refs that declare their event time
        extra = {"event_time": "ts"} if name == "stg_events" else {}
        write(f"models/{name}.sql", _cfg(materialized=mat, **extra) + body)
    ints = []
    for i in range(N_INTS):
        name, kind, sql = _int_model(rng, i)
        ints.append((name, kind))
        write(f"models/{name}.sql", sql)
    tests = []  # (model, column, test yaml)
    for i in range(N_MARTS):
        name, sql, extra = _mart(rng, i, ints)
        write(f"models/{name}.sql", sql)
        tests += [(name, "k", "unique"), (name, "k", "not_null")]
        tests += [(name, col, "accepted_values:\n              values: [" +
                   ", ".join(f"'{v}'" for v in vals) + "]") for col, vals in extra.items()]
    incs = _incrementals(rng)
    for name, (key, sql) in incs.items():
        write(f"models/{name}.sql", sql)
        tests += [(name, key, "unique"), (name, key, "not_null")]
    tests += [("stg_orders", "o_custkey", "relationships:\n              to: ref('stg_customer')"
               "\n              field: c_custkey"),
              ("stg_events", "event_type", "accepted_values:\n              values: [" +
               ", ".join(f"'{t}'" for t in EVENT_TYPES) + "]")]
    write("snapshots/user_snap.sql", _cfg(strategy="check", unique_key="user_id",
                                          check_cols=["n_events"], tags=["ticking"]) +
          "select user_id, count(*) as n_events from {{ ref('stg_events') }} group by user_id")
    by_model = {}
    for m, col, t in tests:
        by_model.setdefault(m, {}).setdefault(col, []).append(t)
    yml = "version: 2\nmodels:\n"
    for m in sorted(by_model):
        yml += f"  - name: {m}\n    columns:\n"
        for col in sorted(by_model[m]):
            yml += f"      - name: {col}\n        tests:\n" + "".join(
                f"          - {t}\n" for t in by_model[m][col])
    write("models/schema.yml", yml)
    n_models = len(STAGING) + N_INTS + N_MARTS + len(incs)
    return {"model": n_models, "test": len(tests), "snapshot": 1,
            "ticking": sorted(incs), "keys": {m: k for m, (k, _) in incs.items()}}
