"""Seeded operation streams for the two workloads.

The plan is everything graft is asked to do in one run: statement texts and
change-batch parameters, drawn from ``random.Random(seed)``. The same seed
always gives the same plan; graft only ever sees what the plan names.
"""
import datetime
import os
import random

# Input sizes. Everything fits in memory and in graft's manifest cache; the
# sizes keep a run, set-up included, near a minute on four cores.
READ = {"orders": 15_000, "customers": 1_500, "suppliers": 100}  # sf0.01; lineitem 4x orders
DML = {"orders": 15_000, "customers": 1_500, "reps": 2}          # 30k rows per table
INGEST = {"docs": 300, "copies": 10, "batches": 3}              # 3000 rows, 3 micro-batches
FILES = 10  # data files of each sorted lake table
REPLICA_SHIFT = 10_000_000  # key shift between the replicas of the DML tables
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
HIST_COMMITS = 3
# Spark runs local[CPUS]; DuckDB uses as many threads. Two, not four: at
# these sizes the operations are no faster on four threads, and the two
# spare cores absorb the JIT, the collector and the driver thread, which
# halves the run-to-run spread of the latencies.
CPUS = min(2, os.cpu_count() or 1)

# One round of each workload: the operation classes in the order they run,
# the same in every round. "narrow" classes touch little data and sit on
# the fixed per-operation floor; "wide" ones move many more rows. A
# lake_write round runs the short DML classes three times each, so their
# medians rest on three samples. An ingest operation is one stream run
# whose micro-batch triggers are the narrow samples, followed by a
# curation pass.
OPS = {
    "lake_read": ["scan", "join", "lookup", "history"],
    "lake_write": ["update", "delete", "scd1", "update", "delete", "scd2",
                   "update", "delete", "ingest"],
}
CLASSES = {
    "lake_read": {"narrow": ["lookup", "history"], "wide": ["scan", "join"]},
    "lake_write": {"narrow": ["update", "delete", "trigger"], "wide": ["scd1", "scd2", "curate"]},
}
# Records whose latency is an "operation" for op_ms_tail.
TAIL_CLASSES = {w: c["narrow"] + c["wide"] for w, c in CLASSES.items()}
SETUP_ROUNDS = 3
HEAP_EVERY = {"lake_read": 4, "lake_write": 3}
# Seconds one round takes on a four-core box. A run holds a fixed number of rounds, --seconds / ROUND_S rounded,
# so every run takes the same number of samples of every class.
ROUND_S = {"lake_read": 2.5, "lake_write": 13.0}
# A traced run holds at least two rounds. Of the operations of one class
# it traces the first and fourth of every four (traced, untraced,
# untraced, traced), so a drift across the run cancels out of the
# traced-vs-untraced comparison.
TRACED_ROUNDS = 2
# Past this, the loop stops at the next round boundary (a much slower
# build must still finish inside the run's time limit).
MAX_LOOP_S = 90

Q1 = """SELECT l_returnflag, l_linestatus,
  sum(l_quantity) AS sum_qty,
  sum(l_extendedprice) AS sum_base_price,
  sum(l_extendedprice * (1 - l_discount)) AS sum_disc_price,
  sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS sum_charge,
  avg(l_quantity) AS avg_qty,
  avg(l_extendedprice) AS avg_price,
  avg(l_discount) AS avg_disc,
  count(*) AS count_order
FROM {p}lineitem
WHERE l_shipdate <= DATE '{cutoff}'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus"""

Q5 = """SELECT n_name,
  sum(l_extendedprice * (1 - l_discount)) AS revenue
FROM {p}customer, {p}orders, {p}lineitem, {p}supplier, {p}nation, {p}region
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey AND l_suppkey = s_suppkey
  AND c_nationkey = s_nationkey AND s_nationkey = n_nationkey
  AND n_regionkey = r_regionkey AND r_name = '{region}'
  AND o_orderdate >= DATE '{year}-01-01' AND o_orderdate < DATE '{next}-01-01'
GROUP BY n_name ORDER BY revenue DESC, n_name"""

LOOKUP = """SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate, o_orderpriority
FROM {p}orders WHERE o_orderkey BETWEEN {lo} AND {hi} ORDER BY o_orderkey"""

HISTORY = """SELECT o_orderpriority, count(*) AS n, sum(o_custkey) AS sum_cust,
  sum(o_totalprice) AS sum_price,
  count(o_clerk) AS clerks
FROM {rel} GROUP BY o_orderpriority ORDER BY o_orderpriority"""

LOOKUP_WIDTH = 256


def _read_op(cls, rng, _):
    if cls == "scan":
        delta = rng.randrange(60, 121)
        cutoff = datetime.date(1998, 12, 1) - datetime.timedelta(days=delta)
        key, sql = f"scan:{delta}", Q1.format(p="{p}", cutoff=cutoff)
    elif cls == "join":
        region, year = rng.choice(REGIONS), rng.randrange(1993, 1998)
        key = f"join:{region}:{year}"
        sql = Q5.format(p="{p}", region=region, year=year, next=year + 1)
    elif cls == "lookup":
        lo = rng.randrange(1, READ["orders"] - LOOKUP_WIDTH + 2)
        key = f"lookup:{lo}"
        sql = LOOKUP.format(p="{p}", lo=lo, hi=lo + LOOKUP_WIDTH - 1)
    else:
        # the second snapshot: its two files predate the widening and the
        # added column, and one predates the rename, so every row is read
        # through projection; the price floor is seeded
        k, floor = 2, rng.randrange(0, 100_000)
        where = f"WHERE o_totalprice >= {floor}"
        return {"cls": cls, "key": f"history:{k}:{floor}",
                "sql": HISTORY.format(rel=f"lake.`orders_hist$snapshot_{{snap{k}}}` {where}"),
                "oracle": HISTORY.format(rel=f"orders_hist_{k} {where}")}
    return {"cls": cls, "key": key, "sql": sql.replace("{p}", "lake."),
            "oracle": sql.replace("{p}", "")}


def _write_op(cls, rng, i):
    if cls == "ingest":
        return {"cls": cls, "key": f"ingest:{i}"}
    n = DML["orders"]
    rep = rng.randrange(DML["reps"]) * REPLICA_SHIFT
    if cls == "update":
        lo = rep + rng.randrange(1, n - 300)
        return {"cls": cls, "key": f"update:{lo}", "cond": f"o_orderkey BETWEEN {lo} AND {lo + 299}"}
    if cls == "delete":
        d1 = datetime.date(1992, 1, 1) + datetime.timedelta(days=rng.randrange(0, 2390))
        d2 = d1 + datetime.timedelta(days=7)
        return {"cls": cls, "key": f"delete:{d1}",
                "cond": f"o_orderdate >= DATE '{d1}' AND o_orderdate < DATE '{d2}'"}
    ins_lo = rng.randrange(1, n - 200)
    op = {"cls": cls, "ins_shift": 50 * REPLICA_SHIFT}
    if cls == "scd1":
        # about 1% of all keys, scattered over every file, plus 200 new keys
        s = rng.randrange(100)
        op.update(key=f"scd1:{s}:{ins_lo}", ins_lo=ins_lo, ins_hi=ins_lo + 199,
                  update_sql=f"(o_orderkey * 7919 + {s}) % 100 = 0")
    else:
        # 600 clustered keys plus 100 new keys
        lo = rep + rng.randrange(1, n - 600)
        op.update(key=f"scd2:{lo}:{ins_lo}", ins_lo=ins_lo, ins_hi=ins_lo + 99,
                  update_sql=f"o_orderkey BETWEEN {lo} AND {lo + 599}")
    return op


def rounds(workload, seconds, trace):
    n = max(1, round(seconds / ROUND_S[workload]))
    return max(n, TRACED_ROUNDS) if trace else n


def is_traced(k):
    """Whether the k-th operation of a class is traced in a traced run."""
    return k % 4 in (0, 3)


def make_plan(workload, seed, seconds, trace):
    """The run's plan: one warm-up operation per class, then the timed
    operation stream, a fixed number of rounds with the classes in the same
    order in each. Parameters come from the seed."""
    rng = random.Random(f"{workload}:{seed}")
    gen = _read_op if workload == "lake_read" else _write_op
    classes = OPS[workload]
    warm = [gen(c, rng, -1) for c in dict.fromkeys(classes)]
    ops, seen = [], dict.fromkeys(classes, 0)
    for _ in range(rounds(workload, seconds, trace)):
        for c in classes:
            op = gen(c, rng, len(ops))
            op["traced"] = bool(trace) and is_traced(seen[c])
            seen[c] += 1
            ops.append(op)
    rows = {"lineitem": 4 * READ["orders"], "orders": READ["orders"],
            "orders_rep": DML["orders"] * DML["reps"]}
    return {"workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
            "cpus": CPUS, "setup_rounds": SETUP_ROUNDS, "files": FILES, "table_rows": rows,
            "per_round": len(classes), "max_loop_s": MAX_LOOP_S,
            "heap_every": HEAP_EVERY[workload], "warmup": warm, "ops": ops}
