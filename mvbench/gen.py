"""Seeded input generator.

Every input a workload uses is generated here, from the seed alone, and
written as parquet before the engine starts. The engine reads only these
files. Generating deltas inside the timed loop (for example with
`spark.range`) was measured to raise codegen compilations from 34 to 90 per
batch and task CPU from 2.0 s to 5.0 s, so nothing is generated once timing
has begun.

The generator also returns the logical contents it wrote, which the
correctness model (check.py) replays independently of the engine.
"""
import datetime
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import queries

ORDER_COLS = ["okey", "ckey", "oval"]
LINE_COLS = ["okey", "lid", "pkey", "qty", "price"]
N_GROUPS = 1000  # pkey domain of the aggregate view

# Changelog shapes, as operations per commit. The mv_serve commit is about
# 200 changelog rows, the delta size the engine was first sized with
# (MaintainedJoin plus an accumulable view). How those rows split is an
# assumption, not measured traffic: each relation gets equal numbers of
# inserts, updates and deletes, and orders and lineitems change rows 1 : 4,
# as their live rows stand. Orders: 10 of each is 40 rows (an update is a
# retraction and an insertion) plus ~40 lineitems of the inserted orders;
# lineitems: 30 of each is 120 rows. The maintained state (~25k rows) is
# over 100 times one commit.
SHAPES = {
    "mv_serve": dict(orders=5000, o_ins=10, o_upd=10, o_del=10, l_ins=30, l_upd=30, l_del=30),
    # small inputs for the benchmark's own tests
    "mv_serve_tiny": dict(orders=200, o_ins=1, o_upd=1, o_del=1, l_ins=3, l_upd=3, l_del=3),
}
WARMUP_COMMITS = 1  # commits applied before the script starts
# Reads per commit: the four kinds in equal counts, which is an assumption,
# not measured traffic (op_geomean_ms weighs kinds equally whatever their
# counts). The workload was specified with a commit every ~20 reads; at 20,
# one four-commit cycle took 30-40 s and a traced run (three loops) came
# near the 180 s a run may take, so a commit lands every 12 reads.
READ_CYCLE = ["pt", "rng", "asof", "fetch"] * 3


def write_parquet(path, cols, rows):
    arrays = {c: pa.array([r[i] for r in rows], type=pa.int64())
              for i, c in enumerate(cols)}
    pq.write_table(pa.table(arrays), path)


def write_changelog(path, cols, changes):
    write_parquet(path, cols + ["diff"], [row + (d,) for row, d in changes])


class KeyPool:
    """Live keys in a dense list, so a key is sampled and removed in O(1)."""

    def __init__(self):
        self.keys = []
        self.pos = {}

    def __len__(self):
        return len(self.keys)

    def __getitem__(self, i):
        return self.keys[i]

    def add(self, k):
        self.pos[k] = len(self.keys)
        self.keys.append(k)

    def remove(self, k):
        i = self.pos.pop(k)
        last = self.keys.pop()
        if last != k:
            self.keys[i] = last
            self.pos[last] = i


class ChangelogState:
    """Live rows of the two base relations while deltas are generated, so
    every delete and update retracts a row that exists at that point."""

    def __init__(self, rng, n_orders):
        self.rng = rng
        self.orders = {}
        self.lines = {}
        self.order_keys = KeyPool()
        self.line_keys = KeyPool()
        self.next_okey = 0
        self.next_lid = 0
        for _ in range(n_orders):
            self.insert_order()

    def new_order_row(self):
        r = self.rng
        row = (self.next_okey, int(r.integers(0, 1000)), int(r.integers(1, 10000)))
        self.next_okey += 1
        return row

    def new_line_row(self, okey):
        r = self.rng
        row = (okey, self.next_lid, int(r.integers(0, N_GROUPS)),
               int(r.integers(1, 51)), int(r.integers(100, 100000)))
        self.next_lid += 1
        return row

    def insert_order(self, changes_o=None, changes_l=None):
        o = self.new_order_row()
        self.orders[o[0]] = o
        self.order_keys.add(o[0])
        if changes_o is not None:
            changes_o.append((o, 1))
        for _ in range(int(self.rng.integers(2, 7))):  # fan-out 2..6, mean 4
            line = self.new_line_row(o[0])
            self.lines[line[1]] = line
            self.line_keys.add(line[1])
            if changes_l is not None:
                changes_l.append((line, 1))

    def zipf_pick(self, keys):
        rank = int(self.rng.zipf(1.3))
        return keys[(rank - 1) % len(keys)]

    def uniform_pick(self, keys):
        return keys[int(self.rng.integers(0, len(keys)))]

    def update_order(self, out):
        k = self.zipf_pick(self.order_keys)
        old = self.orders[k]
        new = (old[0], old[1], int(self.rng.integers(1, 10000)))
        self.orders[k] = new
        out += [(old, -1), (new, 1)]

    def delete_order(self, out):
        k = self.uniform_pick(self.order_keys)
        out.append((self.orders.pop(k), -1))
        self.order_keys.remove(k)

    def update_line(self, out):
        k = self.zipf_pick(self.line_keys)
        old = self.lines[k]
        new = (old[0], old[1], old[2], int(self.rng.integers(1, 51)),
               int(self.rng.integers(100, 100000)))
        self.lines[k] = new
        out += [(old, -1), (new, 1)]

    def delete_line(self, out):
        k = self.uniform_pick(self.line_keys)
        out.append((self.lines.pop(k), -1))
        self.line_keys.remove(k)

    def insert_line(self, out):
        line = self.new_line_row(self.uniform_pick(self.order_keys))
        self.lines[line[1]] = line
        self.line_keys.add(line[1])
        out.append((line, 1))

    def batch(self, shape):
        co, cl = [], []
        for _ in range(shape["o_ins"]):
            self.insert_order(co, cl)
        for _ in range(shape["o_upd"]):
            self.update_order(co)
        for _ in range(shape["o_del"]):
            self.delete_order(co)
        for _ in range(shape["l_ins"]):
            self.insert_line(cl)
        for _ in range(shape["l_upd"]):
            self.update_line(cl)
        for _ in range(shape["l_del"]):
            self.delete_line(cl)
        return co, cl


def gen_changelogs(seed, d, n_batches, shape):
    rng = np.random.default_rng([seed, 1])
    st = ChangelogState(rng, shape["orders"])
    orders0 = sorted(st.orders.values())
    lines0 = sorted(st.lines.values())
    write_parquet(os.path.join(d, "orders.parquet"), ORDER_COLS, orders0)
    write_parquet(os.path.join(d, "lineitem.parquet"), LINE_COLS, lines0)
    os.makedirs(os.path.join(d, "batches"))
    batches = []
    for i in range(n_batches):
        co, cl = st.batch(shape)
        a = f"batches/a_{i:05d}.parquet"
        b = f"batches/b_{i:05d}.parquet"
        write_changelog(os.path.join(d, a), ORDER_COLS, co)
        write_changelog(os.path.join(d, b), LINE_COLS, cl)
        batches.append({"a": a, "b": b, "a_changes": co, "b_changes": cl})
    return orders0, lines0, batches


def read_script(rng, n_ops, n_orders):
    """Seeded read mix: each cycle is one commit followed by a shuffled
    fixed multiset of reads, so every seed sees the same composition. The
    AS OF lags (commits back from the latest) are a fixed multiset too:
    over every four commits each lag from 0 to 3 comes equally often."""
    ops = []
    commits = 0
    lags = []
    while len(ops) < n_ops:
        ops.append({"k": "commit", "batch": commits})
        if commits % 4 == 0:
            lags = list(rng.permutation(list(range(4)) * READ_CYCLE.count("asof")))
        commits += 1
        for k in rng.permutation(READ_CYCLE):
            k = str(k)
            if k == "pt":
                key = int(rng.integers(0, N_GROUPS))
                ops.append({"k": k, "sql":
                            "SELECT pkey, support, sum_qty, sum_price FROM pagg "
                            f"WHERE pkey = {key}", "key": key})
            elif k == "rng":
                lo = int(rng.integers(0, n_orders - 100))
                ops.append({"k": k, "sql":
                            "SELECT sum(diff) AS n, sum(qty * diff) AS q, "
                            "sum(price * diff) AS p FROM oj__out "
                            f"WHERE diff > 0 AND okey BETWEEN {lo} AND {lo + 99}",
                            "lo": lo, "hi": lo + 99})
            elif k == "asof":
                lo = int(rng.integers(0, N_GROUPS - 20))
                ops.append({"k": k, "lag": int(lags.pop()),
                            "lo": lo, "hi": lo + 19})
            else:
                ops.append({"k": k})
    return ops, commits


def gen_sql_tables(seed, d, scale=1.0):
    rng = np.random.default_rng([seed, 3])
    n_cust, n_orders, n_part, n_supp = (int(3000 * scale), int(30000 * scale),
                                        int(4000 * scale), max(20, int(200 * scale)))
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    segments = queries.SEGMENTS
    tables = {}
    tables["region"] = {"r_regionkey": np.arange(5), "r_name": regions}
    tables["nation"] = {"n_nationkey": np.arange(25),
                        "n_name": [f"NATION{i:02d}" for i in range(25)],
                        "n_regionkey": np.arange(25) % 5}
    tables["supplier"] = {"s_suppkey": np.arange(n_supp),
                          "s_name": [f"Supplier#{i:05d}" for i in range(n_supp)],
                          "s_nationkey": rng.integers(0, 25, n_supp),
                          "s_acctbal": rng.integers(-99999, 999999, n_supp)}
    tables["customer"] = {"c_custkey": np.arange(n_cust),
                          "c_name": [f"Customer#{i:06d}" for i in range(n_cust)],
                          "c_nationkey": rng.integers(0, 25, n_cust),
                          "c_mktsegment": [segments[i] for i in rng.integers(0, 5, n_cust)],
                          "c_acctbal": rng.integers(-99999, 999999, n_cust)}
    types = [f"{a} {b}" for a in queries.TYPE_PREFIXES for b in ("BRASS", "STEEL", "TIN")]
    tables["part"] = {"p_partkey": np.arange(n_part),
                      "p_name": [f"part{i}" for i in range(n_part)],
                      "p_brand": [f"Brand#{i}" for i in rng.integers(11, 56, n_part)],
                      "p_type": [types[i] for i in rng.integers(0, len(types), n_part)],
                      "p_container": [queries.CONTAINERS[i] for i in
                                      rng.integers(0, len(queries.CONTAINERS), n_part)],
                      "p_size": rng.integers(1, 51, n_part),
                      "p_retailprice": rng.integers(90000, 200000, n_part)}
    base = datetime.date(1992, 1, 1)
    odate = rng.integers(0, 2400, n_orders)
    tables["orders"] = {"o_orderkey": np.arange(n_orders),
                        "o_custkey": rng.integers(0, n_cust, n_orders),
                        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_orders)],
                        "o_totalprice": rng.integers(1000, 50000000, n_orders),
                        "o_orderdate": [base + datetime.timedelta(days=int(x)) for x in odate],
                        "o_orderpriority": [queries.PRIORITIES[i] for i in
                                            rng.integers(0, 5, n_orders)]}
    per = rng.integers(1, 8, n_orders)
    n_line = int(per.sum())
    okeys = np.repeat(np.arange(n_orders), per)
    linenum = np.concatenate([np.arange(1, p + 1) for p in per])
    ship = np.repeat(odate, per) + rng.integers(1, 122, n_line)
    commit = np.repeat(odate, per) + rng.integers(30, 91, n_line)
    receipt = ship + rng.integers(1, 31, n_line)
    qty = rng.integers(1, 51, n_line)
    day = lambda x: base + datetime.timedelta(days=int(x))
    tables["lineitem"] = {
        "l_orderkey": okeys,
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": linenum,
        "l_quantity": qty,
        "l_extendedprice": qty * rng.integers(900, 2000, n_line),
        "l_discount": rng.integers(0, 11, n_line),
        "l_tax": rng.integers(0, 9, n_line),
        "l_returnflag": [("R", "A", "N")[i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [("O", "F")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": [day(x) for x in ship],
        "l_commitdate": [day(x) for x in commit],
        "l_receiptdate": [day(x) for x in receipt],
        "l_shipmode": [queries.SHIPMODES[i] for i in rng.integers(0, 7, n_line)],
    }
    # layered DAG for the recursive reachability query: a fixpoint needs one
    # round per layer, so the round count is fixed by construction
    layers, width, fan = 5, int(300 * scale) or 3, 3
    src = np.repeat(np.arange((layers - 1) * width), fan)
    layer = src // width
    dst = (layer + 1) * width + rng.integers(0, width, len(src))
    tables["edges"] = {"src": src, "dst": dst}
    for name, cols in tables.items():
        arrays = {}
        for c, v in cols.items():
            if isinstance(v, np.ndarray):
                arrays[c] = pa.array(v.astype(np.int64), type=pa.int64())
            elif isinstance(v[0], datetime.date):
                arrays[c] = pa.array(v, type=pa.date32())
            else:
                arrays[c] = pa.array(v, type=pa.string())
        pq.write_table(pa.table(arrays), os.path.join(d, f"{name}.parquet"))
    return {"width": width}


def checksum(d):
    h = hashlib.sha256()
    for root, dirs, files in os.walk(d):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, d).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def generate(workload, seed, d, seconds, phases, tiny=False):
    """Write every input of one run under `d`; return (plan, truth).

    `plan` is what the engine-side harness receives (file names, SQL texts,
    the op script); `truth` is what only the correctness model sees."""
    os.makedirs(d)
    if workload == "mv_serve":
        shape = SHAPES[workload + ("_tiny" if tiny else "")]
        # enough operations that a loop ten times faster than today still
        # cannot run out before its time is up
        n_ops = int(60 * seconds * phases) + 100
        script, commits = read_script(np.random.default_rng([seed, 2]), n_ops,
                                      shape["orders"])
        orders0, lines0, batches = gen_changelogs(seed, d, WARMUP_COMMITS + commits, shape)
        plan = {"workload": workload, "dir": d, "warmup_commits": WARMUP_COMMITS,
                "batches": [{k: b[k] for k in ("a", "b")} for b in batches],
                "script": script}
        truth = {"orders": orders0, "lines": lines0, "batches": batches}
    elif workload == "sql_adhoc":
        info = gen_sql_tables(seed, d, scale=0.05 if tiny else 0.5)
        mix = queries.mix(np.random.default_rng([seed, 5]), info)
        plan = {"workload": workload, "dir": d, "tables": queries.TABLES,
                "queries": [{"name": q["name"], "sql": q["spark"]} for q in mix]}
        truth = {"queries": mix}
    else:
        raise ValueError(f"unknown workload {workload}")
    return plan, truth
