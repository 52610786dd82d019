"""Correctness checks, run after timing.

mv_serve is checked against an in-memory multiset model of both views,
built here from the generated changelogs and nothing the engine computed. sql_adhoc is checked against DuckDB running the same query texts
over the same parquet files. Each function returns a list of mismatch
messages; every message counts as one failed operation.
"""
import json
import math
import os
from collections import Counter, defaultdict


def _add(ms, row, d):
    n = ms.get(row, 0) + d
    if n:
        ms[row] = n
    else:
        ms.pop(row, None)


class ViewModel:
    """Orders, lineitems and the two views over them, as multisets."""

    def __init__(self, orders, lines):
        self.orders = Counter(orders)
        self.lines = Counter(lines)
        self.agg = defaultdict(lambda: [0, 0, 0])  # pkey -> support, qty, price
        for line, m in self.lines.items():
            self._agg(line, m)

    def _agg(self, line, m):
        a = self.agg[line[2]]
        a[0] += m
        a[1] += m * line[3]
        a[2] += m * line[4]

    def apply(self, a_changes, b_changes):
        for row, d in a_changes:
            _add(self.orders, tuple(row), d)
        for row, d in b_changes:
            _add(self.lines, tuple(row), d)
            self._agg(tuple(row), d)

    def agg_rows(self):
        return sorted((k, *v) for k, v in self.agg.items() if v[0] > 0)


def check_serve(truth, out_dir):
    """Replay the engine's operation log against the model, in order."""
    model = ViewModel(truth["orders"], truth["lines"])
    at_commit = [model.agg_rows()]
    fetched = {}
    bad = []
    with open(os.path.join(out_dir, "serve_log.jsonl")) as f:
        log = [json.loads(line) for line in f if line.strip()]
    for n, e in enumerate(log):
        k = e["k"]
        if k == "commit":
            batch = truth["batches"][e["batch"]]
            model.apply(batch["a_changes"], batch["b_changes"])
            at_commit.append(model.agg_rows())
            continue
        if not e["ok"]:
            continue  # already counted as a failed operation
        op, got = e["op"], [tuple(r) for r in e["rows"]]
        if e["commits"] != len(at_commit) - 1:
            bad.append(f"log entry {n}: read after commit {e['commits']}, "
                       f"model is at {len(at_commit) - 1}")
            continue
        if k == "pt":
            want = [r for r in at_commit[-1] if r[0] == op["key"]]
            ok = sorted(got) == want
        elif k == "rng":
            orders = Counter()
            for o, m in model.orders.items():
                if op["lo"] <= o[0] <= op["hi"]:
                    orders[o[0]] += m
            cnt = q = p = 0
            for line, m in model.lines.items():
                m *= orders.get(line[0], 0)
                cnt, q, p = cnt + m, q + m * line[3], p + m * line[4]
            want = [(cnt, q, p) if cnt else (None, None, None)]
            ok = got == want
        elif k == "asof":
            want = [r for r in at_commit[e["pin"]] if op["lo"] <= r[0] <= op["hi"]]
            ok = sorted(got) == want
        else:  # fetch: the subscription has delivered every committed change
            for r in got:
                _add(fetched, tuple(r[2:]), r[1])
            want = at_commit[-1]
            ok = (sorted(fetched) == want and all(m == 1 for m in fetched.values()))
        if not ok:
            bad.append(f"log entry {n}: {k} read differs from the model")
    return bad


def _canon(v):
    if isinstance(v, float) or (isinstance(v, int) and not isinstance(v, bool)):
        if isinstance(v, float) and math.isnan(v):
            return "NaN"
        return f"{float(v):.9e}"
    return "NULL" if v is None else str(v)


def _same(a, b):
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-9)
    return _canon(a) == _canon(b)


def check_adhoc(truth, inputs_dir, out_dir, tables):
    import duckdb
    engine = json.load(open(os.path.join(out_dir, "adhoc_results.json")))
    con = duckdb.connect()
    for t in tables:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{os.path.join(inputs_dir, t + '.parquet')}')")
    bad = []
    for q in truth["queries"]:
        name = q["name"]
        if name not in engine:
            bad.append(f"{name}: no engine result")
            continue
        want = con.sql(q["duckdb"]).fetchall()
        got = engine[name]["rows"]
        key = lambda r: [_canon(v) for v in r]
        want, got = sorted(want, key=key), sorted(got, key=key)
        if len(want) != len(got) or not all(
                len(w) == len(g) and all(_same(x, y) for x, y in zip(w, g))
                for w, g in zip(want, got)):
            bad.append(f"{name}: {len(got)} engine rows differ from {len(want)} oracle rows")
    return bad
