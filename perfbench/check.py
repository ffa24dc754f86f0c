"""Output checks, run outside the timed region.

Each `check_<workload>` compares what the program returned against an
independent reference and returns a list of mismatches; each mismatch
names the operation ids it makes wrong. References:

- ch_session: a DuckDB twin of every distinct SELECT over the same parquet
  files, and a Python model of the writes on each scratch table;
- lineage_catalog: the generator's ground truth;
- curation: DuckDB running the registry's oracle SQL over the same corpus.

Results are compared the way tools/check_oracles.py does it: columns
sorted by name, then row by row, value by value. Values must match in
type and value: 5 and 5.0, or True and 1, differ.
"""
import datetime
import decimal
import json
import math
import os
from concurrent.futures import ThreadPoolExecutor

import duckdb

_EPOCH = datetime.datetime(1970, 1, 1)


def canon(v):
    """A value as the JVM side encodes it (see graftbench.Json)."""
    if v is None or isinstance(v, (bool, int, str)):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v if math.isfinite(v) else ("Infinity" if v > 0 else "-Infinity")
    if isinstance(v, decimal.Decimal):
        return "dec:" + format(v.normalize(), "f")
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return "ts:%d" % ((v - _EPOCH) // datetime.timedelta(microseconds=1))
    if isinstance(v, datetime.date):
        return "date:" + v.isoformat()
    if isinstance(v, (list, tuple)):
        return [canon(x) for x in v]
    return str(v)


def normalize(columns, rows):
    """Columns sorted by name; rows keep their order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return ([columns[i] for i in order],
            [[canon(r[i]) for i in order] for r in rows])


def typed(v):
    """A canonical value tagged with its type, at every level."""
    if isinstance(v, list):
        return ("list", [typed(x) for x in v])
    return (type(v).__name__, v)


def compare(got, want, what):
    """None when equal, else a one-line reason."""
    gc, gr = normalize(got["columns"], got["rows"])
    wc, wr = normalize(want["columns"], want["rows"])
    if gc != wc:
        return f"{what}: columns {gc} vs {wc}"
    if len(gr) != len(wr):
        return f"{what}: {len(gr)} rows vs {len(wr)}"
    for i, (a, b) in enumerate(zip(gr, wr)):
        if typed(a) != typed(b):
            return f"{what}: row {i} {a} vs {b}"
    return None


def duck_result(con, sql):
    cur = con.execute(sql)
    return {"columns": [d[0] for d in cur.description],
            "rows": [list(r) for r in cur.fetchall()]}


def duck_over(directory, tables):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in tables:
        p = os.path.join(directory, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


# ------------------------------------------------------------ ch_session

PART_COLS = ["k", "price", "flag"]
REPL_COLS = ["k", "v", "price"]


def _cents(x):
    return decimal.Decimal(repr(x)).quantize(decimal.Decimal("0.01"),
                                             rounding=decimal.ROUND_HALF_UP)


class WriteModel:
    """Scratch tables as lists of row dicts, with each write verb applied
    the way the CH statement defines it."""

    def __init__(self, con):
        self.con = con
        self.tables = {}

    def apply(self, op):
        t, verb = op["table"], op["verb"]
        if verb == "drop":
            self.tables.pop(t, None)
        elif verb == "create":
            self.tables[t] = []
        elif verb == "insert_select":
            cur = self.con.execute(op["duck"])
            cols = [d[0] for d in cur.description]
            self.tables[t] += [dict(zip(cols, r)) for r in cur.fetchall()]
        elif verb == "insert_values":
            self.tables[t] += [dict(r) for r in op["rows"]]
        elif verb == "alter_update":
            for r in self.tables[t]:
                if r["k"] % op["mod"] == 0:
                    r["price"] = r["price"] * 2
        elif verb == "alter_delete":
            self.tables[t] = [r for r in self.tables[t]
                              if not r["price"] > op["price_gt"]]
        elif verb == "update_in_partition":
            for r in self.tables[t]:
                if r["flag"] == op["partition"] and r["k"] % op["mod"] == 0:
                    r["price"] = r["price"] + 1
        elif verb == "delete_in_partition":
            self.tables[t] = [r for r in self.tables[t]
                              if not (r["flag"] == op["partition"]
                                      and r["k"] % op["mod"] == 0)]
        elif verb == "optimize_final":
            best = {}
            for r in self.tables[t]:
                if r["k"] not in best or r["v"] > best[r["k"]]["v"]:
                    best[r["k"]] = r
            self.tables[t] = list(best.values())
        else:
            raise ValueError(f"unknown write verb {verb}")

    def readback(self, t):
        rows = self.tables[t]

        def total(rs):
            return float(sum(_cents(r["price"]) for r in rs)) if rs else None

        if t == "scratch_part":
            out = []
            for f in sorted({r["flag"] for r in rows}):
                g = [r for r in rows if r["flag"] == f]
                out.append([f, len(g), total(g), min(r["k"] for r in g),
                            max(r["k"] for r in g)])
            return {"columns": ["flag", "n", "total", "kmin", "kmax"],
                    "rows": out}
        return {"columns": ["n", "total", "vmax", "kmin"],
                "rows": [[len(rows), total(rows),
                          max((r["v"] for r in rows), default=None),
                          min((r["k"] for r in rows), default=None)]]}

    def final(self, t):
        cols = PART_COLS if t == "scratch_part" else REPL_COLS
        rows = sorted([r[c] for c in cols] for r in self.tables[t])
        return {"columns": cols, "rows": rows}


def load_statements(input_dir):
    with open(os.path.join(input_dir, "statements.jsonl")) as f:
        return [json.loads(line) for line in f if line.strip()]


def check_ch_session(input_dir, result):
    stmts = load_statements(input_dir)
    executed = result["executed"]
    failed_run = {f["op"] for f in result["failures"]}
    con = duck_over(input_dir, ["region", "nation", "customer", "orders",
                                "lineitem"])
    bad = []
    # distinct SELECTs against their DuckDB twins
    by_text = {}
    for i in executed:
        if stmts[i]["kind"] == "select":
            by_text.setdefault(stmts[i]["sql"], []).append(i)
    for key, got in result["selects"].items():
        s = stmts[int(key)]
        ids = by_text.get(s["sql"], [int(key)])
        why = compare(got, duck_result(con, s["duck"]), f"select {key}")
        if why:
            bad.append({"ops": ids, "check": "select_twin", "tpl": s["tpl"],
                        "reason": why[:300]})
    # writes replayed on the model; read-backs and final states compared
    model = WriteModel(con)
    tainted = set()
    last_write = {}
    for i in executed:
        s = stmts[i]
        if s["kind"] == "write":
            t = s["op"]["table"]
            if s["op"]["verb"] in ("drop", "create"):
                tainted.discard(t)
            model.apply(s["op"])
            last_write[t] = i
            if i in failed_run:
                tainted.add(t)
        elif s["kind"] == "readback" and s["table"] not in tainted:
            got = result["readbacks"].get(str(i))
            if got is None:
                continue  # the read-back itself failed: counted already
            why = compare(got, model.readback(s["table"]), f"readback {i}")
            if why:
                bad.append({"ops": [i], "check": "write_model",
                            "tpl": s["tpl"], "reason": why[:300]})
    finals = result["final_tables"]
    for t in sorted(set(model.tables) | set(finals)):
        if t in tainted:
            continue
        if t not in finals or t not in model.tables:
            bad.append({"ops": [last_write.get(t, -1)], "check": "final_table",
                        "tpl": t, "reason": f"{t} exists on one side only"})
            continue
        why = compare(finals[t], model.final(t), f"final {t}")
        if why:
            bad.append({"ops": [last_write.get(t, -1)],
                        "check": "final_table", "tpl": t,
                        "reason": why[:300]})
    con.close()
    return bad


# ------------------------------------------------------- lineage_catalog


def check_lineage(input_dir, result, op_ids):
    with open(os.path.join(input_dir, "truth.json")) as f:
        truth = json.load(f)
    got = result["lineage"]
    bad = []

    def fail(check, reason):
        bad.append({"ops": op_ids, "check": check, "tpl": "analysis",
                    "reason": reason[:300]})

    if not got:
        fail("lineage", "no analysis completed")
        return bad
    want_deps = [[v, truth["view_deps"][v]] for v in sorted(truth["view_deps"])]
    if got["view_deps"] != want_deps:
        diff = [x for x, y in zip(got["view_deps"], want_deps) if x != y][:1]
        fail("edges", f"{len(got['view_deps'])} views vs {len(want_deps)}; "
                      f"first difference {diff}")
    err_views = sorted(r[0] for r in got["errors"])
    if err_views != truth["errors"]:
        fail("errors", f"{len(err_views)} error rows vs "
                       f"{len(truth['errors'])} planted")
    if got["isolated"] != truth["isolated"]:
        fail("isolated", f"{len(got['isolated'])} isolated vs "
                         f"{len(truth['isolated'])}")
    lines = [ln for ln in got["mermaid"].split("\n") if " -.-> " in ln]
    if lines != truth["mermaid_edges"]:
        fail("mermaid_edges", f"{len(lines)} edge lines vs "
                              f"{len(truth['mermaid_edges'])}")
    if got["full_mermaid_edges"] != len(truth["mermaid_edges"]):
        fail("mermaid_render", f"{got['full_mermaid_edges']} edge lines vs "
                               f"{len(truth['mermaid_edges'])}")
    if got["closure_pairs"] != truth["closure_pairs"]:
        fail("closure", f"{got['closure_pairs']} pairs vs "
                        f"{truth['closure_pairs']}")
    levels = {r[0]: r[1] for r in got["levels"]}
    if levels != truth["levels"]:
        fail("levels", f"{sum(1 for k in truth['levels'] if levels.get(k) != truth['levels'][k])} "
                       f"nodes with a wrong level")
    tables = set(truth["tables"])
    wrong = [r for r in got["classes"]
             if (r[1] == "chTable") != (r[0] in tables)]
    if wrong or len(got["classes"]) != len(truth["levels"]):
        fail("classify", f"{len(wrong)} misclassified, "
                         f"{len(got['classes'])} nodes vs {len(truth['levels'])}")
    exact_bad = [r for r in got["exact"]
                 if (r[3] is None) != (r[0] not in truth["errors"])
                 or (r[3] is None and r[1] != truth["view_deps"][r[0]])]
    if exact_bad:
        fail("exact_tier", f"{len(exact_bad)} views, e.g. {exact_bad[0]}")
    return bad


# ------------------------------------------------------------- curation


def check_curation(input_dir, result, op_ids):
    con = duck_over(input_dir, ["documents"])
    names = sorted(result["pipelines"])
    # the oracles are independent queries: run them side by side
    with ThreadPoolExecutor(len(names)) as pool:
        wants = list(pool.map(
            lambda n: duck_result(con.cursor(), result["oracles"][n]), names))
    bad = []
    for name, want in zip(names, wants):
        why = compare(result["pipelines"][name], want, name)
        if why:
            bad.append({"ops": op_ids, "check": "oracle", "tpl": name,
                        "reason": why[:300]})
    con.close()
    return bad


def run_checks(workload, input_dir, result, op_ids):
    if workload == "ch_session":
        return check_ch_session(input_dir, result)
    if workload == "lineage_catalog":
        return check_lineage(input_dir, result, op_ids)
    return check_curation(input_dir, result, op_ids)
