"""CH-SQL statement templates for the `ch_session` workload.

Every SELECT template has a DuckDB twin over the same parquet files; every
write is described twice: as CH-SQL text for the program and as a
structured op the write model in `check.py` applies. Each template
orders its output totally, so rows compare in order. Literals are drawn
from narrow ranges, so a template costs about the same under every seed.
"""
import datetime

DEC = "CAST(sum(CAST({c} AS Decimal(18, 2))) AS Float64)"
DDEC = "CAST(sum(CAST({c} AS DECIMAL(18,2))) AS DOUBLE)"


def _date(rng):
    d = datetime.date(1992, 1, 1) + datetime.timedelta(
        days=int(rng.integers(1200, 1500)))
    return d.isoformat()


def _t_agg(rng):
    d = _date(rng)
    ch = (f"SELECT l_returnflag, l_linestatus, {DEC.format(c='l_quantity')} "
          f"AS sum_qty, count() AS n FROM lineitem "
          f"WHERE l_shipdate <= toDateTime('{d}') "
          f"GROUP BY l_returnflag, l_linestatus "
          f"ORDER BY l_returnflag, l_linestatus")
    duck = (f"SELECT l_returnflag, l_linestatus, {DDEC.format(c='l_quantity')}"
            f" AS sum_qty, count(*) AS n FROM lineitem "
            f"WHERE l_shipdate <= TIMESTAMP '{d} 00:00:00' "
            f"GROUP BY l_returnflag, l_linestatus "
            f"ORDER BY l_returnflag, l_linestatus")
    return ch, duck


def _t_prewhere_limit_by(rng):
    p = int(rng.integers(200000, 230000))
    k = int(rng.integers(1, 4))
    n = int(rng.integers(90, 110))
    ch = (f"SELECT o_custkey, o_orderkey, o_totalprice FROM orders "
          f"PREWHERE o_totalprice > {p} "
          f"ORDER BY o_custkey, o_totalprice DESC, o_orderkey "
          f"LIMIT {k} BY o_custkey LIMIT {n}")
    duck = (f"WITH r AS (SELECT o_custkey, o_orderkey, o_totalprice, "
            f"row_number() OVER (PARTITION BY o_custkey ORDER BY "
            f"o_totalprice DESC, o_orderkey) AS rn FROM orders "
            f"WHERE o_totalprice > {p}) "
            f"SELECT o_custkey, o_orderkey, o_totalprice FROM r "
            f"WHERE rn <= {k} ORDER BY o_custkey, o_totalprice DESC, "
            f"o_orderkey LIMIT {n}")
    return ch, duck


def _t_join_having(rng):
    b = int(rng.integers(2000, 4000))
    h = int(rng.integers(5, 60))
    ch = (f"SELECT n_name, count() AS cnt, {DEC.format(c='c_acctbal')} "
          f"AS total_bal FROM customer INNER JOIN nation "
          f"ON c_nationkey = n_nationkey WHERE c_acctbal > {b} "
          f"GROUP BY n_name HAVING count() > {h} ORDER BY n_name")
    duck = (f"SELECT n_name, count(*) AS cnt, {DDEC.format(c='c_acctbal')} "
            f"AS total_bal FROM customer JOIN nation "
            f"ON c_nationkey = n_nationkey WHERE c_acctbal > {b} "
            f"GROUP BY n_name HAVING count(*) > {h} ORDER BY n_name")
    return ch, duck


def _t_array_join(rng):
    k = int(rng.integers(14000, 16000))
    ch = (f"SELECT part, count() AS n FROM (SELECT "
          f"splitByChar('-', o_orderpriority) AS parts FROM orders "
          f"WHERE o_orderkey < {k}) ARRAY JOIN parts AS part "
          f"GROUP BY part ORDER BY n DESC, part")
    duck = (f"WITH t AS (SELECT unnest(string_split(o_orderpriority, '-')) "
            f"AS part FROM orders WHERE o_orderkey < {k}) "
            f"SELECT part, count(*) AS n FROM t GROUP BY part "
            f"ORDER BY n DESC, part")
    return ch, duck


def _t_with_fill(rng):
    m = int(rng.integers(90, 110))
    ch = (f"SELECT o_custkey AS k, count() AS n FROM orders "
          f"WHERE o_custkey % {m} = 0 GROUP BY k "
          f"ORDER BY k WITH FILL STEP {m}")
    duck = (f"WITH g AS (SELECT o_custkey AS k, count(*) AS n FROM orders "
            f"WHERE o_custkey % {m} = 0 GROUP BY 1), "
            f"b AS (SELECT min(k) AS lo, max(k) AS hi FROM g), "
            f"axis AS (SELECT unnest(generate_series(lo, hi, {m})) AS k "
            f"FROM b) SELECT axis.k AS k, g.n AS n FROM axis "
            f"LEFT JOIN g ON axis.k = g.k ORDER BY k")
    return ch, duck


def _t_asof(rng):
    k = int(rng.integers(1400, 1600))
    p = int(rng.integers(140000, 160000))
    ch = (f"SELECT o_orderkey, prev_key FROM "
          f"(SELECT o_orderkey, o_custkey, o_orderdate FROM orders "
          f"WHERE o_orderkey < {k}) AS l "
          f"ASOF LEFT JOIN (SELECT o_custkey AS ck, o_orderdate AS d, "
          f"max(o_orderkey) AS prev_key FROM orders "
          f"WHERE o_totalprice > {p} GROUP BY ck, d) AS r "
          f"ON o_custkey = ck AND o_orderdate >= d ORDER BY o_orderkey")
    duck = (f"WITH l AS (SELECT o_orderkey, o_custkey, o_orderdate "
            f"FROM orders WHERE o_orderkey < {k}), "
            f"r AS (SELECT o_custkey AS ck, o_orderdate AS d, "
            f"max(o_orderkey) AS prev_key FROM orders "
            f"WHERE o_totalprice > {p} GROUP BY 1, 2) "
            f"SELECT o_orderkey, prev_key FROM l ASOF LEFT JOIN r "
            f"ON l.o_custkey = r.ck AND r.d <= l.o_orderdate "
            f"ORDER BY o_orderkey")
    return ch, duck


def _t_window(rng):
    c = int(rng.integers(140, 160))
    ch = (f"SELECT o_custkey, o_orderkey, row_number() OVER (PARTITION BY "
          f"o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn, "
          f"CAST(sum(CAST(o_totalprice AS Decimal(18, 2))) OVER (PARTITION "
          f"BY o_custkey ORDER BY o_orderkey ROWS BETWEEN UNBOUNDED "
          f"PRECEDING AND CURRENT ROW) AS Float64) AS running, "
          f"lag(o_orderkey, 1) OVER (PARTITION BY o_custkey ORDER BY "
          f"o_orderkey) AS prev FROM orders WHERE o_custkey < {c} "
          f"ORDER BY o_custkey, o_orderkey")
    duck = (f"SELECT o_custkey, o_orderkey, row_number() OVER (PARTITION BY "
            f"o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn, "
            f"CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (PARTITION "
            f"BY o_custkey ORDER BY o_orderkey ROWS BETWEEN UNBOUNDED "
            f"PRECEDING AND CURRENT ROW) AS DOUBLE) AS running, "
            f"lag(o_orderkey, 1) OVER (PARTITION BY o_custkey ORDER BY "
            f"o_orderkey) AS prev FROM orders WHERE o_custkey < {c} "
            f"ORDER BY o_custkey, o_orderkey")
    return ch, duck


def _t_rollup(rng):
    q = int(rng.integers(20, 30))
    ch = (f"SELECT l_returnflag, l_linestatus, "
          f"{DEC.format(c='l_quantity')} AS sum_qty, count() AS n "
          f"FROM lineitem WHERE l_quantity > {q} "
          f"GROUP BY ROLLUP(l_returnflag, l_linestatus) "
          f"ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST")
    duck = (f"SELECT l_returnflag, l_linestatus, "
            f"{DDEC.format(c='l_quantity')} AS sum_qty, count(*) AS n "
            f"FROM lineitem WHERE l_quantity > {q} "
            f"GROUP BY ROLLUP (l_returnflag, l_linestatus) "
            f"ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST")
    return ch, duck


def _t_cube(rng):
    p = int(rng.integers(100000, 120000))
    ch = (f"SELECT o_orderstatus, o_orderpriority, count() AS n, "
          f"{DEC.format(c='o_totalprice')} AS total FROM orders "
          f"WHERE o_totalprice > {p} "
          f"GROUP BY o_orderstatus, o_orderpriority WITH CUBE "
          f"ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST")
    duck = (f"SELECT o_orderstatus, o_orderpriority, count(*) AS n, "
            f"{DDEC.format(c='o_totalprice')} AS total FROM orders "
            f"WHERE o_totalprice > {p} "
            f"GROUP BY CUBE (o_orderstatus, o_orderpriority) "
            f"ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST")
    return ch, duck


def _t_if_combinators(rng):
    p = int(rng.integers(250000, 270000))
    ch = (f"SELECT o_orderstatus AS st, countIf(o_totalprice > {p}) AS c_hi, "
          f"CAST(sumIf(CAST(o_totalprice AS Decimal(18, 2)), "
          f"o_totalprice > {p}) AS Float64) AS s_hi, "
          f"uniqExactIf(o_custkey, o_totalprice > {p}) AS u_hi "
          f"FROM orders GROUP BY st ORDER BY st")
    duck = (f"SELECT o_orderstatus AS st, "
            f"count(*) FILTER (WHERE o_totalprice > {p}) AS c_hi, "
            f"CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) "
            f"FILTER (WHERE o_totalprice > {p}) AS DOUBLE) AS s_hi, "
            f"count(DISTINCT o_custkey) FILTER (WHERE o_totalprice > {p}) "
            f"AS u_hi FROM orders GROUP BY st ORDER BY st")
    return ch, duck


def _t_state_merge(rng):
    d = _date(rng)
    ch = (f"SELECT flag, CAST(sumMerge(ss) AS Float64) AS total, "
          f"countMerge(cs) AS n FROM (SELECT o_orderstatus AS flag, "
          f"o_orderpriority AS pri, "
          f"sumState(CAST(o_totalprice AS Decimal(18, 2))) AS ss, "
          f"countState() AS cs FROM orders "
          f"WHERE o_orderdate >= toDateTime('{d}') GROUP BY flag, pri) "
          f"GROUP BY flag ORDER BY flag")
    duck = (f"SELECT o_orderstatus AS flag, {DDEC.format(c='o_totalprice')} "
            f"AS total, count(*) AS n FROM orders "
            f"WHERE o_orderdate >= TIMESTAMP '{d} 00:00:00' "
            f"GROUP BY flag ORDER BY flag")
    return ch, duck


SELECTS = {
    "agg_filter": _t_agg,
    "prewhere_limit_by": _t_prewhere_limit_by,
    "join_having": _t_join_having,
    "array_join": _t_array_join,
    "with_fill": _t_with_fill,
    "asof_join": _t_asof,
    "window": _t_window,
    "rollup": _t_rollup,
    "cube": _t_cube,
    "if_combinators": _t_if_combinators,
    "state_merge": _t_state_merge,
}

SELECTS_PER_WRITE = 3

# -------------------------------------------------------------- writes

PART = "scratch_part"
REPL = "scratch_repl"


def readback(table):
    if table == PART:
        return (f"SELECT flag, count() AS n, {DEC.format(c='price')} AS total,"
                f" min(k) AS kmin, max(k) AS kmax FROM {PART} "
                f"GROUP BY flag ORDER BY flag")
    return (f"SELECT count() AS n, {DEC.format(c='price')} AS total, "
            f"max(v) AS vmax, min(k) AS kmin FROM {REPL}")


def _episode_part(rng):
    a = int(rng.integers(1, N_KEYS - 400))
    b = a + int(rng.integers(100, 400))
    m1, m2, m3 = (int(rng.integers(2, 9)) for _ in range(3))
    p = int(rng.integers(200000, 500000))
    vals = [(-int(rng.integers(1, 10**6)), round(float(rng.uniform(1, 999)), 2),
             f) for f in ("X", "F", "O")]
    vtxt = ", ".join(f"({k}, {v!r}, '{f}')" for k, v, f in vals)
    return [
        (f"DROP TABLE IF EXISTS {PART}", {"verb": "drop", "table": PART}),
        (f"CREATE TABLE {PART} (k Int64, price Float64, flag String) "
         f"ENGINE = MergeTree ORDER BY k PARTITION BY flag",
         {"verb": "create", "table": PART}),
        (f"INSERT INTO {PART} SELECT o_orderkey, o_totalprice, o_orderstatus "
         f"FROM orders WHERE o_orderkey BETWEEN {a} AND {b}",
         {"verb": "insert_select", "table": PART,
          "duck": f"SELECT o_orderkey AS k, o_totalprice AS price, "
                  f"o_orderstatus AS flag FROM orders "
                  f"WHERE o_orderkey BETWEEN {a} AND {b}"}),
        (f"INSERT INTO {PART} VALUES {vtxt}",
         {"verb": "insert_values", "table": PART,
          "rows": [{"k": k, "price": v, "flag": f} for k, v, f in vals]}),
        (f"ALTER TABLE {PART} UPDATE price = price * 2 WHERE k % {m1} = 0",
         {"verb": "alter_update", "table": PART, "mod": m1}),
        (f"ALTER TABLE {PART} DELETE WHERE price > {p}",
         {"verb": "alter_delete", "table": PART, "price_gt": p}),
        (f"UPDATE {PART} SET price = price + 1 IN PARTITION 'F' "
         f"WHERE k % {m2} = 0",
         {"verb": "update_in_partition", "table": PART, "partition": "F",
          "mod": m2}),
        (f"DELETE FROM {PART} IN PARTITION 'O' WHERE k % {m3} = 0",
         {"verb": "delete_in_partition", "table": PART, "partition": "O",
          "mod": m3}),
    ]


def _episode_repl(rng):
    a = int(rng.integers(1, N_KEYS - 400))
    b = a + int(rng.integers(100, 400))
    c = a + (b - a) // 2
    k3 = a + int(rng.integers(0, b - a))
    v3 = round(float(rng.uniform(1, 999)), 2)
    sel1 = (f"o_orderkey, 1, o_totalprice FROM orders "
            f"WHERE o_orderkey BETWEEN {a} AND {b}")
    sel2 = (f"o_orderkey, 2, o_totalprice * 2 FROM orders "
            f"WHERE o_orderkey BETWEEN {a} AND {c}")
    return [
        (f"DROP TABLE IF EXISTS {REPL}", {"verb": "drop", "table": REPL}),
        (f"CREATE TABLE {REPL} (k Int64, v Int64, price Float64) "
         f"ENGINE = ReplacingMergeTree(v) ORDER BY k",
         {"verb": "create", "table": REPL}),
        (f"INSERT INTO {REPL} SELECT {sel1}",
         {"verb": "insert_select", "table": REPL,
          "duck": f"SELECT o_orderkey AS k, CAST(1 AS BIGINT) AS v, "
                  f"o_totalprice AS price FROM orders "
                  f"WHERE o_orderkey BETWEEN {a} AND {b}"}),
        (f"INSERT INTO {REPL} SELECT {sel2}",
         {"verb": "insert_select", "table": REPL,
          "duck": f"SELECT o_orderkey AS k, CAST(2 AS BIGINT) AS v, "
                  f"o_totalprice * 2 AS price FROM orders "
                  f"WHERE o_orderkey BETWEEN {a} AND {c}"}),
        (f"INSERT INTO {REPL} VALUES ({k3}, 3, {v3!r})",
         {"verb": "insert_values", "table": REPL,
          "rows": [{"k": k3, "v": 3, "price": v3}]}),
        (f"OPTIMIZE TABLE {REPL} FINAL",
         {"verb": "optimize_final", "table": REPL}),
    ]


N_KEYS = 30000


def _write_ops(rng):
    """An endless sequence of write episodes, alternating table kinds."""
    i = 0
    while True:
        ep = _episode_part(rng) if i % 2 == 0 else _episode_repl(rng)
        for w in ep:
            yield w
        i += 1


def session_stream(rng, n):
    """The statement stream. SELECTs go round the templates in a fixed
    order, so every seed runs the same mix; each odd round repeats the
    previous round's statements verbatim, so half the SELECTs are exact
    repeats. After every SELECTS_PER_WRITE SELECTs comes one write
    on a scratch table, then a read-back SELECT of that table.
    `tables_after` lists the scratch tables that must exist after the
    statement."""
    names = sorted(SELECTS)
    writes = _write_ops(rng)
    live = set()
    out = []
    since_write = 0
    rnd = 0
    batch = []
    while len(out) < n:
        repeat = rnd % 2 == 1
        if not repeat:
            batch = [(t,) + SELECTS[t](rng) for t in names]
        for tpl, ch, duck in batch:
            out.append({"kind": "select", "tpl": tpl, "sql": ch,
                        "duck": duck, "repeat": repeat,
                        "tables_after": sorted(live)})
            since_write += 1
            if since_write < SELECTS_PER_WRITE:
                continue
            sql, op = next(writes)
            if op["verb"] == "drop":
                live.discard(op["table"])
            elif op["verb"] == "create":
                live.add(op["table"])
            out.append({"kind": "write", "tpl": op["verb"], "sql": sql,
                        "op": op, "tables_after": sorted(live)})
            if op["table"] in live:
                out.append({"kind": "readback", "tpl": "readback",
                            "sql": readback(op["table"]),
                            "table": op["table"],
                            "tables_after": sorted(live)})
            since_write = 0
        rnd += 1
    out = out[:n]
    for i, s in enumerate(out):
        s["i"] = i
    return out


WARMUP = ("agg_filter", "asof_join", "cube", "window")


def warmup_statements(rng):
    """A few SELECTs (other literals than the timed stream) for set-up
    warm-up; no writes."""
    return [{"kind": "select", "tpl": t, "sql": SELECTS[t](rng)[0], "i": i}
            for i, t in enumerate(WARMUP)]
