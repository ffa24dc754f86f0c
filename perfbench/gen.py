"""Seeded input generators for the three benchmark workloads.

Each `make_<workload>(seed, out_dir)` writes the files the program under
test reads, plus `truth.json` (what the checks compare against), and
returns the measured properties of what it wrote. Sizes and planted shares
are fixed; the seed only moves names, literals and values, so two seeds
give inputs of the same shape. The same seed writes byte-identical files.
"""
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import templates

# ---------------------------------------------------------------- helpers


def _write_parquet(table, path, row_group_size=None):
    pq.write_table(table, path, compression="snappy",
                   row_group_size=row_group_size)


def digest(paths):
    """SHA-256 over the named files, in the given order (name + bytes)."""
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.basename(p).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _layout(path):
    md = pq.read_metadata(path)
    return {"rows": md.num_rows, "files": 1, "row_groups": md.num_row_groups}


# ------------------------------------------------------------ ch_session

N_CUSTOMERS = 3000
N_ORDERS = 30000
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
EPOCH_1992_US = 694224000 * 1_000_000  # 1992-01-01T00:00:00Z in µs
DAY_US = 86400 * 1_000_000


def _tpch_tables(rng):
    """A small TPC-H-shaped star (region, nation, customer, orders,
    lineitem) with the column names and types of the repo's testdata."""
    region = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i:02d}" for i in range(25)],
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})
    ck = np.arange(1, N_CUSTOMERS + 1, dtype=np.int64)
    customer = pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMERS)
                                .astype(np.int32)),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_CUSTOMERS), 2),
        "c_mktsegment": [SEGMENTS[i] for i in
                         rng.integers(0, 5, N_CUSTOMERS)]})
    ok = np.arange(1, N_ORDERS + 1, dtype=np.int64)
    odays = rng.integers(0, 2405, N_ORDERS)
    status = rng.choice(np.array(["O", "F", "P"]), N_ORDERS,
                        p=[0.49, 0.49, 0.02])
    orders = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(1, N_CUSTOMERS + 1, N_ORDERS)
        .astype(np.int64),
        "o_orderstatus": status.tolist(),
        "o_totalprice": np.round(rng.gamma(2.0, 75000.0, N_ORDERS) + 900, 2),
        "o_orderdate": pa.array(EPOCH_1992_US + odays * DAY_US,
                                type=pa.timestamp("us")),
        "o_orderpriority": [PRIORITIES[i] for i in
                            rng.integers(0, 5, N_ORDERS)]})
    nlines = rng.integers(1, 8, N_ORDERS)
    lk = np.repeat(ok, nlines)
    n = len(lk)
    lnum = np.concatenate([np.arange(1, c + 1) for c in nlines])
    qty = rng.integers(1, 51, n).astype(np.float64)
    ship = np.repeat(odays, nlines) + rng.integers(1, 122, n)
    lineitem = pa.table({
        "l_orderkey": lk,
        "l_partkey": rng.integers(1, 20001, n).astype(np.int64),
        "l_suppkey": rng.integers(1, 1001, n).astype(np.int64),
        "l_linenumber": pa.array(lnum.astype(np.int32)),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2000, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(np.array(["R", "A", "N"]), n).tolist(),
        "l_linestatus": np.where(ship > 1290, "O", "F").tolist(),
        "l_shipdate": pa.array(EPOCH_1992_US + ship * DAY_US,
                               type=pa.timestamp("us"))})
    return {"region": region, "nation": nation, "customer": customer,
            "orders": orders, "lineitem": lineitem}


def make_ch_session(seed, out_dir, n_statements=4000):
    rng = np.random.default_rng([seed, 1])
    tables = _tpch_tables(rng)
    paths = []
    for name, t in tables.items():
        p = os.path.join(out_dir, f"{name}.parquet")
        # lineitem is split into row groups so scans run as several tasks
        _write_parquet(t, p, 32768 if name == "lineitem" else None)
        paths.append(p)
    stream = templates.session_stream(rng, n_statements)
    sp = os.path.join(out_dir, "statements.jsonl")
    with open(sp, "w") as f:
        for s in stream:
            f.write(json.dumps(s, sort_keys=True) + "\n")
    paths.append(sp)
    # a short stream over other literals for set-up warm-up
    warm = templates.warmup_statements(np.random.default_rng([seed, 2]))
    with open(os.path.join(out_dir, "warmup.jsonl"), "w") as f:
        for s in warm:
            f.write(json.dumps(s, sort_keys=True) + "\n")
    paths.append(os.path.join(out_dir, "warmup.jsonl"))
    kinds = {}
    for s in stream:
        kinds[s["kind"]] = kinds.get(s["kind"], 0) + 1
    selects = [s for s in stream if s["kind"] == "select"]
    tpl = {}
    for s in selects:
        tpl[s["tpl"]] = tpl.get(s["tpl"], 0) + 1
    writes = {}
    for s in stream:
        if s["kind"] == "write":
            writes[s["op"]["verb"]] = writes.get(s["op"]["verb"], 0) + 1
    props = {
        "statements": len(stream),
        "mix": {k: round(v / len(stream), 4) for k, v in sorted(kinds.items())},
        "select_templates": dict(sorted(tpl.items())),
        "write_verbs": dict(sorted(writes.items())),
        "select_repeat_share": round(
            sum(1 for s in selects if s["repeat"]) / len(selects), 4),
        "layout": {n: _layout(os.path.join(out_dir, f"{n}.parquet"))
                   for n in tables},
        "partitions": "scratch_part is PARTITION BY flag; "
                      "scratch_repl is unpartitioned",
    }
    return paths, props


# ------------------------------------------------------- lineage_catalog

N_TABLES = 17000
N_VIEWS = 3000
N_DATABASES = 12
MAX_LEVEL = 5
BROKEN_SHARE = 0.03
ISOLATED_SHARE = 0.02


def _quote(db, name, style):
    if style == 0:
        return f"{db}.{name}"
    if style == 1:
        return f"`{db}`.`{name}`"
    return name  # unqualified: resolves to the view's own database


def _view_ddl(rng, db, name, deps, kind, mv_target):
    """DDL for a view whose real table references are exactly `deps`
    (fully qualified). References to objects in the view's own database
    are sometimes written unqualified; CTE names, table functions and
    ARRAY JOIN columns never count as references."""
    def ref(fq):
        d, n = fq.split(".", 1)
        style = int(rng.integers(0, 3))
        if style == 2 and d != db:
            style = 0
        if "-" in n:  # names with a dash must be quoted
            style = 1
        return _quote(d, n, style)

    head = (f"CREATE MATERIALIZED VIEW {db}.{name} TO {mv_target} AS "
            if kind == "MaterializedView" else f"CREATE VIEW {db}.{name} AS ")
    if not deps:
        body = ("SELECT number AS id, number * 2 AS twice "
                f"FROM numbers({int(rng.integers(5, 50))})")
        return head + body
    shape = int(rng.integers(0, 5))
    first = ref(deps[0])
    rest = deps[1:]
    joins = "".join(
        f" {['JOIN', 'LEFT JOIN', 'INNER JOIN'][int(rng.integers(0, 3))]}"
        f" {ref(d)} AS j{i} ON j{i}.id = t0.id" for i, d in enumerate(rest))
    lit = int(rng.integers(1, 1000))
    if shape == 0:  # plain joins
        body = (f"SELECT t0.id, count() AS n FROM {first} AS t0{joins} "
                f"WHERE t0.id > {lit} GROUP BY t0.id")
    elif shape == 1:  # CTE over the first dependency
        body = (f"WITH cte_{name} AS (SELECT id, val FROM {first} "
                f"WHERE val > {lit}) SELECT t0.id, t0.val FROM cte_{name} "
                f"AS t0{joins}")
    elif shape == 2:  # subquery in FROM and IN-subquery
        if rest:
            body = (f"SELECT s.id FROM (SELECT id FROM {first} WHERE "
                    f"id % 7 = {lit % 7}) AS s WHERE s.id IN (SELECT id FROM "
                    + " UNION ALL SELECT id FROM ".join(ref(d) for d in rest)
                    + ")")
        else:
            body = (f"SELECT s.id FROM (SELECT id FROM {first} WHERE "
                    f"id % 7 = {lit % 7}) AS s")
    elif shape == 3:  # ARRAY JOIN and a table function beside real tables
        body = (f"SELECT t0.id, tag FROM {first} AS t0{joins} "
                f"ARRAY JOIN t0.tags AS tag WHERE tag != 'x{lit}'")
    else:  # table function joined with real tables
        body = (f"SELECT t0.id, nn.number FROM {first} AS t0{joins} "
                f"CROSS JOIN numbers({lit % 9 + 1}) AS nn")
    return head + body


def _catalog(rng, n_tables, n_views, snap):
    """Writes a catalog snapshot of `n_tables` tables and `n_views` views
    (plus three system objects) to `snap`; returns the objects, each
    view's dependencies, the views whose DDL does not parse and every
    object's level."""
    dbs = [f"db_{i:02d}" for i in range(N_DATABASES)]
    objs = []  # (database, name, engine, ddl)
    level = {}  # fq -> level
    by_level = {0: []}
    engines = ["MergeTree", "ReplacingMergeTree", "SummingMergeTree",
               "AggregatingMergeTree", "Log"]
    for i in range(n_tables):
        db = dbs[int(rng.integers(0, N_DATABASES))]
        name = f"t{i:05d}_{int(rng.integers(0, 1 << 20)):05x}"
        if i % 50 == 0:
            name += "-raw"  # needs quoting in DDL
        eng = engines[int(rng.integers(0, len(engines)))]
        ddl = (f"CREATE TABLE {db}.`{name}` (id UInt64, val Int64, "
               f"tags Array(String)) ENGINE = {eng} ORDER BY id")
        objs.append((db, name, eng, ddl))
        fq = f"{db}.{name}"
        level[fq] = 0
        by_level[0].append(fq)
    n_broken = int(round(n_views * BROKEN_SHARE))
    n_isolated = int(round(n_views * ISOLATED_SHARE))
    special = rng.permutation(n_views)
    broken = set(special[:n_broken].tolist())
    isolated = set(special[n_broken:n_broken + n_isolated].tolist())
    view_deps = {}
    errors = []
    per_level = n_views // MAX_LEVEL
    for i in range(n_views):
        lv = min(MAX_LEVEL, i // per_level + 1)
        db = dbs[int(rng.integers(0, N_DATABASES))]
        name = f"v{i:05d}_{int(rng.integers(0, 1 << 20)):05x}"
        fq = f"{db}.{name}"
        kind = "MaterializedView" if i % 10 == 0 else "View"
        target = by_level[0][int(rng.integers(0, len(by_level[0])))]
        if i in broken:
            ddl = (f"CREATE VIEW {db}.{name} AS SELECT id, 'unterminated "
                   f"FROM {target}")
            objs.append((db, name, "View", ddl))
            errors.append(fq)
            continue
        if i in isolated:
            deps = []
        else:
            # one dependency one level down, the rest mostly base tables
            k = 1 + int(rng.choice(3, p=[0.5, 0.35, 0.15]))
            prev = by_level[lv - 1]
            pick = {prev[int(rng.integers(0, len(prev)))]}
            while len(pick) < k:
                lvl = 0 if rng.random() < 0.7 else int(rng.integers(0, lv))
                pool = by_level[lvl]
                pick.add(pool[int(rng.integers(0, len(pool)))])
            deps = sorted(pick)
        ddl = _view_ddl(rng, db, name, deps, kind, target)
        objs.append((db, name, kind, ddl))
        view_deps[fq] = deps
        level[fq] = (1 + max(level[d] for d in deps)) if deps else 0
        by_level.setdefault(lv, [])
        if deps:
            by_level[lv].append(fq)
    # system objects the catalog source must exclude
    objs.append(("system", "tables", "SystemTables", None))
    objs.append(("system", "query_log", "SystemQueryLog", None))
    objs.append(("INFORMATION_SCHEMA", "TABLES", "View", None))
    order = rng.permutation(len(objs))
    objs = [objs[i] for i in order]
    table = pa.table({
        "database": [o[0] for o in objs], "name": [o[1] for o in objs],
        "engine": [o[2] for o in objs],
        "create_table_query": [o[3] for o in objs]},
        schema=pa.schema([("database", pa.string(), False),
                          ("name", pa.string(), False),
                          ("engine", pa.string(), False),
                          ("create_table_query", pa.string(), True)]))
    _write_parquet(table, snap)
    return objs, view_deps, errors, level


def make_lineage_catalog(seed, out_dir):
    rng = np.random.default_rng([seed, 3])
    snap = os.path.join(out_dir, "catalog.parquet")
    objs, view_deps, errors, level = _catalog(rng, N_TABLES, N_VIEWS, snap)
    # a small catalog of the same depth for set-up warm-up
    warm = os.path.join(out_dir, "warmup", "catalog.parquet")
    os.makedirs(os.path.dirname(warm), exist_ok=True)
    _catalog(np.random.default_rng([seed, 6]), 170, 30, warm)
    # ground truth, all derived from the generator's own choices
    views_sorted = sorted(view_deps)
    edges = [[d, v] for v in views_sorted for d in view_deps[v]]
    closure = 0
    anc = {}
    for v in sorted(view_deps, key=lambda x: level[x]):
        s = set()
        for d in view_deps[v]:
            s.add(d)
            s |= anc.get(d, set())
        anc[v] = s
        closure += len(s)
    nodes = set(view_deps) | {d for ds in view_deps.values() for d in ds}
    levels = {n: level[n] for n in nodes}
    truth = {
        "view_deps": view_deps, "errors": sorted(errors),
        "isolated": sorted(v for v, ds in view_deps.items() if not ds),
        "mermaid_edges": [f"  {s} -.-> {d}" for s, d in edges],
        "closure_pairs": closure, "levels": levels,
        "tables": sorted(f"{o[0]}.{o[1]}" for o in objs
                         if o[3] is not None and "View" not in o[2]),
    }
    tp = os.path.join(out_dir, "truth.json")
    with open(tp, "w") as f:
        json.dump(truth, f, sort_keys=True)
    n_views = N_VIEWS
    props = {
        "objects": len(objs), "tables": N_TABLES, "views": n_views,
        "depth": max(level.values()),
        "broken_share": round(len(errors) / n_views, 4),
        "isolated_views": len(truth["isolated"]),
        "edges": len(edges), "closure_pairs": closure,
        "layout": _layout(snap),
    }
    return [snap, warm, tp], props


# ------------------------------------------------------------- curation

# The shape of the repo's sf0.1 `documents` table, measured with
# `python3 perfbench/gen.py measure <documents.parquet>`: 5,000 docs in
# one file and one row group; each text is one line of words drawn
# uniformly from a 30-word vocabulary, 10 to 99 words, single spaces, no
# punctuation; `lang` is independent of the text; `source` is
# src<doc_id % 20>; 5 % of the docs are near duplicates, an earlier doc's
# text with " dup" appended (0.16 % are exact duplicates by chance).
# The base corpus follows that shape; on top of it come planted exact
# duplicates and boilerplate lines.
N_DOCS = 5000
N_WARMUP_DOCS = 200
VOCAB = ("spark window table merge column value stream vector small data "
         "filter big join group sort hash customer line order slow part "
         "fast row the agg key a query scan batch").split()
WORDS_MIN, WORDS_MAX = 10, 99
LANG_SHARES = {"en": 0.41, "zh": 0.15, "es": 0.15, "fr": 0.15, "de": 0.14}
N_SOURCES = 20
NEAR_DUP_SHARE = 0.05
NEAR_DUP_SUFFIX = " dup"
# planted on top of the sf0.1 shape
EXACT_DUP_SHARE = 0.02
BOILER_SHARE = 0.10
BOILER = ["subscribe to our newsletter.", "all rights reserved.",
          "click here to read more.", "cookie settings and privacy policy."]


def _curation_docs(rng, n_docs):
    n_near = int(n_docs * NEAR_DUP_SHARE)
    n_exact = int(n_docs * EXACT_DUP_SHARE)
    n_base = n_docs - n_near - n_exact
    words = np.array(VOCAB)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), int(k))])
             for k in rng.integers(WORDS_MIN, WORDS_MAX + 1, n_base)]
    kinds = ["orig"] * n_base
    for kind, n in (("near", n_near), ("exact", n_exact)):
        for j in rng.integers(0, n_base, n):
            texts.append(texts[j] + (NEAR_DUP_SUFFIX if kind == "near" else ""))
            kinds.append(kind)
    order = rng.permutation(n_docs)
    texts = [texts[i] for i in order]
    kinds = [kinds[i] for i in order]
    # boilerplate as an extra first or last line
    boiler = rng.permutation(n_docs)[:int(n_docs * BOILER_SHARE)]
    for i in boiler.tolist():
        b = BOILER[int(rng.integers(0, len(BOILER)))]
        texts[i] = (b + "\n" + texts[i]) if rng.random() < 0.5 \
            else (texts[i] + "\n" + b)
    langs = list(LANG_SHARES)
    lang = [langs[i] for i in rng.choice(
        len(langs), n_docs, p=list(LANG_SHARES.values()))]
    doc_id = np.arange(n_docs, dtype=np.int64)
    table = pa.table({
        "doc_id": doc_id, "text": texts, "lang": lang,
        "source": [f"src{i % N_SOURCES}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    props = corpus_properties(table)
    props.update({
        "planted_exact_dup_share": round(kinds.count("exact") / n_docs, 4),
        "planted_near_dup_share": round(kinds.count("near") / n_docs, 4),
        "planted_boilerplate_share": round(len(boiler) / n_docs, 4)})
    return table, props


def corpus_properties(table):
    """The properties of a `documents` table that decide what the curation
    pipelines do."""
    texts = table.column("text").to_pylist()
    n = len(texts)
    lines = [ln for t in texts for ln in t.split("\n")]
    words = [len(t.split()) for t in texts]
    chars = sum(len(t) for t in texts)
    punct = sum(1 for t in texts for c in t if c in ".,!?;:")
    langs = table.column("lang").to_pylist()
    seen, exact = set(), 0
    for t in texts:
        exact += t in seen
        seen.add(t)
    return {
        "docs": n,
        "words_per_doc": [min(words), int(np.median(words)), max(words)],
        "chars_per_line_median": int(np.median([len(x) for x in lines])),
        "lines_per_doc": round(len(lines) / n, 4),
        "vocabulary": len({w for t in texts for w in t.split()}),
        "punct_rate": round(punct / chars, 6),
        "lang_mix": {k: round(langs.count(k) / n, 4)
                     for k in sorted(set(langs))},
        "sources": len(set(table.column("source").to_pylist())),
        "exact_dup_share": round(exact / n, 4),
        "near_dup_share": round(
            sum(t.endswith(NEAR_DUP_SUFFIX) for t in lines) / n, 4),
        "boilerplate_share": round(
            sum(ln in BOILER for ln in lines) / n, 4),
    }


def make_curation(seed, out_dir):
    rng = np.random.default_rng([seed, 4])
    table, props = _curation_docs(rng, N_DOCS)
    p = os.path.join(out_dir, "documents.parquet")
    _write_parquet(table, p)
    # a small corpus in its own directory for set-up warm-up
    warm_dir = os.path.join(out_dir, "warmup")
    os.makedirs(warm_dir, exist_ok=True)
    wt, _ = _curation_docs(np.random.default_rng([seed, 5]), N_WARMUP_DOCS)
    wp = os.path.join(warm_dir, "documents.parquet")
    _write_parquet(wt, wp)
    props["layout"] = _layout(p)
    return [p, wp], props


MAKERS = {"ch_session": make_ch_session,
          "lineage_catalog": make_lineage_catalog,
          "curation": make_curation}


def generate(workload, seed, out_dir):
    """Writes the workload's inputs; returns (sha256, properties)."""
    os.makedirs(out_dir, exist_ok=True)
    paths, props = MAKERS[workload](seed, out_dir)
    return digest(paths), props


if __name__ == "__main__":
    import sys
    if len(sys.argv) != 3 or sys.argv[1] != "measure":
        sys.exit("usage: python3 perfbench/gen.py measure <documents.parquet>")
    print(json.dumps(corpus_properties(pq.read_table(sys.argv[2])),
                     sort_keys=True))
