#!/usr/bin/env python3
"""Self-test of the benchmark's own checks and generators (no JVM).

    python3 perfbench/selftest.py

- the DuckDB twin, the Python write model and the generator's lineage
  truth each pass an exact copy of the right answer and flag a planted
  wrong row; the result compare flags a value whose type changed;
- generating inputs twice from one seed gives byte-identical files, and
  another seed gives different ones.
Exits 0 when every case holds, 1 otherwise.
"""
import sys

sys.dont_write_bytecode = True

import copy  # noqa: E402
import filecmp  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

WORK = os.path.join(os.path.dirname(HERE), ".bench_build", "selftest")
results = []


def case(name, ok):
    results.append((name, bool(ok)))
    print(f"{'PASS' if ok else 'FAIL'} {name}")


def as_jvm(res):
    """A result the way the JVM side encodes it."""
    return {"columns": list(res["columns"]),
            "rows": [[check.canon(v) for v in r] for r in res["rows"]]}


def plant(res):
    """A copy with one value changed in the last row."""
    bad = copy.deepcopy(res)
    row = bad["rows"][-1]
    for j, v in enumerate(row):
        if isinstance(v, (int, float)) and not isinstance(v, bool):
            row[j] = v + 1
            return bad
    row[0] = f"{row[0]}_wrong"
    return bad


def retype(res):
    """A copy with one value of the same worth but another type (an int
    where the reference has a whole float, or the reverse); None when the
    result has no such value."""
    bad = copy.deepcopy(res)
    for row in bad["rows"]:
        for j, v in enumerate(row):
            if isinstance(v, float) and v.is_integer():
                row[j] = int(v)
                return bad
            if isinstance(v, int) and not isinstance(v, bool):
                row[j] = float(v)
                return bad
    return None


def test_types():
    want = {"columns": ["n", "x", "b"], "rows": [[3, 5.0, True]]}
    case("types: exact copy passes",
         check.compare(copy.deepcopy(want), want, "t") is None)
    for j, v in ((1, 5), (0, 3.0), (2, 1)):
        got = copy.deepcopy(want)
        got["rows"][0][j] = v
        case(f"types: {v!r} where the reference has "
             f"{want['rows'][0][j]!r} is flagged",
             check.compare(got, want, "t") is not None)


def test_duckdb_twin(d):
    stmts = check.load_statements(d)
    con = check.duck_over(d, ["region", "nation", "customer", "orders",
                              "lineitem"])
    seen = set()
    for s in stmts:
        if s["kind"] != "select" or s["tpl"] in seen:
            continue
        seen.add(s["tpl"])
        want = check.duck_result(con, s["duck"])
        if not want["rows"]:
            continue
        got = as_jvm(want)
        case(f"twin {s['tpl']}: exact copy passes",
             check.compare(got, want, "t") is None)
        case(f"twin {s['tpl']}: planted wrong row is flagged",
             check.compare(plant(got), want, "t") is not None)
        if retype(got) is not None:
            case(f"twin {s['tpl']}: planted type change is flagged",
                 check.compare(retype(got), want, "t") is not None)
    con.close()


def test_write_model(d):
    stmts = check.load_statements(d)
    con = check.duck_over(d, ["orders"])
    model = check.WriteModel(con)
    n = 0
    for s in stmts:
        if s["kind"] == "write":
            model.apply(s["op"])
        elif s["kind"] == "readback" and n < 6:
            want = model.readback(s["table"])
            if not want["rows"]:
                continue
            n += 1
            got = as_jvm(want)
            case(f"write model {s['i']}: exact copy passes",
                 check.compare(got, want, "m") is None)
            case(f"write model {s['i']}: planted wrong row is flagged",
                 check.compare(plant(got), want, "m") is not None)
            if retype(got) is not None:
                case(f"write model {s['i']}: planted type change is flagged",
                     check.compare(retype(got), want, "m") is not None)
    for t in sorted(model.tables):
        want = model.final(t)
        if want["rows"]:
            case(f"write model final {t}: planted wrong row is flagged",
                 check.compare(plant(as_jvm(want)), want, "f") is not None)
    con.close()


def lineage_from_truth(truth):
    """The lineage result a correct program returns for this catalog."""
    tables = set(truth["tables"])
    views = sorted(truth["view_deps"])
    return {
        "view_deps": [[v, truth["view_deps"][v]] for v in views],
        "errors": [[v, "LineageParseException: planted"]
                   for v in truth["errors"]],
        "isolated": list(truth["isolated"]),
        "mermaid": "\n".join(["graph LR"] + truth["mermaid_edges"]) + "\n",
        "full_mermaid_edges": len(truth["mermaid_edges"]),
        "closure_pairs": truth["closure_pairs"],
        "levels": [[k, v] for k, v in sorted(truth["levels"].items())],
        "classes": [[k, "chTable" if k in tables else "chView"]
                    for k in sorted(truth["levels"])],
        "exact": [[v, truth["view_deps"][v], "exact", None] for v in views]
        + [[v, [], "error", "planted"] for v in truth["errors"]],
    }


def test_lineage_truth(d):
    with open(os.path.join(d, "truth.json")) as f:
        truth = json.load(f)
    good = lineage_from_truth(truth)
    case("lineage truth: exact copy passes",
         check.check_lineage(d, {"lineage": good}, [0]) == [])
    v = next(x for x in sorted(truth["view_deps"]) if truth["view_deps"][x])
    plants = {
        "edges": lambda r: r["view_deps"][[x[0] for x in r["view_deps"]]
                                          .index(v)][1].append("db_00.ghost"),
        "errors": lambda r: r["errors"].pop(),
        "isolated": lambda r: r["isolated"].append(v),
        "mermaid_edges": lambda r: r.__setitem__(
            "mermaid", r["mermaid"] + "  db_00.ghost -.-> " + v + "\n"),
        "levels": lambda r: r["levels"][0].__setitem__(1, 99),
        "closure": lambda r: r.__setitem__("closure_pairs",
                                           r["closure_pairs"] + 1),
    }
    for name, f in plants.items():
        bad = copy.deepcopy(good)
        f(bad)
        found = check.check_lineage(d, {"lineage": bad}, [0])
        case(f"lineage truth: planted wrong {name} is flagged",
             any(m["check"] == name for m in found))


def test_generation():
    for w in gen.MAKERS:
        a, b, c = (os.path.join(WORK, x, w) for x in ("a", "b", "c"))
        sha_a, _ = gen.generate(w, 7, a)
        sha_b, _ = gen.generate(w, 7, b)
        sha_c, _ = gen.generate(w, 8, c)
        cmp = filecmp.dircmp(a, b)
        files = sorted(os.listdir(a))
        same = all(filecmp.cmp(os.path.join(a, f), os.path.join(b, f),
                               shallow=False)
                   for f in files if os.path.isfile(os.path.join(a, f)))
        case(f"{w}: same seed gives byte-identical inputs",
             same and not cmp.left_only and not cmp.right_only
             and sha_a == sha_b)
        case(f"{w}: another seed gives other inputs", sha_a != sha_c)


def main():
    shutil.rmtree(WORK, ignore_errors=True)
    try:
        test_types()
        test_generation()
        test_duckdb_twin(os.path.join(WORK, "a", "ch_session"))
        test_write_model(os.path.join(WORK, "a", "ch_session"))
        test_lineage_truth(os.path.join(WORK, "a", "lineage_catalog"))
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    failed = [n for n, ok in results if not ok]
    print(f"selftest: {len(results) - len(failed)} passed, {len(failed)} failed")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
