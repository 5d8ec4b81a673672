"""Output checks for the benchmark's operations.

Every operation a run attempted is checked; one that threw or whose
output is wrong counts as failed.

- hb_select: the winner, its params and the best score must match the
  record in expected/hb_select.json (best within HB_TOL).
- pipeline_ops: each query's result must equal the result of its
  SparkEntry.oracleSql in DuckDB, compared as tools/check.py compares
  (columns sorted by name, rows sorted, floats by full repr), and
  every pass's row count must equal the oracle's.

For a (scale, seed) with no record, every pass must reproduce the cold
pass's values (within the same tolerances) and the values must lie in
their valid ranges.
"""
import glob
import hashlib
import json
import math
import os

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
HB_TOL = 1e-9
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def expected_path(workload):
    return os.path.join(HERE, "expected", f"{workload}.json")


def load_expected(workload, seed, scale):
    p = expected_path(workload)
    if not os.path.exists(p):
        return None
    with open(p) as fh:
        return json.load(fh).get(f"sf{scale}", {}).get(str(seed))


def check(workload, seed, scale, rec, data, outputs):
    ops = [(p["index"], o) for p in rec["passes"] for o in p["ops"]]
    bad = set()
    problems = []

    def flag(i, name, why):
        bad.add((i, name))
        problems.append(f"pass {i} {name}: {why}")

    for i, o in ops:
        if not o["ok"]:
            flag(i, o["name"], o["error"])
    good = [(i, o) for i, o in ops if o["ok"]]
    expected = load_expected(workload, seed, scale)
    if workload == "pipeline_ops":
        reference = "duckdb oracle"
        check_pipeline(good, data, outputs, flag)
    else:
        reference = "recorded" if expected is not None else "cold pass"
        want = expected if expected is not None else observed(good)
        for i, o in good:
            why = hb_matches(o["name"], o["values"], want)
            if why:
                flag(i, o["name"], why)
    return {"attempted": len(ops), "failed": len(bad), "reference": reference,
            "problems": problems}


def observed(good):
    """The values of each operation in the earliest pass that ran it."""
    out = {}
    for _, o in sorted(good, key=lambda x: x[0]):
        out.setdefault(o["name"], o["values"])
    return out


def hb_matches(name, got, want):
    w = want.get(name)
    if w is None:
        return "no recorded value"
    if not (isinstance(got.get("best"), float) and math.isfinite(got["best"])):
        return f"best score {got.get('best')} is not finite"
    if got["winner"] != w["winner"] or got["params"] != w["params"]:
        return (f"selected {got['winner']}({got['params']}), "
                f"recorded {w['winner']}({w['params']})")
    if abs(got["best"] - w["best"]) > HB_TOL:
        return f"best {got['best']!r} != recorded {w['best']!r} (tol {HB_TOL})"
    return None


def norm(v):
    # tools/check.py's normalisation: floats by full repr, NaN as a tag
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return str(v)


def table_of(con, sql, oracle=False):
    rel = con.sql(sql)
    cols = rel.columns
    if oracle:
        hug = [c for c, t in zip(cols, rel.types) if "HUGEINT" in str(t)]
        if hug:
            raise ValueError(f"oracle emits HUGEINT column(s) {hug}")
    rows = rel.fetchall()
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(cols), sorted(tuple(norm(r[i]) for i in order) for r in rows)


def oracle_table(con, data, sql):
    """The oracle's normalised result, cached next to the inputs per SQL text."""
    cache = os.path.join(data, "oracle", hashlib.sha256(sql.encode()).hexdigest() + ".json")
    if os.path.exists(cache):
        with open(cache) as fh:
            cols, rows = json.load(fh)
        return cols, [tuple(r) for r in rows]
    cols, rows = table_of(con, sql, oracle=True)
    os.makedirs(os.path.dirname(cache), exist_ok=True)
    with open(cache + ".tmp", "w") as fh:
        json.dump([cols, rows], fh)
    os.replace(cache + ".tmp", cache)
    return cols, rows


def check_pipeline(good, data, outputs, flag):
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    oracle_file = os.path.join(outputs, "oracle_sql.json")
    oracles = {}
    if os.path.exists(oracle_file):
        with open(oracle_file) as fh:
            oracles = json.load(fh)
    names = sorted({o["name"] for _, o in good})
    for name in names:
        q = name[len("query."):]
        runs = [(i, o) for i, o in good if o["name"] == name]
        why = None
        want_rows = None
        files = glob.glob(os.path.join(outputs, q, "*.parquet"))
        if q not in oracles:
            why = "no oracle SQL"
        elif not files:
            why = "no result written"
        else:
            try:
                want_cols, want = oracle_table(con, data, oracles[q])
                got_cols, got = table_of(
                    con, f"SELECT * FROM read_parquet('{os.path.join(outputs, q)}/*.parquet')")
                want_rows = len(want)
                if got_cols != want_cols:
                    why = f"columns {got_cols} != oracle {want_cols}"
                elif got != want:
                    why = f"result differs from the oracle ({len(got)} vs {len(want)} rows)"
            except Exception as e:  # a broken oracle or result is a failure
                why = f"compare failed: {e}"
        for i, o in runs:
            if why:
                flag(i, name, why)
            elif o["values"].get("rows") != want_rows:
                flag(i, name, f"{o['values'].get('rows')} rows, oracle {want_rows}")
