#!/usr/bin/env python3
"""DuckDB answers for the analytics-suite check.

The check compares each query's collected rows with the DuckDB answer to
its `SparkEntry.oracleSql` text over the same input files, using the
canonical compare of `tools/check_oracle.py`: columns sorted by name,
floats to 6 significant digits, every value stringified, rows sorted.
Only a digest of the canonical rows is kept.

DuckDB answers are cached per input file set and per SQL text in
`perfbench/oracle/answers.json`, so a run does not pay for them. A query
whose SQL or inputs changed misses the cache; the run then asks DuckDB
and keeps the answer in its build directory.

Make the committed answers anew (builds the benchmark first):

    python3 perfbench/oracle.py
"""
import glob
import hashlib
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ANSWERS = os.path.join(HERE, "oracle", "answers.json")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(rows, cols):
    """tools/check_oracle.py's canonical form."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = f"{v:.6g}"
            vals.append(str(v))
        out.append("\x01".join(vals))
    out.sort()
    return out


def digest(rows, cols):
    c = canon(rows, cols)
    h = hashlib.sha256("\n".join(c).encode("utf-8", "surrogatepass")).hexdigest()
    return {"cols": sorted(cols), "rows": len(c), "sha256": h}


def input_digest(data_dir):
    h = hashlib.sha256()
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            h.update(t.encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def cache_key(inputs, sql):
    return hashlib.sha256((inputs + "\0" + sql).encode("utf-8")).hexdigest()


def connect(data_dir):
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def duck_answer(con, sql):
    cur = con.execute(sql)
    return digest(cur.fetchall(), [d[0] for d in cur.description])


def load(path):
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    return {}


def save(path, answers):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(answers, f, indent=1, sort_keys=True)
        f.write("\n")


def check(out_dirs, sql_map, data_dir, local_cache, threw=()):
    """Compare every query output under each of `out_dirs` with its
    DuckDB answer. `threw` names the `<round>/<query>` runs that threw
    and so wrote no output. Returns one failure message per query
    output that is missing or wrong (empty = pass)."""
    inputs = input_digest(data_dir)
    committed = load(ANSWERS)
    local = load(local_cache)
    con = None
    failures = []
    for out_dir in out_dirs:
        names = sorted(os.listdir(out_dir))
        rnd = os.path.basename(out_dir)
        for name in sorted(set(names) - set(sql_map)):
            failures.append(f"{rnd}/{name}: an output of no query in the set")
        for name in sorted(set(sql_map) - set(names)):
            if f"{rnd}/{name}" not in threw:
                failures.append(f"{rnd}/{name}: no output")
        for name in names:
            sql = sql_map.get(name)
            if sql is None:
                continue
            key = cache_key(inputs, sql)
            want = committed.get(key) or local.get(key)
            if want is None:
                if con is None:
                    con = connect(data_dir)
                want = dict(duck_answer(con, sql), query=name)
                local[key] = want
                save(local_cache, local)
            files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
            if not files:
                failures.append(f"{name}: no output")
                continue
            if con is None:
                con = connect(data_dir)
            cur = con.execute(f"SELECT * FROM '{os.path.join(out_dir, name)}/*.parquet'")
            got = digest(cur.fetchall(), [d[0] for d in cur.description])
            if got["cols"] != want["cols"]:
                failures.append(f"{name}: columns {got['cols']} != oracle {want['cols']}")
            elif got["rows"] != want["rows"]:
                failures.append(f"{name}: {got['rows']} rows != oracle {want['rows']}")
            elif got["sha256"] != want["sha256"]:
                failures.append(f"{name}: values differ from the oracle ({got['rows']} rows)")
    return failures


def refresh():
    """Rebuild the committed answers for the benchmark's query set."""
    sys.path.insert(0, HERE)
    import run
    cp = run.build()
    sql_map = run.oracle_sql(cp)
    data_dir = run.DATA_DIR
    inputs = input_digest(data_dir)
    con = connect(data_dir)
    answers = {}
    for name, sql in sorted(sql_map.items()):
        answers[cache_key(inputs, sql)] = dict(duck_answer(con, sql), query=name)
        print(f"{name}: {answers[cache_key(inputs, sql)]['rows']} rows", file=sys.stderr)
    save(ANSWERS, answers)
    print(f"wrote {len(answers)} answers to {ANSWERS}", file=sys.stderr)


if __name__ == "__main__":
    refresh()
