#!/usr/bin/env python3
"""Writes a workload's expected values, once they match DuckDB.

    python3 perfbench/crosscheck.py <refresh|floor|tail>

Runs one pass of the workload in the harness's `dump` mode, which writes
every operation's row count and content hash, and each result as
parquet. Each result with a DuckDB oracle (`SparkEntry.oracleSql` for
the registry queries; the source table, or the oracle of the query the
table is built from, for published tables) must equal the oracle's rows
under tools/check.py's canonicalization, and no operation may fail.
Prints one PASS/FAIL line per operation. If every line passes, it
writes the row counts and hashes to perfbench/expected/<workload>.tsv,
which run.py checks every operation against; otherwise it exits
non-zero and leaves the file as it is. Run it when the operation lists,
datagen.py or the program's results change.
"""
import importlib.util
import json
import os
import subprocess
import sys

import duckdb

import run as bench

# published table -> the registry query whose oracle it must equal
# (and the column renames the dataset applies)
TABLE_ORACLES = {
    "wow_bldgs": ("q0_flagship_bldgs", {}),
    "wow_portfolios": ("g1_components", {"component": "portfolio_id"}),
}
# tables whose rows hold arrays: tools/check.py cannot sort those, so
# they are compared by row count only
ROWS_ONLY = {"embeddings"}


def load_check():
    path = os.path.join(bench.ROOT, "tools", "check.py")
    spec = importlib.util.spec_from_file_location("check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def main(workload):
    conf = bench.WORKLOADS[workload]
    spark_home, jars = bench.spark_jars()
    classes, _ = bench.ensure_build(spark_home)
    data = bench.ensure_data(conf["sf"])
    work = os.path.join(bench.WORK, "dump-work")
    out = os.path.join(bench.WORK, "dump", workload)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    subprocess.run(bench.harness(
        classes, jars, os.path.join(work, "tmp"), "dump", workload, data,
        os.path.join(bench.HERE, "workloads", f"{workload}.txt"), work, out),
        check=True, stdout=sys.stderr)

    check = load_check()
    con = duckdb.connect()
    for t in check.TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    oracles = json.load(open(os.path.join(out, "oracle_sql.json")))
    observed = sorted(line.rstrip("\n").split("\t")
                      for line in open(os.path.join(out, "observed.tsv")))
    n_fail = 0
    for name, rows, digest in observed:
        problems = []
        if int(rows) < 0:
            problems.append("the operation failed")
        table = name.split(":", 1)[1] if name.startswith("read:") else None
        sql, renames = None, {}
        if table in check.TABLES:
            sql = f"SELECT * FROM {table}"
        elif table in TABLE_ORACLES:
            query, renames = TABLE_ORACLES[table]
            sql = oracles.get(query)
        elif table is None and name in oracles:
            sql = oracles[name]
        note = "no oracle"
        if sql:
            got = con.sql(f"SELECT * FROM '{out}/{name.replace(':', '_')}/*.parquet'").df()
            want = con.sql(sql).df().rename(columns=renames)
            if table in ROWS_ONLY:
                ok, note = len(got) == len(want), "oracle rows"
            else:
                g, w = check.canon(got), check.canon(want)
                ok = list(g.columns) == list(w.columns) and len(g) == len(w) \
                    and g.equals(w)
                note = "oracle"
            if not ok:
                problems.append(f"differs from the oracle ({len(got)} vs {len(want)} rows)")
        if problems:
            n_fail += 1
            print(f"FAIL {name}: " + "; ".join(problems))
        else:
            print(f"PASS {name} ({rows} rows, {note})")
    print(f"== {len(observed) - n_fail} pass, {n_fail} fail ==")
    if n_fail:
        return 1
    path = os.path.join(bench.HERE, "expected", f"{workload}.tsv")
    with open(path, "w") as fh:
        fh.write("# op\trows\tcontent hash (perfbench/crosscheck.py)\n")
        fh.writelines("\t".join(r) + "\n" for r in observed)
    print(f"wrote {os.path.relpath(path, bench.ROOT)}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
