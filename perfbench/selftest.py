#!/usr/bin/env python3
"""Self-test of the benchmark's output checks: each check accepts a right
output and rejects deliberately wrong ones (an unsorted copy, a dropped
row, a wrong query result, a wrong final table).

Usage (from the repository root): python3 perfbench/selftest.py
Needs only DuckDB; it writes under .perfbench_work/selftest.
"""
import os
import shutil
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import checks  # noqa: E402

ROOT = os.path.join(os.getcwd(), ".perfbench_work", "selftest")
con = duckdb.connect()
failures = []


def write(path, rows, cols, select="*"):
    """Write rows to one Parquet file, keeping their order."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    values = ", ".join("(" + ", ".join(repr(v) for v in r) + ")" for r in rows)
    con.execute(f"COPY (SELECT {select} FROM (VALUES {values}) t({', '.join(cols)})) "
                f"TO '{path}' (FORMAT PARQUET)")


def expect(name, errors, ok):
    if bool(errors) == ok:
        failures.append(f"{name}: expected {'no errors' if ok else 'errors'}, got {errors}")
    print(f"{'ok  ' if bool(errors) != ok else 'FAIL'} {name}: {errors[:1] or 'accepted'}")


def topic(case, mutate):
    """A source of six records and its three sorted copies, two files each;
    `mutate(slot, files)` may corrupt a copy's per-file rows."""
    d = os.path.join(ROOT, "topic", case)
    lines = ["5,Bob,addr one,Asia", "12,alice,addr two,Europe", "7,Zed,addr 3,Africa",
             "100,Carl,addr 4,Asia", "9,bea,addr 5,North America", "42,Dan,addr 6,Europe"]
    write(f"{d}/source/part-00000.parquet", [(x,) for x in lines], ["line"])
    keys = {"sort_id": lambda x: int(x.split(",")[0]), "sort_name": lambda x: x.split(",")[1],
            "sort_continent": lambda x: (x.split(",")[3], x)}
    for slot, k in keys.items():
        s = sorted(lines, key=k)
        files = [s[:3], s[3:]]
        mutate(slot, files)
        for i, rows in enumerate(files):
            write(f"{d}/{slot}/part-{i:05d}.parquet", [(x,) for x in rows], ["line"])
    return checks.check_sorted_copies(d, list(keys))


def query_case(case, rows, select="*"):
    data = os.path.join(ROOT, "queries", "data")
    write(f"{data}/region.parquet", [(0, "AFRICA"), (1, "AMERICA"), (2, "ASIA")],
          ["r_regionkey", "r_name"])
    out = os.path.join(ROOT, "queries", case)
    write(f"{out}/q/part-00000.parquet", rows, ["r_regionkey", "r_name"], select)
    return checks.check_queries(data, out, {"q": "SELECT r_regionkey, r_name FROM region ORDER BY 1"},
                                tables=["region"])


def table_case(case, drop=None, change=None):
    art = {"table_seed": 7, "table_key_space": 25, "table_upsert_rows": 5,
           "table_delete_rows": 2, "table_init_rows": 20,
           "table_log": [["0", "init"], ["1", "upsert"], ["2", "delete"], ["3", "upsert"]]}
    model = checks.table_model(art)
    rows = [(k, v, s) for k, (v, s) in sorted(model.items()) if k != drop]
    if change is not None:
        rows = [(k, v + 1 if k == change else v, s) for k, v, s in rows]
    out = os.path.join(ROOT, "table", case)
    write(f"{out}/part-00000.parquet", rows, ["k", "v", "s"])
    return checks.check_table(out, model)


def main():
    shutil.rmtree(ROOT, ignore_errors=True)

    def swap_within(slot, files):
        files[0][0], files[0][1] = files[0][1], files[0][0]

    def swap_files(slot, files):
        files[0], files[1] = files[1], files[0]

    def drop_row(slot, files):
        files[1].pop()

    def alter_row(slot, files):
        files[1][-1] = files[1][-1].replace("addr", "ADDR")

    expect("sorted copies: right output", topic("right", lambda s, f: None), ok=True)
    expect("sorted copies: unsorted within a file", topic("unsorted", swap_within), ok=False)
    expect("sorted copies: files out of order", topic("files", swap_files), ok=False)
    expect("sorted copies: dropped row", topic("dropped", drop_row), ok=False)
    expect("sorted copies: altered row", topic("altered", alter_row), ok=False)

    right = [(0, "AFRICA"), (1, "AMERICA"), (2, "ASIA")]
    expect("query: right result", query_case("right", right), ok=True)
    expect("query: wrong value", query_case("wrong", [(0, "AFRICA"), (1, "EUROPE"), (2, "ASIA")]), ok=False)
    expect("query: dropped row", query_case("dropped", right[:2]), ok=False)
    expect("query: wrong order", query_case("order", [right[1], right[0], right[2]]), ok=False)
    expect("query: integer key returned as float",
           query_case("float", right, "r_regionkey::DOUBLE AS r_regionkey, r_name"), ok=False)

    expect("table: right snapshot", table_case("right"), ok=True)
    model_keys = sorted(checks.table_model({
        "table_seed": 7, "table_key_space": 25, "table_upsert_rows": 5, "table_delete_rows": 2,
        "table_init_rows": 20, "table_log": [["0", "init"], ["1", "upsert"], ["2", "delete"],
                                             ["3", "upsert"]]}))
    expect("table: dropped row", table_case("dropped", drop=model_keys[3]), ok=False)
    expect("table: wrong value", table_case("wrong", change=model_keys[5]), ok=False)

    shutil.rmtree(ROOT, ignore_errors=True)
    print(f"== {len(failures)} failed ==")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
