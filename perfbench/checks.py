"""Output checks, run once per run outside the timed region. Each returns a
list of failure messages; an empty list means the output is correct."""
import glob
import os
import sys

import duckdb

# where the repository's own oracle compare, tools/selfcheck.py, lives
sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

FIXTURE_TABLES = ["region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events", "documents", "embeddings"]

# CSV field and DuckDB key expression per sorted copy (RefBench's keys)
SORT_KEYS = {
    "sort_id": "CAST(split_part(line, ',', 1) AS BIGINT)",
    "sort_name": "split_part(line, ',', 2)",
    "sort_continent": "split_part(line, ',', 4)",
}


def parquet_files(d):
    return sorted(glob.glob(os.path.join(d, "part-*.parquet")))


def check_sorted_copies(topic_dir, keys):
    """Each copy is non-decreasing by its key across its files in name
    order, and holds the source's rows: same count, same order-insensitive
    content hash."""
    con = duckdb.connect()
    src = parquet_files(os.path.join(topic_dir, "source"))
    if not src:
        return [f"no source files in {topic_dir}"]
    want = con.execute("SELECT count(*), sum(hash(line)::HUGEINT) FROM read_parquet(?)",
                       [src]).fetchone()
    errors = []
    for slot in keys:
        files = parquet_files(os.path.join(topic_dir, slot))
        if not files:
            errors.append(f"{slot}: no output files")
            continue
        key = SORT_KEYS[slot]
        got = con.execute("SELECT count(*), sum(hash(line)::HUGEINT) FROM read_parquet(?)",
                          [files]).fetchone()
        if got[0] != want[0]:
            errors.append(f"{slot}: {got[0]} rows, source has {want[0]}")
        elif got[1] != want[1]:
            errors.append(f"{slot}: content hash differs from the source")
        prev_max = None
        for f in files:
            inversions, lo, hi = con.execute(
                f"SELECT count(*) FILTER (WHERE prev > k), min(k), max(k) FROM ("
                f"SELECT k, lag(k) OVER (ORDER BY file_row_number) AS prev FROM ("
                f"SELECT {key} AS k, file_row_number FROM read_parquet(?, file_row_number=true)))",
                [f]).fetchone()
            if inversions:
                errors.append(f"{slot}: {inversions} inversions inside {os.path.basename(f)}")
            if lo is not None:
                if prev_max is not None and lo < prev_max:
                    errors.append(f"{slot}: {os.path.basename(f)} starts below the previous file's end")
                prev_max = hi
    return errors


def plain(v):
    """A NumPy array (a list column from pandas) as a Python list."""
    if hasattr(v, "tolist") and not isinstance(v, (int, float)):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return [plain(x) for x in v]
    return v


def values_equal(a, b):
    """As tools/selfcheck.py compares, list columns included."""
    import selfcheck
    return selfcheck.values_equal(plain(a), plain(b))


def check_queries(data_dir, result_dir, oracles, tables=FIXTURE_TABLES):
    """Each query's Spark result equals its DuckDB oracle over the same
    fixtures: same columns, row count, and values in result order."""
    con = duckdb.connect()
    for t in tables:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    errors = []
    for name, sql in sorted(oracles.items()):
        if not sql:
            errors.append(f"{name}: no oracle SQL")
            continue
        files = parquet_files(os.path.join(result_dir, name))
        if not files:
            errors.append(f"{name}: no Spark result")
            continue
        try:
            o = con.execute(sql).df()
            s = con.execute("SELECT * FROM read_parquet(?)", [files]).df()
        except Exception as e:  # an unreadable result or a broken oracle fails the check
            errors.append(f"{name}: {e}")
            continue
        ocols, scols = list(o.columns), list(s.columns)
        if sorted(ocols) != sorted(scols):
            errors.append(f"{name}: columns {sorted(scols)} != oracle {sorted(ocols)}")
            continue
        if len(o) != len(s):
            errors.append(f"{name}: {len(s)} rows, oracle has {len(o)}")
            continue
        cols = sorted(ocols)
        orows = o[cols].itertuples(index=False, name=None)
        srows = s[cols].itertuples(index=False, name=None)
        for i, (orow, srow) in enumerate(zip(orows, srows)):
            bad = [c for c, x, y in zip(cols, orow, srow) if not values_equal(x, y)]
            if bad:
                errors.append(f"{name}: row {i} column {bad[0]} differs from the oracle")
                break
    return errors


def table_model(art):
    """Last-writer-wins replay of the committed sequence; rows are the
    closed forms TableCommits writes."""
    seed, space = art["table_seed"], art["table_key_space"]
    up, de = art["table_upsert_rows"], art["table_delete_rows"]

    def row(k, g):
        return (k * 31 + g * 1000003 + seed) % 1000000007, f"g{g}_{k % 97}"

    model = {}
    for g, kind in art["table_log"]:
        g = int(g)
        if kind == "init":
            model = {k: row(k, 0) for k in range(art["table_init_rows"])}
        elif kind == "upsert":
            for i in range(up):
                k = (i * (space // up) + g * 7919 + seed * 131) % space
                model[k] = row(k, g)
        elif kind == "delete":
            for i in range(de):
                model.pop((i * (space // de) + g * 104729 + seed * 17) % space, None)
        else:
            raise ValueError(f"unknown commit kind {kind}")
    return model


def check_table(final_dir, model):
    """The final snapshot equals the model, row for row."""
    files = parquet_files(final_dir)
    if not files:
        return [f"no final snapshot in {final_dir}"]
    rows = duckdb.connect().execute(
        "SELECT k, v, s FROM read_parquet(?) ORDER BY k", [files]).fetchall()
    errors = []
    if len(rows) != len(model):
        errors.append(f"final snapshot has {len(rows)} rows, model has {len(model)}")
    got = {k: (v, s) for k, v, s in rows}
    if len(got) != len(rows):
        errors.append("final snapshot repeats a key")
    wrong = [k for k, r in model.items() if got.get(k) != r]
    if wrong:
        errors.append(f"{len(wrong)} keys differ from the model, first {wrong[0]}")
    extra = [k for k in got if k not in model]
    if extra:
        errors.append(f"{len(extra)} keys not in the model, first {extra[0]}")
    return errors
