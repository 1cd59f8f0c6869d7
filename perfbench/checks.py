"""Correctness checks, computed apart from the program: DuckDB over the
same Parquet, numpy over the same vectors, and the generator's answer
key for the ETL lake. Each check returns a list of error strings; an
empty list means the output is correct."""
import hashlib
import os

import numpy as np


def canon(con, sql):
    """Columns sorted by name, rows by every column: the form in which two
    results of the same query are compared cell for cell."""
    df = con.execute(sql).fetchdf()
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def parquet_sql(out_dir):
    return f"SELECT * FROM read_parquet('{out_dir}/*.parquet')"


def compare(name, got, want):
    if list(got.columns) != list(want.columns):
        return [f"{name}: columns {list(got.columns)} != {list(want.columns)}"]
    if len(got) != len(want):
        return [f"{name}: {len(got)} rows != {len(want)}"]
    if not got.equals(want):
        neq = (got != want) & ~(got.isna() & want.isna())
        bad = [c for c in got.columns if neq[c].any()]
        if not bad:
            return [f"{name}: column types {list(got.dtypes)} != {list(want.dtypes)}"]
        return [f"{name}: values differ in {bad}"]
    return []


def oracle(con, name, sql, out_dir):
    """The op's Parquet output equals its `Registry.oracleSql` in DuckDB."""
    try:
        return compare(name, canon(con, parquet_sql(out_dir)), canon(con, sql))
    except Exception as e:  # a broken output or oracle is a failed check
        return [f"{name}: {type(e).__name__}: {e}"]


def same_output(con, name, dir_a, dir_b):
    try:
        return compare(name, canon(con, parquet_sql(dir_a)), canon(con, parquet_sql(dir_b)))
    except Exception as e:
        return [f"{name}: {type(e).__name__}: {e}"]


def exact_topk(x, panel, k):
    """Exact cosine top-k of each query vec_id < panel over all other
    vectors, ties broken by the lower id: {(query, rank): (id, cos)}."""
    x = x.astype(np.float64)
    n2 = np.sqrt((x * x).sum(axis=1))
    out = {}
    for q in range(panel):
        cos = (x @ x[q]) / (n2 * n2[q])
        cos[q] = -np.inf
        order = sorted(range(len(x)), key=lambda i: (-cos[i], i))[:k]
        for r, i in enumerate(order, 1):
            out[(q, r)] = (i, cos[i])
    return out


def ann_exact(con, name, out_dir, x, panel=10, k=5):
    """An exact top-k op's (query_id, neighbor_id, rank, cos_sim) output
    against numpy's exact cosine ranking."""
    rows = con.execute(f"SELECT query_id, rank, neighbor_id, cos_sim FROM "
                       f"read_parquet('{out_dir}/*.parquet')").fetchall()
    want = exact_topk(x, panel, k)
    got = {(q, r): (i, c) for q, r, i, c in rows}
    if set(got) != set(want):
        return [f"{name}: (query, rank) keys differ from exact top-{k}"]
    errs = [f"{name}: query {q} rank {r}: neighbor {got[(q, r)][0]} != {i}"
            for (q, r), (i, c) in sorted(want.items())
            if got[(q, r)][0] != i or abs(got[(q, r)][1] - c) > 2e-6]
    return errs[:5]


# --- ETL lake ---------------------------------------------------------------

LAKE_SQL = """SELECT trade_id, epoch_us(trade_time), price, quantity, quote_qty,
       is_buyer_maker, is_best_match, strftime(load_dt, '%Y-%m-%d'),
       CAST(year AS INTEGER), CAST(month AS INTEGER), CAST(day AS INTEGER), symbol
FROM read_parquet('{lake}/**/*.parquet', hive_partitioning = true)"""


def lake_rows(con, lake):
    rows = con.execute(LAKE_SQL.format(lake=lake)).fetchall()
    return {r[0]: tuple(r) for r in rows}, len(rows)


def data_files(lake):
    """{relative path: (bytes, sha1)} of the lake's data files."""
    out = {}
    for d, _, names in os.walk(lake):
        for n in names:
            if n.startswith(("_", ".")):
                continue
            p = os.path.join(d, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, lake)] = (os.path.getsize(p),
                                                 hashlib.sha1(f.read()).hexdigest())
    return out


def partition_of(relpath):
    """(year, month, day, symbol) of a data file's partition directory."""
    kv = dict(part.split("=", 1) for part in relpath.split(os.sep)[:-1])
    return int(kv["year"]), int(kv["month"]), int(kv["day"]), kv["symbol"]


def same_rows(what, got, n_got, want):
    if n_got != len(got):
        return [f"{what}: {n_got - len(got)} duplicate trade_id rows"]
    missing = sorted(set(want) - set(got))
    extra = sorted(set(got) - set(want))
    changed = sorted(k for k in set(got) & set(want) if got[k] != want[k])
    errs = []
    if missing:
        errs.append(f"{what}: {len(missing)} rows missing, e.g. trade_id {missing[0]}")
    if extra:
        errs.append(f"{what}: {len(extra)} unexpected rows, e.g. trade_id {extra[0]}")
    if changed:
        k = changed[0]
        errs.append(f"{what}: {len(changed)} rows differ, e.g. {got[k]} != {want[k]}")
    return errs


def etl_load(con, lake_dir, lake):
    """A loaded lake against the generator's answer key."""
    got, n = lake_rows(con, lake_dir)
    errs = same_rows("load", got, n, lake.rows)
    counts = {}
    for r in got.values():
        counts[(r[8], r[9], r[10], r[11])] = counts.get((r[8], r[9], r[10], r[11]), 0) + 1
    if counts != lake.per_partition:
        bad = sorted(set(counts.items()) ^ set(lake.per_partition.items()))
        errs.append(f"load: rows per partition differ, e.g. {bad[0]}")
    for rule, ids in lake.planted.items():
        left = sorted(set(ids) & set(got))
        if left:
            errs.append(f"load: planted {rule} row {left[0]} is in the lake")
    planted = sum(len(v) for v in lake.planted.values())
    if n + planted != lake.csv_rows:
        errs.append(f"load: {n} stored + {planted} rejected != {lake.csv_rows} CSV rows")
    sums = con.execute(
        "SELECT symbol, sum(quantity), sum(quote_qty) FROM "
        f"read_parquet('{lake_dir}/**/*.parquet', hive_partitioning = true) "
        "GROUP BY symbol").fetchall()
    want = lake.sums()
    if {s for s, _, _ in sums} != set(want):
        errs.append("load: symbol set differs")
    for s, q, v in sums:
        wq, wv = want.get(s, (0.0, 0.0))
        if abs(q - wq) > 1e-9 * max(1.0, abs(wq)) or abs(v - wv) > 1e-9 * max(1.0, abs(wv)):
            errs.append(f"load: {s} sums ({q}, {v}) != ({wq}, {wv})")
    return errs


def etl_merge(con, lake_dir, expected, before, after, touched):
    """A merged lake equals the replay, and every partition the batch did
    not touch kept exactly its files."""
    got, n = lake_rows(con, lake_dir)
    errs = same_rows("merge", got, n, expected)

    def untouched(files):
        return {p: v for p, v in files.items() if partition_of(p) not in touched}

    if untouched(before) != untouched(after):
        moved = sorted(set(untouched(before).items()) ^ set(untouched(after).items()))
        errs.append(f"merge: a partition outside the batch was rewritten: {moved[0][0]}")
    return errs


def lake_unchanged(what, before, after):
    """A call that failed must leave every data file as it was."""
    if before != after:
        moved = sorted(set(before.items()) ^ set(after.items()))
        return [f"{what}: the lake changed, e.g. {moved[0][0]}"]
    return []


def batch_partitions(changes):
    return {(c[8], c[9], c[10], c[11]) for c in changes}
