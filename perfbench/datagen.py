"""Seeded input generators for the two workloads.

Everything here is a pure function of the seed: the same seed writes the
same bytes. The tallies a generator returns are the independent answer
key the checks compare the program's output against.
"""
import calendar
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- analytics: `events`, `documents` and `embeddings` -------------------
#
# Same schemas, row counts and value shapes as the sf0.01 test tables
# of TESTDATA.md (see the README's parity table): only the values differ,
# and they come from the seed.

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
EVENTS_ROWS = 10_000
EVENT_USERS = 150
EVENT_DAYS = 30


def write_events(path, seed, n=EVENTS_ROWS):
    """`events`: ids in time order over the first 30 days of January 2024,
    150 users, five event types, exponential prices with mean 50 and two
    decimals (at least 0.01), quantities in `props` as {"k": n}."""
    rng = np.random.default_rng([seed, 1])
    start = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
    ts = np.sort(rng.integers(start, start + EVENT_DAYS * 86_400 * 1_000_000, n))
    value = np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01)
    table = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, EVENT_USERS, n), type=pa.int64()),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(value),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })
    pq.write_table(table, path)


VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
DOCS_ROWS = 500
DOC_WORDS = (10, 100)
DUP_SHARE = 0.05
SOURCES = 20
EMB_ROWS = 500
EMB_DIM = 64
EMB_LABELS = 10


def write_documents(path, seed, n=DOCS_ROWS):
    """Bag-of-words documents of 10-99 words over a 30-word vocabulary.
    A 5% share are near copies: another document's text with the word
    `dup` appended, so the dedup ops have pairs to find but no two texts
    are equal."""
    rng = np.random.default_rng([seed, 2])
    texts = [" ".join(np.array(VOCAB)[rng.integers(0, len(VOCAB), rng.integers(*DOC_WORDS))])
             for _ in range(n)]
    m = int(n * DUP_SHARE)
    picks = rng.choice(n, 2 * m, replace=False)
    for i, j in zip(picks[:m], picks[m:]):
        texts[i] = texts[j] + " dup"
    table = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.integers(0, len(LANGS), n)]),
        "source": pa.array([f"src{i % SOURCES}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })
    pq.write_table(table, path)


def write_embeddings(path, seed, n=EMB_ROWS, dim=EMB_DIM):
    """Unit-norm float32 vectors drawn uniformly on the sphere, each with
    one of ten labels that carries no geometry."""
    rng = np.random.default_rng([seed, 3])
    x = rng.normal(0, 1, (n, dim))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    table = pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, EMB_LABELS, n).astype(np.int32)),
    })
    pq.write_table(table, path)
    return x


# --- etl_ingest: the Binance trades CSV lake and its change batches -------

# Letter-only symbols: the program's path parser reads `symbol=([A-Z]+)/`.
SYMBOLS = ["BTCUSDT", "ETHUSDT", "SOLUSDT"]
# February of a non-leap and of a leap year; trades on every fourth day,
# which includes 29 February 2024: 3 symbols x 15 days = 45
# (year, month, day, symbol) partitions.
MONTHS = [(2023, 2), (2024, 2)]
DAY_STEP = 4
# Partition sizes run evenly from 100 to 299 rows and only their order
# comes from the seed, so every seed loads the same number of rows; as
# does the fixed number of planted rejects per rule.
ROWS_PER_PARTITION = (100, 299)
REJECTS_PER_RULE = 10
# One dated day per month that the calendar rule must reject when a row
# stamped on it sits under that month's path.
_INVALID_DAY = {(2023, 2): (2023, 1, 29), (2024, 2): (2024, 1, 30)}
REJECT_RULES = ("null_price", "nonpositive_quantity", "invalid_day")
NARROW_PARTITIONS = 6
# The wide batch inserts one row into every day of four months for six
# symbols, a superset of the lake's partitions: 6 x 118 = 708
# partitions, far past the few hundred at which the merge's partition
# predicate overflows the stack.
WIDE_SYMBOLS = SYMBOLS + ["ADAUSDT", "BNBUSDT", "XRPUSDT"]
WIDE_MONTHS = MONTHS + [(2024, 3), (2024, 4)]
WIDE_BASE_ID = 9_000_000_000


def partitions(months=MONTHS, symbols=SYMBOLS, step=DAY_STEP):
    """Every (year, month, day, symbol) partition of the lake, in order."""
    return [(y, m, d, s) for (y, m) in months
            for d in range(1, calendar.monthrange(y, m)[1] + 1, step) for s in symbols]


def _ms(y, m, d):
    return int(dt.datetime(y, m, d, tzinfo=dt.timezone.utc).timestamp()) * 1000


def _fmt(x):
    return repr(float(x))


class TradesLake:
    """The CSV lake plus its answer key.

    `rows` maps trade_id -> the stored row as the checks read it back:
    (trade_id, time_us, price, quantity, quote_qty, is_buyer_maker,
    is_best_match, load_dt, year, month, day, symbol).
    """

    def __init__(self):
        self.rows = {}
        self.per_partition = {}
        self.planted = {rule: [] for rule in REJECT_RULES}
        self.csv_rows = 0
        self.files = {}  # (symbol, year, month) -> list of csv lines

    def sums(self):
        """Per-symbol (sum quantity, sum quote_qty) over stored rows."""
        out = {}
        for r in self.rows.values():
            q, v = out.get(r[11], (0.0, 0.0))
            out[r[11]] = (q + r[3], v + r[4])
        return out


def build_trades_lake(seed):
    """Generates the trades lake in memory (see `write_trades_lake`)."""
    rng = np.random.default_rng([seed, 4])
    lake = TradesLake()
    next_id = 1
    parts = partitions()
    lo, hi = ROWS_PER_PARTITION
    sizes = rng.permutation(lo + np.arange(len(parts)) * (hi - lo) // (len(parts) - 1))
    for (y, m, d, s), n in zip(parts, sizes):
        n = int(n)
        lake.per_partition[(y, m, d, s)] = n
        day0 = _ms(y, m, d)
        times = np.sort(rng.integers(day0, day0 + 86_400_000, n))
        prices = np.round(rng.lognormal(4.0, 1.0, n), 2) + 0.01
        qtys = np.round(rng.uniform(0.001, 5.0, n), 3)
        makers = rng.integers(0, 2, n)
        lines = lake.files.setdefault((s, y, m), [])
        for t, p, q, mk in zip(times, prices, qtys, makers):
            qq = round(float(p) * float(q), 6)
            p, q = float(_fmt(p)), float(_fmt(q))
            lines.append(f"{next_id},{_fmt(p)},{_fmt(q)},{_fmt(qq)},{int(t)},"
                         f"{'True' if mk else 'False'},True")
            lake.rows[next_id] = (next_id, int(t) * 1000, p, q, qq, bool(mk), True,
                                  dt.date(y, m, d).isoformat(), y, m, d, s)
            next_id += 1
    # planted rejects: each row fails exactly one DQ rule
    keys = sorted(lake.files)
    for rule in REJECT_RULES:
        for _ in range(REJECTS_PER_RULE):
            if rule == "invalid_day":
                (y, m) = list(_INVALID_DAY)[int(rng.integers(0, len(_INVALID_DAY)))]
                s = SYMBOLS[int(rng.integers(0, len(SYMBOLS)))]
                t = _ms(*_INVALID_DAY[(y, m)]) + int(rng.integers(0, 86_400_000))
                line = f"{next_id},12.5,1.5,18.75,{t},True,True"
            else:
                s, y, m = keys[int(rng.integers(0, len(keys)))]
                t = _ms(y, m, 1) + int(rng.integers(0, 86_400_000))
                line = (f"{next_id},,1.5,18.75,{t},False,True" if rule == "null_price"
                        else f"{next_id},12.5,{_fmt(-rng.integers(0, 3))},0.0,{t},False,True")
            lines = lake.files[(s, y, m)]
            lines.insert(int(rng.integers(0, len(lines) + 1)), line)
            lake.planted[rule].append(next_id)
            next_id += 1
    lake.csv_rows = sum(len(v) for v in lake.files.values())
    return lake


def write_trades_lake(root, seed):
    """Writes `symbol=S/year=Y/month=MM/S-trades-Y-MM.csv` files, header-less
    as Binance publishes them, and returns the TradesLake answer key."""
    lake = build_trades_lake(seed)
    for (s, y, m), lines in lake.files.items():
        d = os.path.join(root, f"symbol={s}", f"year={y}", f"month={m:02d}")
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, f"{s}-trades-{y}-{m:02d}.csv"), "w") as f:
            f.write("\n".join(lines) + "\n")
    return lake


def narrow_batch(lake, seed):
    """A seeded change batch over NARROW_PARTITIONS partitions: per
    partition two updates (one of them superseded by a later seq), one
    delete and one insert. Returns the change rows: a stored-row tuple
    (see TradesLake) followed by op and seq."""
    rng = np.random.default_rng([seed, 5])
    by_part = {}
    for r in lake.rows.values():
        by_part.setdefault((r[8], r[9], r[10], r[11]), []).append(r)
    parts = sorted(by_part)
    chosen = [parts[i] for i in sorted(rng.choice(len(parts), NARROW_PARTITIONS, replace=False))]
    next_id = max(max(lake.rows), max(i for v in lake.planted.values() for i in v)) + 1
    changes, seq = [], 1
    for p in chosen:
        rows = sorted(by_part[p])
        picks = rng.choice(len(rows), 3, replace=False)
        for j, i in enumerate(picks[:2]):
            r = rows[i]
            if j == 0:  # an update that a later change to the same key supersedes
                changes.append(r[:2] + (r[2] + 1.0,) + r[3:] + ("U", seq))
                seq += 1
            price = round(r[2] * 1.01, 2)
            changes.append(r[:2] + (price, r[3], round(price * r[3], 6)) + r[5:] + ("U", seq))
            seq += 1
        changes.append(rows[picks[2]] + ("D", seq))
        seq += 1
        t = rows[0][1] + 1000
        changes.append((next_id, t, 99.5, 2.0, 199.0, False, True) + rows[0][7:] + ("I", seq))
        next_id += 1
        seq += 1
    order = rng.permutation(len(changes))
    return [changes[i] for i in order]


def wide_batch():
    """One insert into each of WIDE_SYMBOLS x WIDE_MONTHS's partitions,
    which cover every lake partition. Independent of the seed: whether
    it succeeds depends only on the partition count."""
    out = []
    for i, (y, m, d, s) in enumerate(partitions(WIDE_MONTHS, WIDE_SYMBOLS, 1)):
        t = _ms(y, m, d) * 1000 + 3_600_000_000
        out.append((WIDE_BASE_ID + i, t, 10.0, 1.0, 10.0, True, True,
                    dt.date(y, m, d).isoformat(), y, m, d, s, "I", i + 1))
    return out


def replay(rows, changes):
    """Latest-wins replay of a change batch over {trade_id: row}."""
    latest = {}
    for c in changes:
        if c[0] not in latest or c[13] > latest[c[0]][13]:
            latest[c[0]] = c
    out = dict(rows)
    for k, c in latest.items():
        if c[12] == "D":
            out.pop(k, None)
        else:
            out[k] = c[:12]
    return out


def write_changes(path, changes):
    """Writes a change batch as Parquet with the lake's column types."""
    cols = list(zip(*changes))
    table = pa.table({
        "trade_id": pa.array(cols[0], type=pa.int64()),
        "trade_time": pa.array(cols[1], type=pa.timestamp("us")),
        "price": pa.array(cols[2], type=pa.float64()),
        "quantity": pa.array(cols[3], type=pa.float64()),
        "quote_qty": pa.array(cols[4], type=pa.float64()),
        "is_buyer_maker": pa.array(cols[5], type=pa.bool_()),
        "is_best_match": pa.array(cols[6], type=pa.bool_()),
        "load_dt": pa.array([dt.date.fromisoformat(x) for x in cols[7]], type=pa.date32()),
        "year": pa.array(cols[8], type=pa.int32()),
        "month": pa.array(cols[9], type=pa.int32()),
        "day": pa.array(cols[10], type=pa.int32()),
        "symbol": pa.array(cols[11], type=pa.string()),
        "op": pa.array(cols[12], type=pa.string()),
        "seq": pa.array(cols[13], type=pa.int64()),
    })
    pq.write_table(table, path)
