"""Seeded input generator for the benchmark.

Writes the testdata schema (the same arrow types and value domains as
the committed sf0.1 fixtures) from a seed, with planted defects so that
the silver zone does real work, plus `manifest.json` holding the exact
silver row counts those defects imply.

Each table is a directory `<table>.parquet/` of FILES_PER_TABLE part
files (nation and region: one), so that Spark scans a table with several
tasks, as it would a table written by Spark. The same seed and scale give
byte-identical files.

    python3 perfbench/gen.py <out_dir> <seed> [scale]
"""
import datetime as dt
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Rows per table at scale 1.0 (= the sf0.1 fixtures).
BASE_ROWS = {
    "customer": 15_000, "supplier": 1_000, "part": 20_000,
    "orders": 150_000, "lineitem": 600_000, "events": 100_000,
    "documents": 5_000, "embeddings": 2_000,
}

# Planted defects, as shares of the clean row count.
DEFECTS = {
    "orders_exact_dup": 0.02,        # full-row copies (silver: dropDuplicates)
    "orders_null_status": 0.01,      # silver fills "pending"
    "customer_null_field": 0.01,     # silver: na.drop()
    "customer_dup_key": 0.01,        # same key, re-drawn values
    "part_dup_key": 0.01,
    "supplier_dup_key": 0.01,
    "events_dup_key": 0.01,
    "events_null_value": 0.01,       # silver fills 0.0
    "lineitem_nonpositive": 0.005,   # price <= 0 or quantity <= 0
}
NEAR_DUP_SHARE = 0.10   # documents that are word-level edits of another
EXACT_COPY_SHARE = 0.01  # documents that copy another verbatim
# Part files per generated table: a fixed number, so the inputs do not
# depend on the machine's core count.
FILES_PER_TABLE = 4
EMBED_DIM = 64
EMBED_LABELS = 10

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.15, 0.40, 0.15, 0.15, 0.15]
WORDS = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

EPOCH = dt.datetime(1970, 1, 1)
# A column `NULL_MASK + c` marks the rows written as NULL in column `c`.
NULL_MASK = "__null_"


def _us(d: dt.datetime) -> int:
    return (d - EPOCH) // dt.timedelta(microseconds=1)


DAY_US = 86_400_000_000
ORDER_DAYS = (_us(dt.datetime(1995, 1, 1)) // DAY_US,
              _us(dt.datetime(2001, 8, 1)) // DAY_US)
SHIP_DAYS = (_us(dt.datetime(1995, 1, 2)) // DAY_US,
             _us(dt.datetime(2001, 11, 4)) // DAY_US)
EVENT_US = (_us(dt.datetime(2024, 1, 1)), _us(dt.datetime(2024, 1, 31)))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def _rows(scale: float) -> dict:
    return {t: max(1, int(round(n * scale))) for t, n in BASE_ROWS.items()}


def _count(share: float, n: int) -> int:
    return max(1, int(round(share * n)))


def _dup_keys(rng, table: dict, key: str, share: float, redraw) -> dict:
    """Append rows that reuse existing keys with freshly drawn values."""
    n = len(table[key])
    idx = rng.choice(n, _count(share, n), replace=False)
    extra = redraw(len(idx))
    extra[key] = table[key][idx]
    return {c: np.concatenate([table[c], extra[c]]) for c in table}


def _shuffle(rng, table: dict) -> dict:
    perm = rng.permutation(len(next(iter(table.values()))))
    return {c: v[perm] for c, v in table.items()}


def customers(rng, n):
    def draw(m):
        return {
            "c_custkey": np.zeros(m, np.int64),
            "c_name": None,
            "c_nationkey": rng.integers(0, 25, m).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, m),
            "c_mktsegment": _pick(rng, SEGMENTS, m),
        }
    t = draw(n)
    t["c_custkey"] = np.arange(n, dtype=np.int64)
    t["c_name"] = np.array([f"Customer#{k:09d}" for k in range(n)], object)

    def redraw(m):
        d = draw(m)
        d["c_name"] = np.array(
            [f"Customer#{k:09d}" for k in rng.integers(0, n, m)], object)
        return d
    t = _dup_keys(rng, t, "c_custkey", DEFECTS["customer_dup_key"], redraw)
    # one null field per defective row, carried as a NULL_MASK column
    m = len(t["c_custkey"])
    bad = rng.choice(m, _count(DEFECTS["customer_null_field"], n), replace=False)
    which = rng.integers(0, 4, len(bad))
    for w, col in enumerate(("c_name", "c_nationkey", "c_acctbal",
                             "c_mktsegment")):
        mask = np.zeros(m, bool)
        mask[bad[which == w]] = True
        t[NULL_MASK + col] = mask
    return t


def simple_dims(rng, rows):
    s = rows["supplier"]
    sup = {
        "s_suppkey": np.arange(s, dtype=np.int64),
        "s_name": np.array([f"Supplier#{k:09d}" for k in range(s)], object),
        "s_nationkey": rng.integers(0, 25, s).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, s),
    }
    sup = _dup_keys(rng, sup, "s_suppkey", DEFECTS["supplier_dup_key"],
                    lambda m: {
                        "s_suppkey": None,
                        "s_name": np.array([f"Supplier#{k:09d}" for k in
                                            rng.integers(0, s, m)], object),
                        "s_nationkey": rng.integers(0, 25, m).astype(np.int32),
                        "s_acctbal": _money(rng, -999.99, 9999.99, m)})

    p = rows["part"]

    def part_draw(m, keys):
        return {
            "p_partkey": keys,
            "p_name": np.array([f"{a} {b}" for a, b in zip(
                _pick(rng, PART_ADJ, m), _pick(rng, PART_NOUN, m))], object),
            "p_brand": np.array(
                [f"Brand#{b}" for b in rng.integers(1, 26, m)], object),
            "p_type": _pick(rng, PART_TYPES, m),
            "p_size": rng.integers(1, 51, m).astype(np.int32),
            "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2),
        }
    part = part_draw(p, np.arange(p, dtype=np.int64))
    part = _dup_keys(rng, part, "p_partkey", DEFECTS["part_dup_key"],
                     lambda m: part_draw(m, rng.integers(0, p, m)))
    return sup, part


def orders_and_lines(rng, rows):
    n, c = rows["orders"], rows["customer"]
    days = rng.integers(ORDER_DAYS[0], ORDER_DAYS[1] + 1, n)
    orders = {
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, c, n).astype(np.int64),
        "o_orderstatus": _pick(rng, STATUSES, n),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": days * DAY_US,
        "o_orderpriority": _pick(rng, PRIORITIES, n),
    }
    null_status = np.zeros(n, bool)
    null_status[rng.choice(n, _count(DEFECTS["orders_null_status"], n),
                           replace=False)] = True
    orders[NULL_MASK + "o_orderstatus"] = null_status
    dup = rng.choice(n, _count(DEFECTS["orders_exact_dup"], n), replace=False)
    orders = {k: np.concatenate([v, v[dup]]) for k, v in orders.items()}

    m = rows["lineitem"]
    li = {
        "l_orderkey": rng.integers(0, n, m).astype(np.int64),
        "l_partkey": rng.integers(0, rows["part"], m).astype(np.int64),
        "l_suppkey": rng.integers(0, rows["supplier"], m).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, m).astype(np.int32),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, m),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], m),
        "l_linestatus": _pick(rng, ["F", "O"], m),
        "l_shipdate": rng.integers(SHIP_DAYS[0], SHIP_DAYS[1] + 1, m) * DAY_US,
    }
    bad = rng.choice(m, _count(DEFECTS["lineitem_nonpositive"], m),
                     replace=False)
    half = len(bad) // 2
    li["l_extendedprice"][bad[:half]] = -np.round(
        rng.uniform(0.0, 100.0, half), 2)
    li["l_quantity"][bad[half:]] = 0.0
    return orders, li


def events(rng, n):
    ts = np.sort(rng.integers(EVENT_US[0], EVENT_US[1], n))

    def draw(m, t):
        return {
            "event_id": None,
            "ts": t,
            "user_id": rng.integers(0, 1500, m).astype(np.int64),
            "event_type": _pick(rng, EVENT_TYPES, m),
            "value": np.round(rng.exponential(50.0, m), 2),
            "props": np.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, m)], object),
        }
    ev = draw(n, ts)
    ev["event_id"] = np.arange(n, dtype=np.int64)
    ev = _dup_keys(rng, ev, "event_id", DEFECTS["events_dup_key"],
                   lambda m: draw(m, rng.integers(EVENT_US[0], EVENT_US[1], m)))
    null_value = np.zeros(len(ev["event_id"]), bool)
    null_value[rng.choice(len(null_value),
                          _count(DEFECTS["events_null_value"], n),
                          replace=False)] = True
    ev[NULL_MASK + "value"] = null_value
    return ev


def _edit(rng, words):
    """One to three word-level substitutions, insertions or deletions."""
    w = list(words)
    for _ in range(rng.integers(1, 4)):
        op, at = rng.integers(0, 3), rng.integers(0, len(w))
        if op == 0:
            w[at] = WORDS[rng.integers(0, len(WORDS))]
        elif op == 1:
            w.insert(at, WORDS[rng.integers(0, len(WORDS))])
        elif len(w) > 10:
            del w[at]
    return w


def documents(rng, n):
    n_near = int(round(NEAR_DUP_SHARE * n))
    n_copy = int(round(EXACT_COPY_SHARE * n))
    n_orig = n - n_near - n_copy
    texts = [[WORDS[i] for i in rng.integers(0, len(WORDS), rng.integers(10, 101))]
             for _ in range(n_orig)]
    texts += [_edit(rng, texts[rng.integers(0, n_orig)]) for _ in range(n_near)]
    texts += [list(texts[rng.integers(0, n_orig)]) for _ in range(n_copy)]
    order = rng.permutation(n)
    text = np.array([" ".join(texts[i]) for i in order], object)
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": text,
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": np.array([f"src{i % 20}" for i in range(n)], object),
        "n_chars": np.array([len(s) for s in text], np.int64),
    }


def embeddings(rng, n):
    centroids = rng.normal(0.0, 1.0, (EMBED_LABELS, EMBED_DIM))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    label = rng.integers(0, EMBED_LABELS, n)
    v = centroids[label] + rng.normal(0.0, 1.0 / np.sqrt(EMBED_DIM),
                                      (n, EMBED_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": v,
        "label": label.astype(np.int32),
    }


SCHEMAS = {
    "region": [("r_regionkey", pa.int32()), ("r_name", pa.string())],
    "nation": [("n_nationkey", pa.int32()), ("n_name", pa.string()),
               ("n_regionkey", pa.int32())],
    "customer": [("c_custkey", pa.int64()), ("c_name", pa.string()),
                 ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                 ("c_mktsegment", pa.string())],
    "supplier": [("s_suppkey", pa.int64()), ("s_name", pa.string()),
                 ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())],
    "part": [("p_partkey", pa.int64()), ("p_name", pa.string()),
             ("p_brand", pa.string()), ("p_type", pa.string()),
             ("p_size", pa.int32()), ("p_retailprice", pa.float64())],
    "orders": [("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
               ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
               ("o_orderdate", pa.timestamp("us")),
               ("o_orderpriority", pa.string())],
    "lineitem": [("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
                 ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
                 ("l_quantity", pa.float64()),
                 ("l_extendedprice", pa.float64()),
                 ("l_discount", pa.float64()), ("l_tax", pa.float64()),
                 ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
                 ("l_shipdate", pa.timestamp("us"))],
    "events": [("event_id", pa.int64()), ("ts", pa.timestamp("us")),
               ("user_id", pa.int64()), ("event_type", pa.string()),
               ("value", pa.float64()), ("props", pa.string())],
    "documents": [("doc_id", pa.int64()), ("text", pa.string()),
                  ("lang", pa.string()), ("source", pa.string()),
                  ("n_chars", pa.int64())],
    "embeddings": [("vec_id", pa.int64()),
                   ("embedding", pa.list_(pa.float32())),
                   ("label", pa.int32())],
}


def _write(out_dir, name, cols, files=FILES_PER_TABLE):
    arrays = []
    for field, typ in SCHEMAS[name]:
        v, mask = cols[field], cols.get(NULL_MASK + field)
        if typ == pa.list_(pa.float32()):
            arrays.append(pa.FixedSizeListArray.from_arrays(
                pa.array(v.reshape(-1)), v.shape[1]).cast(typ))
        else:
            arrays.append(pa.array(v, type=typ, mask=mask))
    table = pa.Table.from_arrays(arrays, names=[f for f, _ in SCHEMAS[name]])
    d = os.path.join(out_dir, f"{name}.parquet")
    os.makedirs(d)
    bounds = np.linspace(0, table.num_rows, files + 1).astype(int)
    for i in range(files):
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]),
                       os.path.join(d, f"part-{i:05d}.parquet"),
                       compression="snappy")
    return table.num_rows


def _bytes(out_dir, name):
    d = os.path.join(out_dir, f"{name}.parquet")
    return sum(os.path.getsize(os.path.join(d, f)) for f in os.listdir(d))


def generate(out_dir: str, seed: int, scale: float) -> dict:
    """Write every table to `out_dir`; return the manifest."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.Generator(np.random.PCG64(seed))
    rows = _rows(scale)
    written = {}
    written["region"] = _write(out_dir, "region", {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": np.array(REGIONS, object)}, files=1)
    written["nation"] = _write(out_dir, "nation", {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": np.array([f"NATION_{i}" for i in range(25)], object),
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)}, files=1)

    cust = _shuffle(rng, customers(rng, rows["customer"]))
    written["customer"] = _write(out_dir, "customer", cust)
    sup, part = simple_dims(rng, rows)
    sup, part = _shuffle(rng, sup), _shuffle(rng, part)
    written["supplier"] = _write(out_dir, "supplier", sup)
    written["part"] = _write(out_dir, "part", part)
    orders, li = orders_and_lines(rng, rows)
    written["orders"] = _write(out_dir, "orders", _shuffle(rng, orders))
    written["lineitem"] = _write(out_dir, "lineitem", li)
    written["events"] = _write(out_dir, "events",
                               _shuffle(rng, events(rng, rows["events"])))
    written["documents"] = _write(out_dir, "documents",
                                  documents(rng, rows["documents"]))
    written["embeddings"] = _write(out_dir, "embeddings",
                                   embeddings(rng, rows["embeddings"]))

    cust_ok = ~np.any([v for c, v in cust.items()
                       if c.startswith(NULL_MASK)], axis=0)
    lineitem_kept = int(np.sum((li["l_extendedprice"] > 0) & (li["l_tax"] >= 0)
                               & (li["l_quantity"] > 0)))
    manifest = {
        "seed": seed,
        "scale": scale,
        "rows": written,
        "bytes": {t: _bytes(out_dir, t) for t in written},
        "silver_rows": {
            "orders": rows["orders"],
            "customer": int(len(np.unique(cust["c_custkey"][cust_ok]))),
            "lineitem": lineitem_kept,
            "part": rows["part"],
            "supplier": rows["supplier"],
            "events": rows["events"],
        },
    }
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]),
             float(sys.argv[3]) if len(sys.argv) > 3 else 1.0)
