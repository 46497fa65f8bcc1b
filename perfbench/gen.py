"""Seeded input generation for the benchmark.

Writes the ten parquet tables the query registry reads (`Tables.*`) with
the same schemas and value domains as the star-schema test data the
oracle gate uses (FIXTURES.md §B), and a multi-file taxi CSV corpus with
the reference's 17-field TLC schema and every quirk line of
`TaxiDataGen`'s doc. Row counts depend only on the scale, values only
on the seed: two seeds give inputs of the same size and shape.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = np.array(
    "a the data query table row column key value group join scan filter "
    "sort merge hash agg window stream batch spark line order part "
    "customer vector big small fast slow".split())
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
PART_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
ADJ = np.array(["blue", "old", "small", "new", "hot", "large", "cold", "red"])
NOUN = np.array(["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"])
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
LANGS = np.array(["en", "de", "es", "fr", "zh"])
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _days(start, n_days, rng, n):
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, n_days, n)).astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"),
                   compression="snappy")


def tables(out_dir, sf, seed, docs, vecs):
    """The star schema, events, documents and embeddings at scale `sf`."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed % 2**63, 1])
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(15, int(15_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": SEGMENTS[rng.integers(0, 5, n_cust)]})
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(ADJ[rng.integers(0, 8, n_part)], " "),
                              NOUN[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": PART_TYPES[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": 900.0 + (pk % 1000) / 10.0})
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days("1995-01-01", 2404, rng, n_ord),
        "o_orderpriority": PRIORITIES[rng.integers(0, 5, n_ord)]})
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days("1995-01-02", 2499, rng, n_li)})
    month_us = 30 * 86400 * 10**6
    ts = np.sort(rng.integers(0, month_us, n_ev))
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01T00:00:00", "us") + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": EVENT_TYPES[rng.integers(0, 5, n_ev)],
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    # documents: random word sequences; 5% are an earlier doc with one or
    # two " dup" tokens appended (the near-duplicate families the dedup
    # operators look for), and a few are exact copies
    lens = rng.integers(10, 101, docs)
    texts = [" ".join(WORDS[rng.integers(0, len(WORDS), n)]) for n in lens]
    for i in range(1, docs):
        r = rng.random()
        if r < 0.05:
            texts[i] = texts[rng.integers(0, i)] + " dup" * int(rng.integers(1, 3))
        elif r < 0.052:
            texts[i] = texts[rng.integers(0, i)]
    _write(out_dir, "documents", {
        "doc_id": np.arange(docs, dtype=np.int64),
        "text": texts,
        "lang": LANGS[np.minimum(4, np.maximum(0, rng.integers(-3, 5, docs)))],
        "source": [f"src{i % 20}" for i in range(docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    # embeddings: unit vectors around ten weak label centroids
    labels = rng.integers(0, 10, vecs)
    cent = rng.normal(0.0, 0.3, (10, 64))
    v = rng.normal(0.0, 1.0, (vecs, 64)) + cent[labels]
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(vecs, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": labels.astype(np.int32)})


TAXI_HEADER = (
    "VendorID,tpep_pickup_datetime,tpep_dropoff_datetime,passenger_count,"
    "trip_distance,RatecodeID,store_and_fwd_flag,PULocationID,DOLocationID,"
    "payment_type,fare_amount,extra,mta_tax,tip_amount,tolls_amount,"
    "improvement_surcharge,total_amount")
_FULL17 = ["1", "2017-01-01 00:00:00", "2017-01-01 00:30:00", "1", "2.00",
           "1", "N", "1", "1", "1", "8.00", "0.50", "0.50", "1.00", "0.00",
           "0.30", "10.30"]
# every line the accept filter (or the null-speed filter) must drop
TAXI_EDGE_LINES = [
    "",
    ",".join(_FULL17[:16]),
    ",".join(_FULL17 + ["EXTRA"]),
    ",".join(["junk"] + _FULL17[1:]),
    ",".join([_FULL17[0], "not-a-date"] + _FULL17[2:]),
]


def _digits(vals, width):
    """ASCII matrix (n, width) of the zero-padded non-negative integers."""
    vals = np.asarray(vals, dtype=np.int64)
    pow10 = 10 ** np.arange(width - 1, -1, -1, dtype=np.int64)
    return (48 + (vals[:, None] // pow10) % 10).astype(np.uint8)


def _text(s, n):
    return np.tile(np.frombuffer(s.encode(), np.uint8), (n, 1))


def _ts(t):
    """ASCII matrix of `yyyy-MM-dd HH:mm:ss` for datetime64[s] values."""
    u = np.datetime_as_string(t, unit="s").astype("<U19")
    m = u.view(np.uint32).reshape(len(t), 19).astype(np.uint8)
    m[:, 10] = ord(" ")
    return m


def taxi(out_dir, target_bytes, seed, months=12):
    """Monthly TLC-schema CSVs of about `target_bytes` in total.

    Month 12 is header-only. Every other month interleaves the quirk
    lines with data rows: zero-distance and zero-duration trips (both
    dropped) and negative-duration trips (kept). Every data row has the
    same width, so the corpus size depends only on `target_bytes`.
    Returns the corpus bytes.
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed % 2**63, 2])
    row_len = 100
    per_month = max(1, int(target_bytes / row_len / (months - 1)))
    total = 0
    for m in range(1, months + 1):
        path = os.path.join(out_dir, f"yellow_tripdata_2017-{m:02d}.csv")
        with open(path, "wb") as f:
            f.write((TAXI_HEADER + "\n").encode())
            if m != months:
                n = per_month
                start = np.datetime64(f"2017-{m:02d}-01T00:00:00", "s")
                pick = start + rng.integers(0, 28 * 86400, n).astype("timedelta64[s]")
                dur = rng.integers(60, 3660, n)
                kind = rng.random(n)
                dur[kind < 0.01] = 0
                dur[(kind >= 0.01) & (kind < 0.02)] = -600
                cents = rng.integers(100, 1000, n)
                cents[(kind >= 0.02) & (kind < 0.03)] = 0
                fare = rng.integers(1000, 5000, n)
                comma = _text(",", n)
                money = lambda c: [_digits(c // 100, 2), _text(".", n), _digits(c % 100, 2)]
                parts = [
                    _digits(rng.integers(1, 3, n), 1), comma, _ts(pick), comma,
                    _ts(pick + dur.astype("timedelta64[s]")), comma,
                    _digits(rng.integers(1, 5, n), 1), comma,
                    _digits(cents // 100, 1), _text(".", n), _digits(cents % 100, 2),
                    _text(",1,N,", n), _digits(rng.integers(100, 266, n), 3), comma,
                    _digits(rng.integers(100, 266, n), 3), comma,
                    _digits(rng.integers(1, 5, n), 1), comma, *money(fare),
                    _text(",0.50,0.50,1.00,0.00,0.30,", n), *money(fare + 230),
                    _text("\n", n)]
                rows = np.concatenate(parts, axis=1)
                assert rows.shape[1] == row_len, rows.shape
                body = rows.tobytes()
                cut = (n // 2) * row_len
                # quirk lines sit mid-file too, not only at the edges
                f.write((TAXI_EDGE_LINES[0] + "\n").encode() + body[:cut])
                f.write(("\n".join(TAXI_EDGE_LINES[1:]) + "\n").encode())
                f.write(body[cut:])
        total += os.path.getsize(path)
    return total
