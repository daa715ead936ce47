"""Seeded input generators for the three benchmark workloads.

Everything here is pure numpy/pandas/pyarrow driven by one
``numpy.random.Generator`` per call, so the same seed writes the same
bytes-for-bytes inputs and the pandas-side expectations in the
workload checks are computed from the very frames written here.
"""

from __future__ import annotations

import datetime as dt
import os
from decimal import Decimal

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------
# daily_load: listings-shaped raw feed + dimension tables
# ---------------------------------------------------------------------

MLS = [f"MLS{i}" for i in range(5)]
STATES = [("CO", "Colorado"), ("TX", "Texas"), ("CA", "California")]
ZIPS = {"CO": ["80001", "80002", "80003"], "TX": ["75001", "75002"], "CA": ["90001", "90002"]}
SUB_TYPES = ["House", "Condo", "Townhouse"]
PROPERTY_TYPES = ["SF", "CO", "TH", "MF"]
STATUSES = ["A", "U", "S", "X"]
DAY0 = dt.datetime(2024, 1, 1)

RAW_SCHEMA = pa.schema(
    [
        ("mls", pa.string()),
        ("mls_listing_id", pa.string()),
        ("source_as_of_date", pa.timestamp("us", tz="UTC")),
        ("listing_date", pa.date32()),
        ("entry_date", pa.date32()),
        ("listing_status", pa.string()),
        ("current_price", pa.decimal128(16, 4)),
        ("closed_price", pa.decimal128(16, 4)),
        ("rent_sale", pa.string()),
        ("property_type", pa.string()),
        ("property_sub_type", pa.string()),
        ("state_raw", pa.string()),
        ("zip_raw", pa.string()),
        ("street_address_raw", pa.string()),
        ("source_listing_id", pa.string()),
        ("owner_phone", pa.string()),
        ("create_timestamp", pa.timestamp("us", tz="UTC")),
        ("asg_primary_id", pa.int64()),
        ("asg_primary_id_queried_ts", pa.timestamp("us", tz="UTC")),
    ]
)


def load_date(day: int) -> str:
    return (DAY0 + dt.timedelta(days=day)).strftime("%Y%m%d")


def listings_days(seed: int, days: int, rows_per_day: int) -> list[pd.DataFrame]:
    """One raw batch per day. Each batch mixes four row kinds, kept
    in the ``kind`` column (dropped before writing):

    - ``new``: a key never seen before;
    - ``upd``: a newer observation of a key loaded on an earlier day;
    - ``dup``: a second, older observation of a key already in the
      same batch (it loses the latest-record pick: the outdated
      channel);
    - ``rej``: a row failing validation (bad status or bad state).

    Every observation of a key has a distinct ``source_as_of_date``
    and a distinct price, so each one is a history change.

    The shares (5% rejects, 10% duplicates, up to 40% of the rest
    updates) are assumptions, not measured from a real feed; the
    README lists each one and what it stands in for.
    """
    rng = np.random.default_rng([seed, 1])
    n_rej = rows_per_day // 20
    n_dup = rows_per_day // 10
    next_id = 0
    live: list[int] = []
    version: dict[int, int] = {}
    out = []
    for day in range(days):
        n_main = rows_per_day - n_rej - n_dup
        n_upd = 0 if day == 0 else min(len(live), n_main * 2 // 5)
        n_new = n_main - n_upd
        upd = rng.choice(np.asarray(live, dtype=np.int64), size=n_upd, replace=False) if n_upd else np.zeros(0, np.int64)
        new = np.arange(next_id, next_id + n_new, dtype=np.int64)
        next_id += n_new
        main_ids = np.concatenate([new, upd])
        dup_ids = rng.choice(main_ids, size=n_dup, replace=False)
        rej_ids = np.arange(next_id, next_id + n_rej, dtype=np.int64)
        next_id += n_rej
        ids = np.concatenate([main_ids, dup_ids, rej_ids])
        kind = np.array(["new"] * n_new + ["upd"] * n_upd + ["dup"] * n_dup + ["rej"] * n_rej)
        n = len(ids)
        # the main row of a key sits in the upper half of the day, its
        # duplicate in the lower half, so the duplicate is older
        sec = rng.integers(0, 43_200, size=n)
        sec = np.where(kind == "dup", sec, sec + 43_200)
        as_of = np.datetime64(DAY0 + dt.timedelta(days=day)) + sec.astype("timedelta64[s]")
        # price: distinct per observation of a key (version counter in
        # the low digits, main vs duplicate in the last one)
        ver = np.array([version.get(int(i), 0) for i in ids])
        for i in main_ids:
            version[int(i)] = version.get(int(i), 0) + 1
        base = 50_000 + (ids * 7919) % 900_000
        price_units = base * 1000 + ver * 10 + (kind == "dup")
        status = rng.choice(STATUSES, size=n)
        state_idx = rng.integers(0, len(STATES), size=n)
        state = np.array([STATES[i][0] for i in state_idx], dtype=object)
        zipc = np.array([ZIPS[s][int(z) % len(ZIPS[s])] for s, z in zip(state, rng.integers(0, 6, size=n))], dtype=object)
        rej = kind == "rej"
        bad_state = rej & (rng.random(n) < 0.5)
        status = np.where(rej & ~bad_state, "Z", status)
        state = np.where(bad_state, "ZZ", state)
        listing_day = rng.integers(0, 365, size=n)
        df = pd.DataFrame(
            {
                "mls": [MLS[i % len(MLS)] for i in ids],
                "mls_listing_id": [f"L{i:08d}" for i in ids],
                "source_as_of_date": as_of,
                "listing_date": [dt.date(2023, 1, 1) + dt.timedelta(days=int(d)) for d in listing_day],
                "entry_date": [dt.date(2023, 1, 1) + dt.timedelta(days=int(d) // 2) for d in listing_day],
                "listing_status": status,
                "current_price": [Decimal(int(p)).scaleb(-3).quantize(Decimal("0.0001")) for p in price_units],
                "closed_price": [
                    Decimal(int(p)).scaleb(-3).quantize(Decimal("0.0001")) if s == "S" else None
                    for p, s in zip(price_units, status)
                ],
                "rent_sale": rng.choice(["Sale", "Rental"], size=n),
                "property_type": rng.choice(PROPERTY_TYPES, size=n),
                "property_sub_type": rng.choice(SUB_TYPES, size=n),
                "state_raw": state,
                "zip_raw": zipc,
                "street_address_raw": [f"{int(a)} Main St" for a in rng.integers(1, 9999, size=n)],
                "source_listing_id": [f"S{i}" for i in ids],
                "owner_phone": [f"(303) 555-{int(p):04d}" for p in rng.integers(0, 9999, size=n)],
                "create_timestamp": as_of,
                "asg_primary_id": pd.array([None] * n, dtype="Int64"),
                "asg_primary_id_queried_ts": pd.Series([pd.NaT] * n, dtype="datetime64[us]"),
                "kind": kind,
            }
        )
        df["load_date"] = load_date(day)
        live.extend(int(i) for i in new)
        out.append(df.sample(frac=1.0, random_state=int(rng.integers(1 << 31))).reset_index(drop=True))
    return out


def write_listings(root: str, batches: list[pd.DataFrame]) -> None:
    """Raw feed as hive-partitioned parquet (``load_date=YYYYMMDD``)
    plus the four dimension tables the CLI reads from ``dims/``."""
    for df in batches:
        part = os.path.join(root, "raw", f"load_date={df['load_date'][0]}")
        os.makedirs(part, exist_ok=True)
        table = pa.Table.from_pandas(df.drop(columns=["kind", "load_date"]), schema=RAW_SCHEMA, preserve_index=False)
        pq.write_table(table, os.path.join(part, "part-0.parquet"))
    dims = os.path.join(root, "dims")
    os.makedirs(dims, exist_ok=True)
    tables = {
        "boards": pa.table({"mls": MLS, "movedto": pa.array([None] * len(MLS), pa.string())}),
        "states": pa.table({"state": [s for s, _ in STATES], "name": [n for _, n in STATES]}),
        "zipcodes": pa.table(
            {
                "zipcode": [z for s in ZIPS for z in ZIPS[s]],
                "state": [s for s in ZIPS for _ in ZIPS[s]],
            }
        ),
        "property_sub_types": pa.table({"property_sub_type": SUB_TYPES}),
    }
    for name, t in tables.items():
        os.makedirs(os.path.join(dims, f"{name}.parquet"), exist_ok=True)
        pq.write_table(t, os.path.join(dims, f"{name}.parquet", "part-0.parquet"))


# ---------------------------------------------------------------------
# registry_mix: TPC-H-shaped star schema + events/documents/embeddings
# ---------------------------------------------------------------------

REGISTRY_TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]  # fmt: skip
WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]


def _ts_days(rng, start: dt.date, span_days: int, n: int) -> np.ndarray:
    days = rng.integers(0, span_days, size=n)
    return (np.datetime64(start) + days.astype("timedelta64[D]")).astype("datetime64[us]")


def registry_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten tables the registry queries read, shaped like the
    repository's ``sf*`` test datasets (same columns, types and value domains;
    row counts scale with ``sf``)."""
    rng = np.random.default_rng([seed, 2])
    n_cust, n_part, n_supp = int(150_000 * sf), int(200_000 * sf), max(10, int(10_000 * sf))
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_users = int(1_000_000 * sf), max(20, int(15_000 * sf))
    n_docs, n_emb = max(100, int(50_000 * sf)), min(2000, max(100, int(50_000 * sf)))
    i32 = pa.int32()
    t = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
        }
    )
    adj = ["small", "red", "blue", "hot", "old", "large", "green", "cold"]
    noun = ["ring", "widget", "bolt", "gear", "rod", "plate", "nut", "pipe"]
    t["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{adj[a]} {noun[b]}" for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(["ECONOMY", "SMALL", "MEDIUM", "LARGE", "STANDARD", "PROMO"], n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
            "o_orderdate": _ts_days(rng, dt.date(1995, 1, 1), 2404, n_ord),
            "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
        }
    )
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["R", "A", "N"], n_line),
            "l_linestatus": rng.choice(["O", "F"], n_line),
            "l_shipdate": _ts_days(rng, dt.date(1995, 1, 2), 2498, n_line),
        }
    )
    ts = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_ev))
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": np.datetime64("2024-01-01T00:00:00", "us") + ts.astype("timedelta64[us]"),
            "user_id": rng.integers(0, n_users, n_ev),
            "event_type": rng.choice(EVENT_TYPES, n_ev, p=[0.4, 0.3, 0.1, 0.1, 0.1]),
            "value": np.round(np.minimum(rng.exponential(20.0, n_ev) + 0.01, 490.02), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            # planted near-duplicate of an earlier document
            src = texts[int(rng.integers(0, i))].split()
            src[int(rng.integers(0, len(src)))] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(src + ["dup"]))
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(8, 90)))))
    t["documents"] = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, n_docs, p=[0.44, 0.14, 0.14, 0.14, 0.14]),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
        }
    )
    centers = rng.normal(0.0, 0.12, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = (centers[labels] + rng.normal(0.0, 0.08, (n_emb, 64))).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, i32),
        }
    )
    return t


def write_registry(root: str, tables: dict[str, pa.Table]) -> None:
    os.makedirs(root, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(root, f"{name}.parquet"))


# ---------------------------------------------------------------------
# delta_dml: listings-shaped rows and the DML op sequence
# ---------------------------------------------------------------------

DML_COLUMNS = ["k", "mls", "mls_listing_id", "listing_status", "current_price", "rev"]


def dml_base(seed: int, n_rows: int) -> pd.DataFrame:
    rng = np.random.default_rng([seed, 3])
    k = np.arange(n_rows, dtype=np.int64)
    return pd.DataFrame(
        {
            "k": k,
            "mls": [MLS[i % len(MLS)] for i in k],
            "mls_listing_id": [f"L{i:08d}" for i in k],
            "listing_status": rng.choice(STATUSES, n_rows),
            "current_price": rng.integers(50_000, 900_000, n_rows).astype(np.int64) * 100,
            "rev": np.zeros(n_rows, dtype=np.int64),
        }
    )


def dml_rounds(seed: int, n_rows: int, rounds: int, batch: int) -> list[dict]:
    """Per round: a MERGE source (half updates of existing keys, half
    new keys) and the residues the DELETE and UPDATE predicates
    select (``k % DELETE_MODULUS``, ``k % UPDATE_MODULUS``). Like the
    daily mix, these shares are assumptions (see the README)."""
    rng = np.random.default_rng([seed, 4])
    out = []
    next_k = n_rows
    for r in range(rounds):
        upd = rng.choice(next_k, size=batch // 2, replace=False).astype(np.int64)
        new = np.arange(next_k, next_k + batch - batch // 2, dtype=np.int64)
        next_k += len(new)
        k = np.concatenate([upd, new])
        src = pd.DataFrame(
            {
                "k": k,
                "mls": [MLS[i % len(MLS)] for i in k],
                "mls_listing_id": [f"L{i:08d}" for i in k],
                "listing_status": rng.choice(STATUSES, len(k)),
                "current_price": rng.integers(50_000, 900_000, len(k)).astype(np.int64) * 100,
                "rev": np.full(len(k), r + 1, dtype=np.int64),
            }
        )
        out.append({"source": src, "delete_mod": int(rng.integers(0, DELETE_MODULUS)), "update_mod": int(rng.integers(0, UPDATE_MODULUS))})
    return out


DELETE_MODULUS = 101
UPDATE_MODULUS = 103


def dml_replay(base: pd.DataFrame, rounds: list[dict]) -> list[pd.DataFrame]:
    """pandas model of the op sequence: the live table after each
    round (index 0 is the initial table)."""
    cur = base.set_index("k")
    states = [cur.reset_index()]
    for r in rounds:
        src = r["source"].set_index("k")
        cur = pd.concat([cur.drop(index=src.index, errors="ignore"), src])
        cur = cur[(cur.index % DELETE_MODULUS) != r["delete_mod"]]
        hit = (cur.index % UPDATE_MODULUS) == r["update_mod"]
        cur.loc[hit, "current_price"] = cur.loc[hit, "current_price"] + 1000
        cur.loc[hit, "listing_status"] = "U"
        states.append(cur.reset_index())
    return states
