"""Seeded input generation.  The same seed gives the same inputs; the
program under test only ever sees what these functions write.

- :func:`trades` / :func:`securities` — transaq-shaped fact and
  dimension rows for the ``panels`` workload.
- :func:`write_base_tables` — the ten TPC-H-ish base tables
  (``testdata.DRIVER_TABLES``) the query catalog's views derive from.

The ingest backlog is generated in :mod:`w_ingest`, next to its checks.

Shapes (row counts, key domains, value distributions) are fixed; only
the draws depend on the seed, so every seed costs the same work.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

N_SEC = 40
DAYS = ("2024-12-19", "2024-12-20")
SESSION_START_S = 10 * 3600  # 10:00:00
SESSION_LEN_S = 520 * 60  # to 18:40:00

#: Fixed (seed-independent) per-security popularity, so the per-code
#: row counts have the same shape for every seed.
_WEIGHTS = 1.0 / np.arange(1, N_SEC + 1) ** 0.7
_WEIGHTS = _WEIGHTS / _WEIGHTS.sum()


def board_of(secid: int) -> str:
    if secid <= 4:
        return "FUT"
    if secid >= 33:
        return "TQTF"
    return "TQBR"


def sec_code(secid: int) -> str:
    return f"SEC{secid:03d}"


def securities() -> pd.DataFrame:
    """The 40-row dimension (seed-independent)."""
    ids = np.arange(1, N_SEC + 1)
    boards = [board_of(i) for i in ids]
    return pd.DataFrame({
        "secid": ids.astype("int32"),
        "seccode": [sec_code(i) for i in ids],
        "instrclass": ["F" if b == "FUT" else "E" for b in boards],
        "board": boards,
        "market": np.where(ids <= 4, 4, 1).astype("int32"),
        "shortname": [f"Security {sec_code(i)}" for i in ids],
        "decimals": (ids % 5).astype("int32"),
        "minstep": (ids / 100.0).astype("float32"),
        "lotsize": np.choose(ids % 3, [1, 10, 100]).astype("int32"),
        "point_cost": (ids * 1.5).astype("float32"),
        "sectype": ["FUT" if b == "FUT" else "ETF" if b == "TQTF" else "SHARE" for b in boards],
        "quotestype": (ids % 2).astype("int32"),
        "_ingest_seq": np.ones(N_SEC, dtype="int64"),
    })


def trades(seed: int, n: int) -> pd.DataFrame:
    """``n`` trades over two sessions with the stored-table columns and
    an ``_ingest_seq`` in 1..8 (the eight append batches)."""
    rng = np.random.default_rng(seed)
    secid = rng.choice(np.arange(1, N_SEC + 1), size=n, p=_WEIGHTS).astype("int32")
    day = rng.integers(0, len(DAYS), size=n)
    base = np.array([pd.Timestamp(d).value // 10**9 for d in DAYS], dtype="int64")
    ts = base[day] + SESSION_START_S + rng.integers(0, SESSION_LEN_S, size=n)
    order = np.argsort(ts, kind="stable")
    secid, ts = secid[order], ts[order]
    # prices on a quarter grid around a per-security level
    level = 100 + 37 * secid
    price = (level + rng.integers(-40, 41, size=n) / 4.0).astype("float32")
    qty = np.where(rng.random(n) < 0.15, 1, rng.integers(1, 101, size=n)).astype("int64")
    buy_sell = np.where(rng.random(n) < 0.5, "B", "S")
    boards = np.array([board_of(i) for i in range(N_SEC + 1)], dtype=object)[secid]
    codes = np.array([sec_code(i) if i else "" for i in range(N_SEC + 1)], dtype=object)[secid]
    oi = np.where(secid <= 4, rng.integers(0, 5000, size=n), 0).astype("int32")
    return pd.DataFrame({
        "time": pd.to_datetime(ts, unit="s"),
        "secid": secid,
        "sec_code": codes,
        "trade_no": np.arange(1, n + 1, dtype="int64") + 10_000_000,
        "board": boards,
        "price": price,
        "quantity": qty,
        "buy_sell": buy_sell,
        "open_interest": oi,
        "period": "N",
        "_ingest_seq": rng.integers(1, 9, size=n).astype("int64"),
    })


def reversions(seed: int, base: pd.DataFrame, share: float = 0.02) -> pd.DataFrame:
    """A later batch (``_ingest_seq`` 9) re-versioning ``share`` of the
    rows with a new price — last-write-wins must keep these."""
    rng = np.random.default_rng(seed + 1)
    pick = rng.random(len(base)) < share
    out = base[pick].copy()
    out["price"] = (out["price"] + 0.25).astype("float32")
    out["_ingest_seq"] = 9
    return out


# --------------------------------------------------------------------------
# base tables (query catalog inputs)
# --------------------------------------------------------------------------

_WORDS = ("join hash row batch scan column customer filter small slow merge order "
          "vector line table data agg value key stream window a spark part group "
          "big sort query fast the").split()
_PART_ADJ = "small red blue hot large old new cold".split()
_PART_NOUN = "ring widget bolt gear gizmo plate anvil rod".split()


def _days(rng, n, start: str, span_days: int):
    base = pd.Timestamp(start).value // 1000
    return pd.to_datetime(base + rng.integers(0, span_days, size=n) * 86_400_000_000, unit="us")


def write_base_tables(seed: int, out_dir: str, scale: float) -> dict[str, int]:
    """Write ``region nation customer supplier part orders lineitem
    events documents embeddings`` as parquet under ``out_dir`` with the
    schemas ``testdata.load_table`` expects; ``scale`` 0.01 gives ~60k
    lineitem rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_ord = int(1_500_000 * scale)
    n_ev, n_doc, n_emb = int(1_000_000 * scale), max(500, int(50_000 * scale)), 500
    tabs: dict[str, pd.DataFrame] = {}
    tabs["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype="int32"),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    tabs["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype="int32"),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype("int32"),
    })
    tabs["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": rng.choice(["HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING",
                                    "AUTOMOBILE"], n_cust),
    })
    tabs["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
    })
    tabs["part"] = pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_PART_ADJ, n_part),
                                              rng.choice(_PART_NOUN, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": np.round(900 + np.arange(n_part) % 200 * 0.1, 2),
    })
    tabs["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", 2400),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                       "5-LOW"], n_ord),
    })
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype="int64"), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines]).astype("int32")
    n_li = len(okey)
    qty = rng.integers(1, 51, n_li).astype("float64")
    tabs["lineitem"] = pd.DataFrame({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n_li).astype("int64"),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype("int64"),
        "l_linenumber": lnum,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _days(rng, n_li, "1995-01-02", 2500),
    })
    ev_base = pd.Timestamp("2024-01-01").value // 1000
    ev_ts = np.sort(ev_base + rng.integers(0, 30 * 86_400_000_000, n_ev))
    tabs["events"] = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": pd.to_datetime(ev_ts, unit="us"),
        "user_id": rng.integers(0, max(15, n_ev // 66), n_ev).astype("int64"),
        "event_type": rng.choice(["signup", "error", "click", "view", "purchase"], n_ev),
        "value": np.round(rng.exponential(50, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    n_words = rng.integers(8, 90, n_doc)
    texts = [" ".join(rng.choice(_WORDS, k)) for k in n_words]
    for i in range(0, n_doc, 25):  # near-duplicate pairs for the dedup entries
        if i + 1 < n_doc:
            texts[i + 1] = texts[i] + " dup"
    tabs["documents"] = pd.DataFrame({
        "doc_id": np.arange(n_doc, dtype="int64"),
        "text": texts,
        "lang": rng.choice(["en", "zh", "es", "de", "fr"], n_doc),
        "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })
    emb = rng.normal(0, 0.1, (n_emb, 64)).astype("float32")
    tabs["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n_emb, dtype="int64"),
        "embedding": list(emb),
        "label": rng.integers(0, 10, n_emb).astype("int32"),
    })
    for name, df in tabs.items():
        table = pa.Table.from_pandas(df, preserve_index=False)
        if name in ("orders", "lineitem", "events"):
            table = table.cast(pa.schema([
                pa.field(f.name, pa.timestamp("us")) if pa.types.is_timestamp(f.type) else f
                for f in table.schema
            ]))
        if name == "embeddings":
            table = table.cast(pa.schema([
                pa.field("vec_id", pa.int64()),
                pa.field("embedding", pa.list_(pa.float32())),
                pa.field("label", pa.int32()),
            ]))
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {k: len(v) for k, v in tabs.items()}
