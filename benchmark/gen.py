"""Seeded input generators for the benchmark workloads.

Everything here is vectorised numpy/pyarrow and byte-identical per seed: the
same seed writes the same parquet bytes.  The program under test only ever
sees the files written here.

- ``write_etl``: the 11 ODS tables of the reference warehouse for two
  etl_dates (day 1 full extract, day 2 a ~10 % increment that rewrites
  existing SCD-1 keys), plus the per-day offline delta snapshots of the
  three archetype-C jobs.
- ``write_corpus``: the registry's 10-table schema (TPC-H-like star,
  events, documents, embeddings) with Zipf-skewed foreign keys, planted
  near-duplicate documents and clustered embeddings.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass
from datetime import date, datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# shared helpers
# ---------------------------------------------------------------------------


def zipf_keys(rng: np.random.Generator, keys: np.ndarray, size: int, s: float = 1.1):
    """``size`` draws from ``keys`` with Zipf(s) popularity over a seeded
    permutation, so the hot keys differ per seed."""
    w = 1.0 / np.arange(1, len(keys) + 1) ** s
    ranks = rng.choice(len(keys), size=size, p=w / w.sum())
    return rng.permutation(keys)[ranks]


def labels(prefix: str, ids) -> pa.Array:
    """``prefix<id>`` strings without a Python loop."""
    return pc.binary_join_element_wise(
        prefix, pc.cast(pa.array(np.asarray(ids, dtype=np.int64)), pa.string()), ""
    )


def pick(rng: np.random.Generator, choices: list[str], size: int) -> pa.Array:
    return pa.array(np.asarray(choices, dtype=object)[rng.integers(0, len(choices), size)],
                    pa.string())


def money(rng: np.random.Generator, lo: float, hi: float, size: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100), size) / 100.0, 2)


def write_parquet(table: pa.Table, path: str) -> None:
    """Write ``table`` as the single part file of directory ``path``."""
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-00000.parquet"), compression="snappy")


def tree_digest(root: str) -> str:
    """sha256 over every file's relative path and bytes under ``root``."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for name in sorted(filenames):
            p = os.path.join(dirpath, name)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


# ---------------------------------------------------------------------------
# nightly_etl: ODS warehouse + delta snapshots
# ---------------------------------------------------------------------------

ETL_FACT_ROWS = 4_000  # day-1 rows of each fact/log ODS table
DAY2_SHARE = 0.10  # day-2 increment relative to day 1
DELTA_SHARE = 0.05  # delta-snapshot rows relative to the base partition
DELTA_REGEX_DATE = "20221001"  # the reference's hard-coded rowkey regex date
DELTA_MATCH = (0.9, 0.5)  # share of delta rows matching the regex, per day
N_LEVELS = 10

# (table, key column, day-1 rows as a share of ETL_FACT_ROWS or absolute)
ETL_TABLES: dict[str, tuple[str, int]] = {
    "customer_inf": ("customer_id", ETL_FACT_ROWS // 4),
    "product_info": ("product_core", ETL_FACT_ROWS // 10),
    "coupon_info": ("coupon_id", 500),
    "customer_level_inf": ("customer_level", N_LEVELS),
    "customer_addr": ("addr_id", ETL_FACT_ROWS),
    "customer_login_log": ("login_id", ETL_FACT_ROWS),
    "order_cart": ("cart_id", ETL_FACT_ROWS),
    "coupon_use": ("coupon_use_id", ETL_FACT_ROWS),
    "order_master": ("order_id", ETL_FACT_ROWS),
    "order_detail": ("order_detail_id", ETL_FACT_ROWS),
    "product_browse": ("log_id", ETL_FACT_ROWS),
}
SCD1_TABLES = ("customer_inf", "product_info", "coupon_info")
DELTA_TABLES = {  # archetype-C ODS table -> offline snapshot table
    "order_master": "order_master_offline",
    "order_detail": "order_detail_offline",
    "product_browse": "product_browse_offline",
}
NULL_SHARE = 0.05  # archetype-C base cells left NULL for the delta to fill


@dataclass(frozen=True)
class EtlInputs:
    root: str  # <root>/ods_day{1,2}/<table>/etl_date=<d>/ and <root>/delta_day{1,2}/
    days: tuple[str, str]  # the two etl_dates, yyyymmdd
    rows: tuple[int, int]  # ODS + delta rows arriving per night


def etl_days(seed: int) -> tuple[str, str]:
    d1 = date(2022, 6, 1) + timedelta(days=(seed * 7919) % 180)
    return d1.strftime("%Y%m%d"), (d1 + timedelta(days=1)).strftime("%Y%m%d")


def _arrow_type(spark_type) -> pa.DataType:
    name = spark_type.typeName()
    return {
        "integer": pa.int32(), "long": pa.int64(), "double": pa.float64(),
        "string": pa.string(), "timestamp": pa.timestamp("us", tz="UTC"),
    }[name]


def _times(rng, day: str, size: int) -> np.ndarray:
    """Second-resolution instants within ``day``."""
    start = np.datetime64(datetime.strptime(day, "%Y%m%d"), "s")
    return start + rng.integers(0, 86_400, size).astype("timedelta64[s]")


def _etl_column(rng, table: str, field, n: int, day: str, fk: dict) -> pa.Array:
    name, typ = field.name, _arrow_type(field.dataType)
    if name in fk:
        return pa.array(zipf_keys(rng, fk[name], n).astype(np.int32), pa.int32())
    if name == "customer_level":
        return pa.array(rng.integers(1, N_LEVELS + 1, n).astype(np.int32), pa.int32())
    if pa.types.is_timestamp(typ):
        return pa.array(_times(rng, day, n).astype("datetime64[us]"), typ)
    if name.endswith("_time"):  # string-typed time columns (archetype C)
        ts = pa.array(_times(rng, day, n).astype("datetime64[us]"), pa.timestamp("us"))
        return pc.strftime(ts, format="%Y-%m-%d %H:%M:%S")
    if typ == pa.int32():
        return pa.array(rng.integers(0, 1000, n).astype(np.int32), typ)
    if typ == pa.float64():
        return pa.array(money(rng, 0, 5000, n), typ)
    return labels(f"{name}_", rng.integers(0, 50_000, n))


def _etl_table(rng, table: str, keys: np.ndarray, day: str, fk: dict,
               null_share: float = 0.0) -> pa.Table:
    from bigdata_scala_offline_data_clean_spark.schemas import ODS_SCHEMAS

    key_col = ETL_TABLES[table][0]
    n = len(keys)
    cols = {}
    for f in ODS_SCHEMAS[table].fields:
        if f.name == key_col:
            cols[f.name] = (labels("PC", keys) if table == "product_info"
                            else pa.array(keys.astype(np.int32), pa.int32()))
            continue
        if table == "product_info" and f.name == "product_id":
            cols[f.name] = pa.array(keys.astype(np.int32), pa.int32())
            continue
        arr = _etl_column(rng, table, f, n, day, fk)
        if null_share:
            arr = pc.if_else(pa.array(rng.random(n) < null_share), pa.nulls(n, arr.type), arr)
        cols[f.name] = arr
    return pa.table(cols)


def write_etl(root: str, seed: int) -> EtlInputs:
    """Write both days of ODS partitions and delta snapshots under ``root``."""
    rng = np.random.default_rng([seed, 1])
    days = etl_days(seed)
    sizes = {t: n for t, (_, n) in ETL_TABLES.items()}
    fk = {
        "customer_id": np.arange(1, sizes["customer_inf"] + 1),
        "product_id": np.arange(1, sizes["product_info"] + 1),
        "coupon_id": np.arange(1, sizes["coupon_info"] + 1),
        "order_id": np.arange(1, sizes["order_master"] + 1),
    }
    rows = [0, 0]
    for t, (_, n1) in ETL_TABLES.items():
        day1 = np.arange(1, n1 + 1)
        n2 = max(1, int(n1 * DAY2_SHARE))
        if t == "customer_level_inf":
            day2 = rng.choice(day1, size=1, replace=False)
        elif t in SCD1_TABLES:
            # rewrite ~10 % existing keys, plus a few new ones
            new = np.arange(n1 + 1, n1 + 1 + max(1, n2 // 5))
            day2 = np.concatenate([np.sort(rng.choice(day1, size=n2, replace=False)), new])
        else:
            day2 = np.arange(n1 + 1, n1 + 1 + n2)
        null_share = NULL_SHARE if t in DELTA_TABLES else 0.0
        for i, (day, keys) in enumerate(zip(days, (day1, day2))):
            tbl = _etl_table(rng, t, keys, day, fk, null_share)
            if t in SCD1_TABLES and i == 1:
                tbl = _shift_scd1_times(rng, tbl, days)
            write_parquet(tbl, f"{root}/ods_day{i + 1}/{t}/etl_date={day}")
            rows[i] += tbl.num_rows
            if t in DELTA_TABLES:
                delta = _delta_snapshot(rng, t, keys, day, fk, DELTA_MATCH[i])
                write_parquet(delta, f"{root}/delta_day{i + 1}/{DELTA_TABLES[t]}")
                rows[i] += delta.num_rows
    return EtlInputs(root, days, tuple(rows))


def _shift_scd1_times(rng, tbl: pa.Table, days: tuple[str, str]) -> pa.Table:
    """Day-2 SCD-1 rows: 80 % get a ``modified_time`` on the day after day 2,
    newer than every stored row, so the ODS row wins.  The rest get a fresh
    day-1 time, so about half of them are older than the stored DWD row,
    which must then survive the merge."""
    n = tbl.num_rows
    u = rng.random(n)
    day1 = _times(rng, days[0], n).astype("datetime64[us]")
    day2 = (_times(rng, days[1], n) + np.timedelta64(86_400, "s")).astype("datetime64[us]")
    when = np.where(u < 0.8, day2, day1)
    i = tbl.schema.get_field_index("modified_time")
    return tbl.set_column(i, "modified_time", pa.array(when, pa.timestamp("us", tz="UTC")))


def _delta_snapshot(rng, table: str, base_keys: np.ndarray, day: str, fk: dict,
                    match_share: float) -> pa.Table:
    """Offline supplement: half overlaps the base partition's keys, half is
    delta-only; ``match_share`` of the row keys carry the regex date."""
    n = max(2, int(len(base_keys) * DELTA_SHARE))
    overlap = rng.choice(base_keys, size=n // 2, replace=False)
    only = base_keys.max() + 10_000 + np.arange(n - n // 2)
    keys = np.concatenate([overlap, only])
    body = _etl_table(rng, table, keys, day, fk, NULL_SHARE)
    stamp = np.where(rng.random(n) < match_share, DELTA_REGEX_DATE, "20220930")
    row_key = pc.binary_join_element_wise(
        labels("rk", keys), pa.array(stamp.astype(object), pa.string()), "_")
    return body.add_column(0, "row_key", row_key)


# ---------------------------------------------------------------------------
# curation: the registry's 10-table corpus
# ---------------------------------------------------------------------------

CORPUS_ROWS = {
    "region": 5, "nation": 25, "customer": 150, "supplier": 10, "part": 200,
    "orders": 1500, "lineitem": 6000, "events": 1000, "documents": 500,
    "embeddings": 500,
}
VOCAB = (
    "scan column window order sort part agg value line key join merge group "
    "query a vector hash slow stream filter fast the batch spark table small "
    "data big customer row dup"
).split()
NEAR_DUP_SHARE = 0.12  # documents planted as edited copies of another
EXACT_DUP_SHARE = 0.02  # documents planted as verbatim copies
EMB_DIM, EMB_CLUSTERS = 64, 10


def _ts_us(start: str, seconds: np.ndarray) -> pa.Array:
    t0 = np.datetime64(start, "us")
    return pa.array(t0 + seconds.astype("timedelta64[us]"), pa.timestamp("us"))


def _documents(rng, n: int) -> pa.Table:
    lens = rng.integers(10, 100, n)
    words = np.asarray(VOCAB, dtype=object)[rng.integers(0, len(VOCAB), lens.sum())]
    docs = np.split(words, np.cumsum(lens)[:-1])
    # plant near-duplicates (10 % of tokens re-drawn) and verbatim copies
    src = rng.integers(0, n, n)
    kind = rng.random(n)
    for i in np.flatnonzero(kind < NEAR_DUP_SHARE + EXACT_DUP_SHARE):
        if src[i] == i:
            continue
        copy = docs[src[i]].copy()
        if kind[i] < NEAR_DUP_SHARE:
            hit = rng.random(len(copy)) < 0.1
            copy[hit] = np.asarray(VOCAB, dtype=object)[rng.integers(0, len(VOCAB), hit.sum())]
        docs[i] = copy
    text = pa.array([" ".join(d) for d in docs], pa.string())
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": text,
        "lang": pick(rng, ["en", "en", "fr", "es", "zh", "de"], n),
        "source": labels("src", rng.integers(0, 20, n)),
        "n_chars": pc.cast(pc.utf8_length(text), pa.int64()),
    })


def _embeddings(rng, n: int) -> pa.Table:
    centers = rng.normal(0, 1, (EMB_CLUSTERS, EMB_DIM))
    label = rng.integers(0, EMB_CLUSTERS, n)
    v = centers[label] + rng.normal(0, 0.35, (n, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(v.ravel(), pa.float32()), EMB_DIM)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": emb.cast(pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32), pa.int32()),
    })


def write_corpus(root: str, seed: int) -> dict[str, int]:
    """Write ``<root>/<table>.parquet`` for the 10 registry tables; returns
    the row count per table."""
    rng = np.random.default_rng([seed, 2])
    n = CORPUS_ROWS
    nat = np.arange(n["nation"])
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(nat, pa.int32()),
            "n_name": labels("NATION_", nat),
            "n_regionkey": pa.array(nat % 5, pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n["customer"]), pa.int64()),
            "c_name": labels("Customer#", 10**9 + np.arange(n["customer"])),
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
            "c_acctbal": money(rng, -999, 9999, n["customer"]),
            "c_mktsegment": pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                       "HOUSEHOLD", "MACHINERY"], n["customer"]),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n["supplier"]), pa.int64()),
            "s_name": labels("Supplier#", 10**9 + np.arange(n["supplier"])),
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
            "s_acctbal": money(rng, -999, 9999, n["supplier"]),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n["part"]), pa.int64()),
            "p_name": pc.binary_join_element_wise(
                pick(rng, ["cold", "small", "large", "red", "blue"], n["part"]),
                pick(rng, ["widget", "bolt", "ring", "gear", "valve"], n["part"]), " "),
            "p_brand": labels("Brand#", rng.integers(1, 26, n["part"])),
            "p_type": pick(rng, ["ECONOMY", "PROMO", "LARGE", "MEDIUM", "STANDARD",
                                 "SMALL"], n["part"]),
            "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
            "p_retailprice": money(rng, 900, 2000, n["part"]),
        }),
    }
    no = n["orders"]
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(zipf_keys(rng, np.arange(n["customer"]), no), pa.int64()),
        "o_orderstatus": pick(rng, ["F", "O", "P"], no),
        "o_totalprice": money(rng, 1000, 400_000, no),
        "o_orderdate": _ts_us("1995-01-01", rng.integers(0, 2400, no) * 86_400 * 10**6),
        "o_orderpriority": pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                      "4-NOT SPECIFIED", "5-LOW"], no),
    })
    nl = n["lineitem"]
    okey = np.sort(rng.integers(0, no, nl))
    first = np.r_[True, okey[1:] != okey[:-1]]
    run_start = np.maximum.accumulate(np.where(first, np.arange(nl), 0))
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(zipf_keys(rng, np.arange(n["part"]), nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl), pa.int64()),
        "l_linenumber": pa.array(np.arange(nl) - run_start + 1, pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": money(rng, 900, 105_000, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": pick(rng, ["A", "N", "R"], nl),
        "l_linestatus": pick(rng, ["O", "F"], nl),
        "l_shipdate": _ts_us("1995-01-02", rng.integers(0, 2500, nl) * 86_400 * 10**6),
    })
    ne = n["events"]
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": _ts_us("2024-01-01", np.sort(rng.integers(0, 30 * 86_400 * 10**6, ne))),
        "user_id": pa.array(zipf_keys(rng, np.arange(15), ne), pa.int64()),
        "event_type": pick(rng, ["click", "purchase", "error", "signup", "view"], ne),
        "value": money(rng, 0, 100, ne),
        "props": pc.binary_join_element_wise(
            labels('{"k": ', rng.integers(0, 100, ne)), "}", ""),
    })
    tables["documents"] = _documents(rng, n["documents"])
    tables["embeddings"] = _embeddings(rng, n["embeddings"])
    os.makedirs(root, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(root, f"{name}.parquet"), compression="snappy")
    return {name: tbl.num_rows for name, tbl in tables.items()}
