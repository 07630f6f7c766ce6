"""Seeded input generators for the benchmark.

Every table is a pure function of ``(seed, size)``: the same seed gives
byte-identical Parquet files and the same operation sequence, so two
commits are measured on identical inputs. Nothing here imports Spark.

Two families:

* ``shape_table``: one column per scheme-planner path (sorted key, regular
  timestamps, runs, low-NDV int, mostly-constant int, 2-decimal doubles,
  clustered doubles, low-NDV strings, free text, unsorted random key) with
  about 5 % nulls in the nullable columns. The ``format`` workload writes
  and reads it.
* ``relational_tables``: the ten query-surface tables (TPC-H-ish star
  schema plus ``events``, ``documents`` and ``embeddings``) with the
  schemas and value domains the registered queries and their DuckDB
  oracles expect. The ``pipeline`` workload queries them.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

NULL_SHARE = 0.05

_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_TEXT_WORDS = [f"w{i:03d}" for i in range(400)]
_CATEGORIES = [f"cat_{i:02d}" for i in range(12)]


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def _with_nulls(rng: np.random.Generator, arr: pa.Array) -> pa.Array:
    mask = pa.array(rng.random(len(arr)) < NULL_SHARE)
    return pc.if_else(mask, pa.scalar(None, arr.type), arr)


def shape_table(seed: int, n_rows: int, first_id: int = 0) -> pa.Table:
    """Multi-shape table of ``n_rows`` rows whose sorted key starts after
    ``first_id`` (append batches continue the key of the base table)."""
    rng = _rng(seed, 1 + first_id)
    n = n_rows
    ids = first_id + np.cumsum(rng.integers(1, 4, n)).astype(np.int64)
    base_us = int(dt.datetime(2024, 1, 1).timestamp()) * 1_000_000
    ts = (base_us + (ids * 1_000_000)).astype("datetime64[us]")
    run_vals = rng.integers(0, 1000, n // 16 + 1)
    runs = np.repeat(run_vals, 16)[:n].astype(np.int64)
    low_ndv = rng.integers(0, 16, n).astype(np.int32)
    mostly = np.where(rng.random(n) < 0.98, 7, rng.integers(0, 10**6, n)).astype(np.int64)
    price = np.round(rng.uniform(1.0, 1000.0, n), 2)
    clustered = np.round(
        rng.choice([10.0, 250.0, 4000.0], n) + rng.normal(0.0, 0.5, n), 4
    )
    cats = np.array(_CATEGORIES, dtype=object)[rng.integers(0, len(_CATEGORIES), n)]
    lens = rng.integers(3, 13, n)
    word_idx = rng.integers(0, len(_TEXT_WORDS), int(lens.sum()))
    words = np.array(_TEXT_WORDS, dtype=object)[word_idx]
    cuts = np.cumsum(lens)[:-1]
    text = [" ".join(w) for w in np.split(words, cuts)]
    uid = rng.integers(1, 2**62, n, dtype=np.int64)
    return pa.table(
        {
            "id": pa.array(ids),
            "ts": pa.array(ts),
            "runs": pa.array(runs),
            "low_ndv": _with_nulls(rng, pa.array(low_ndv)),
            "mostly_const": pa.array(mostly),
            "price": _with_nulls(rng, pa.array(price)),
            "clustered": _with_nulls(rng, pa.array(clustered)),
            "category": _with_nulls(rng, pa.array(cats, type=pa.string())),
            "text": _with_nulls(rng, pa.array(text, type=pa.string())),
            "uid": pa.array(uid),
        }
    )


# YAML-declarable types of shape_table's columns (the CSV copy stores ``ts``
# as epoch microseconds: the reference CSV schema has no timestamp type)
SHAPE_DECL = [
    {"name": "id", "type": "bigint"},
    {"name": "ts", "type": "bigint"},
    {"name": "runs", "type": "bigint"},
    {"name": "low_ndv", "type": "integer"},
    {"name": "mostly_const", "type": "bigint"},
    {"name": "price", "type": "double"},
    {"name": "clustered", "type": "double"},
    {"name": "category", "type": "string"},
    {"name": "text", "type": "string"},
    {"name": "uid", "type": "bigint"},
]


def shape_as_csv_rows(table: pa.Table) -> pa.Table:
    """``table`` with ``ts`` as epoch microseconds, the CSV copy's schema."""
    ts = table.column("ts").cast(pa.int64())
    return table.set_column(table.schema.get_field_index("ts"), "ts", ts)


def write_shape_csv(table: pa.Table, csv_path: str, yaml_path: str) -> None:
    """'|'-separated CSV with the literal ``null`` for nulls plus the YAML
    schema file: the reference's csvtobtr input pair."""
    rows = shape_as_csv_rows(table).to_pylist()
    names = [d["name"] for d in SHAPE_DECL]
    with open(csv_path, "w") as fh:
        for r in rows:
            fh.write("|".join("null" if r[c] is None else repr(r[c]) if isinstance(r[c], float) else str(r[c]) for c in names))
            fh.write("\n")
    with open(yaml_path, "w") as fh:
        fh.write("columns:\n")
        for d in SHAPE_DECL:
            fh.write(f"  - name: {d['name']}\n    type: {d['type']}\n")


_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["blue", "cold", "large", "small", "green", "red", "shiny", "tiny"]
_PART_NOUN = ["anvil", "bolt", "gear", "widget", "spring", "valve", "lever", "nut"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]


def _ts(days_since_1995: np.ndarray) -> pa.Array:
    base = np.datetime64("1995-01-01", "us")
    return pa.array(base + days_since_1995.astype("timedelta64[D]"))


def relational_tables(seed: int, scale: int) -> dict[str, pa.Table]:
    """The ten query-surface tables. ``scale`` 1 is about the size of the
    sf0.001 testdata (6,000 lineitems); row counts grow linearly with it."""
    out: dict[str, pa.Table] = {}
    n_cust, n_supp, n_part = 150 * scale, 10 * scale, 200 * scale
    n_orders = 1500 * scale

    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )

    rng = _rng(seed, 101)
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
            "c_mktsegment": np.array(_SEGMENTS, dtype=object)[rng.integers(0, 5, n_cust)].tolist(),
        }
    )
    rng = _rng(seed, 102)
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)),
        }
    )
    rng = _rng(seed, 103)
    retail = np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": [
                f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": np.array(_PART_TYPES, dtype=object)[rng.integers(0, 6, n_part)].tolist(),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": pa.array(retail),
        }
    )

    rng = _rng(seed, 104)
    odate = rng.integers(0, 2404, n_orders)  # 1995-01-01 .. 2001-08-01
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_orders).astype(np.int64)),
            "o_orderstatus": np.array(["F", "O", "P"], dtype=object)[rng.integers(0, 3, n_orders)].tolist(),
            "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n_orders), 2)),
            "o_orderdate": _ts(odate),
            "o_orderpriority": np.array(_PRIORITIES, dtype=object)[rng.integers(0, 5, n_orders)].tolist(),
        }
    )

    lines = rng.integers(1, 8, n_orders)
    okey = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    linenum = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    n_li = len(okey)
    pkey = rng.integers(0, n_part, n_li).astype(np.int64)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ship = odate[okey] + rng.integers(1, 122, n_li)
    perm = rng.permutation(n_li)  # testdata ships lineitem unsorted
    li = {
        "l_orderkey": okey,
        "l_partkey": pkey,
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": linenum,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[pkey], 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"], dtype=object)[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"], dtype=object)[rng.integers(0, 2, n_li)],
    }
    out["lineitem"] = pa.table(
        {
            **{k: pa.array(v[perm].tolist() if v.dtype == object else v[perm]) for k, v in li.items()},
            "l_shipdate": _ts(ship[perm]),
        }
    )

    rng = _rng(seed, 105)
    n_ev, n_users = 1000 * scale, 15 * scale
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 1_000_000, n_ev))
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
            "ts": pa.array(start + offs.astype("timedelta64[us]")),
            "user_id": pa.array(rng.integers(0, n_users, n_ev).astype(np.int64)),
            "event_type": np.array(_EVENT_TYPES, dtype=object)[rng.integers(0, 5, n_ev)].tolist(),
            "value": pa.array(rng.integers(1, 50000, n_ev) / 100.0),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )

    rng = _rng(seed, 106)
    n_docs = 500 * scale
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.06:  # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.16:  # near duplicate: a few words replaced
            src = texts[int(rng.integers(0, i))].split(" ")
            for pos in rng.integers(0, len(src), max(1, len(src) // 12)):
                src[pos] = _WORDS[int(rng.integers(0, len(_WORDS)))]
            texts.append(" ".join(src))
        else:
            k = int(rng.integers(10, 90))
            words = np.array(_WORDS, dtype=object)[rng.integers(0, len(_WORDS), k)]
            if rng.random() < 0.03:
                words[int(rng.integers(0, k))] = "dup"
            texts.append(" ".join(words))
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": texts,
            "lang": np.array(_LANGS, dtype=object)[rng.integers(0, len(_LANGS), n_docs)].tolist(),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )

    rng = _rng(seed, 107)
    n_vec = 500 * scale
    labels = rng.integers(0, 10, n_vec)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 0.8, (n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32)),
        }
    )
    return out


def write_parquet(table: pa.Table, path: str) -> None:
    """One file, one row group, like the testdata tables."""
    pq.write_table(table, path, row_group_size=max(table.num_rows, 1))
