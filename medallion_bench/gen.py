"""Seeded input generator for the medallion benchmark.

Every input is a pure function of ``(seed, sizes)`` and is written to
disk before any clock starts; the engine only ever sees these files.

Crash rows are not invented here: the generator draws ``(event_id, ts)``
pairs and turns them into messy all-string bronze rows with the
package's own engine-portable synthesis SQL (``plans.crash_ops``), run
in DuckDB. The same pairs feed the DuckDB cleaning oracle
(``_CLEAN_ORACLE``) that checks the engine's gold rows, so the expected
output of every batch is known exactly.

The query tables copy the columns, types, value domains and row counts
of the sf0.1 test tables (``rows_scale`` = 1.0 gives sf0.1 counts).
"""

from __future__ import annotations

import json
import os
from dataclasses import asdict, dataclass

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from chicago_crash_data_pipeline_dashboard_spark.plans import crash_ops

ID_SPACE = 99_999_999  # the synth SQL lpads ids to 8 digits; stay below 1e8
NULL_PK_MOD = 97  # event_id % 97 == 0 synthesizes a NULL crash_record_id
CRASH_SQL = crash_ops.SYNTH_DUCKDB
VEHICLE_SQL = crash_ops._VEH_SYNTH.replace("__STR__", "VARCHAR")
PEOPLE_SQL = crash_ops._PPL_SYNTH.replace("__STR__", "VARCHAR")
EPOCH_2018 = np.datetime64("2018-01-01T00:00:00", "s")
STREAM_DAY0 = np.datetime64("2024-03-01", "D")
STREAM_DAYS_PER_SET = 3
STREAM_LATE_LOOKBACK_DAYS = 30


@dataclass(frozen=True)
class IngestSizes:
    batches: int
    rows: int
    first_rows: int  # batch 0 is the cold warm-up round: small, to pay class loading cheaply
    redelivered_share: float = 0.05


@dataclass(frozen=True)
class StreamSizes:
    sets: int
    rows: int
    late_share: float = 0.10


@dataclass(frozen=True)
class QuerySizes:
    rows_scale: float
    first_rows_scale: float  # tables of the cold warm-up pass


def _rng(seed: int, *tags: int) -> np.random.Generator:
    return np.random.default_rng([seed, *tags])


def _distinct_ids(rng: np.random.Generator, n: int, null_pk: bool) -> np.ndarray:
    """``n`` distinct event ids in [1, ID_SPACE); without ``null_pk`` no id
    synthesizes a NULL primary key."""
    out = np.unique(rng.integers(1, ID_SPACE, size=int(n * 1.1) + 64))
    if not null_pk:
        out = out[out % NULL_PK_MOD != 0]
    rng.shuffle(out)
    if len(out) < n:
        raise ValueError("id draw too small")
    return out[:n]


def _events_table(ids: np.ndarray, ts_s: np.ndarray) -> pa.Table:
    return pa.table(
        {
            "event_id": pa.array(ids, pa.int64()),
            "ts": pa.array(ts_s.astype("datetime64[s]").astype("datetime64[us]")),
        }
    )


def _synth(con: duckdb.DuckDBPyConnection, events: pa.Table, sql: str) -> pa.Table:
    con.register("events", events)
    try:
        return con.execute(sql).arrow()
    finally:
        con.unregister("events")


def write_ingest_inputs(root: str, seed: int, sizes: IngestSizes) -> list[dict]:
    """One directory per batch with ``events`` (oracle input) and the
    bronze ``crashes``/``vehicles``/``people`` pages made from them.

    Batch ``b`` holds ``rows`` (batch 0: ``first_rows``) new ids plus ``redelivered_share`` of
    ``rows`` re-delivered from earlier batches (same id and timestamp,
    so the same bronze row). Exactly one row per batch has a NULL key:
    silver's keep-first dedup keeps one row per key, so more NULL-key
    rows would make silver's population differ from the oracle's.
    """
    rng = _rng(seed, 1)
    counts = [sizes.first_rows] + [sizes.rows] * (sizes.batches - 1)
    bounds = np.cumsum([0] + counts)
    fresh = _distinct_ids(rng, int(bounds[-1]), null_pk=False)
    null_ids = (rng.choice(ID_SPACE // NULL_PK_MOD - 1, sizes.batches, replace=False) + 1) * NULL_PK_MOD
    span_s = int((np.datetime64("2025-01-01T00:00:00", "s") - EPOCH_2018) / np.timedelta64(1, "s"))
    fresh_ts = EPOCH_2018 + rng.integers(0, span_s, size=len(fresh)).astype("timedelta64[s]")
    null_ts = EPOCH_2018 + rng.integers(0, span_s, size=sizes.batches).astype("timedelta64[s]")
    n_redeliver = int(round(sizes.rows * sizes.redelivered_share))
    con = duckdb.connect()
    con.execute("SET threads=2")
    con.execute("SET TimeZone='UTC'")
    meta = []
    for b in range(sizes.batches):
        lo, hi = int(bounds[b]), int(bounds[b + 1])
        ids, ts = [fresh[lo:hi], null_ids[b : b + 1]], [fresh_ts[lo:hi], null_ts[b : b + 1]]
        if b > 0 and n_redeliver:
            pick = rng.choice(lo, size=min(n_redeliver, lo), replace=False)
            ids.append(fresh[pick])
            ts.append(fresh_ts[pick])
        order = rng.permutation(sum(len(x) for x in ids))
        ev = _events_table(np.concatenate(ids)[order], np.concatenate(ts)[order])
        d = os.path.join(root, f"batch_{b:03d}")
        os.makedirs(d, exist_ok=True)
        pq.write_table(ev, f"{d}/events.parquet")
        counts = {"events": ev.num_rows}
        for name, sql in (("crashes", CRASH_SQL), ("vehicles", VEHICLE_SQL), ("people", PEOPLE_SQL)):
            t = _synth(con, ev, sql)
            pq.write_table(t, f"{d}/{name}.parquet")
            counts[name] = t.num_rows
        meta.append({"dir": d, "corr": f"b{b:03d}", **counts})
    con.close()
    return meta


def write_stream_inputs(root: str, seed: int, sizes: StreamSizes) -> list[dict]:
    """One staged file set per drain, in the bronze hive layout
    (``year=YYYY/corr=sNNN/part-00000.json.gz``, one JSON object per
    line — the layout ``write_bronze`` produces).

    Set ``k``'s on-time rows fall in days ``[3k, 3k+3)`` after
    ``STREAM_DAY0``, so dates ascend across drains. Its late rows fall
    strictly before set ``k-1``'s window, hence at or below the
    watermark that set ``k-1`` leaves behind: streaming mode must drop
    every one of them.
    """
    rng = _rng(seed, 2)
    ids = _distinct_ids(rng, sizes.sets * sizes.rows, null_pk=True)
    con = duckdb.connect()
    con.execute("SET threads=2")
    con.execute("SET TimeZone='UTC'")
    meta = []
    day_s = 86_400
    for k in range(sizes.sets):
        n_late = int(round(sizes.rows * sizes.late_share)) if k > 0 else 0
        start = (STREAM_DAY0 + STREAM_DAYS_PER_SET * k).astype("datetime64[s]")
        on_ts = start + rng.integers(0, STREAM_DAYS_PER_SET * day_s, size=sizes.rows - n_late).astype(
            "timedelta64[s]"
        )
        late_end = (STREAM_DAY0 + STREAM_DAYS_PER_SET * (k - 1)).astype("datetime64[s]")
        late_ts = late_end - rng.integers(1, STREAM_LATE_LOOKBACK_DAYS * day_s, size=n_late).astype(
            "timedelta64[s]"
        )
        set_ids = ids[k * sizes.rows : (k + 1) * sizes.rows]
        ev = _events_table(set_ids, np.concatenate([on_ts, late_ts]))
        d = os.path.join(root, f"set_{k:03d}")
        corr = f"s{k:03d}"
        os.makedirs(d, exist_ok=True)
        pq.write_table(ev, f"{d}/events.parquet")
        con.register("set_events", ev)
        con.execute(f"CREATE OR REPLACE TEMP TABLE page AS {CRASH_SQL.replace('FROM events', 'FROM set_events')}")
        con.unregister("set_events")
        con.execute(
            "CREATE OR REPLACE TEMP TABLE page_y AS SELECT *, "
            "coalesce(year(TRY_CAST(crash_date AS TIMESTAMP)), 0) AS _year FROM page"
        )
        years = [r[0] for r in con.execute("SELECT DISTINCT _year FROM page_y ORDER BY 1").fetchall()]
        for year in years:
            p = os.path.join(d, "land", f"year={year}", f"corr={corr}")
            os.makedirs(p, exist_ok=True)
            con.execute(
                f"COPY (SELECT * EXCLUDE (_year) FROM page_y WHERE _year = {year}) "
                f"TO '{p}/part-00000.json.gz' (FORMAT JSON, COMPRESSION GZIP)"
            )
        n_rows = con.execute("SELECT count(*) FROM page").fetchone()[0]
        meta.append(
            {
                "dir": d,
                "corr": corr,
                "rows": n_rows,
                "late_ids": set_ids[sizes.rows - n_late :].tolist(),
                "years": years,
            }
        )
    con.close()
    return meta


_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
_LANGS = ["en", "zh", "de", "fr", "es"]
_LANG_P = [0.412, 0.1506, 0.1404, 0.1484, 0.1486]


def _ts_us(rng, lo: str, hi: str, n: int, unit: str = "us") -> pa.Array:
    a, b = np.datetime64(lo, unit), np.datetime64(hi, unit)
    span = int((b - a) / np.timedelta64(1, unit))
    vals = a + rng.integers(0, span, size=n).astype(f"timedelta64[{unit}]")
    return pa.array(vals.astype("datetime64[us]"))


def write_query_tables(root: str, seed: int, rows_scale: float) -> dict[str, int]:
    """The ten test tables with sf0.1's columns, types and value
    domains, at ``rows_scale`` × sf0.1's row counts."""
    rng = _rng(seed, 3)
    s = rows_scale
    n = {
        "customer": int(15_000 * s),
        "supplier": max(int(1_000 * s), 10),
        "part": int(20_000 * s),
        "orders": int(150_000 * s),
        "lineitem": int(600_000 * s),
        "events": int(100_000 * s),
        "documents": int(5_000 * s),
        "embeddings": int(2_000 * s),
    }
    os.makedirs(root, exist_ok=True)
    i32, i64, f64 = pa.int32(), pa.int64(), pa.float64()
    tables = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(5), i32),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), i32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
            }
        ),
    }
    nc = n["customer"]
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
            "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, nc), 2), f64),
            "c_mktsegment": pa.array(
                rng.choice(["FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD"], nc)
            ),
        }
    )
    ns = n["supplier"]
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
            "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, ns), 2), f64),
        }
    )
    npart = n["part"]
    adj = np.array(["large", "hot", "blue", "small", "red", "steel"])
    noun = np.array(["ring", "bolt", "nut", "gear", "pipe"])
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(npart), i64),
            "p_name": pa.array(np.char.add(np.char.add(rng.choice(adj, npart), " "), rng.choice(noun, npart))),
            "p_brand": pa.array(np.char.add("Brand#", rng.integers(1, 26, npart).astype(str))),
            "p_type": pa.array(rng.choice(["LARGE", "ECONOMY", "SMALL", "PROMO", "STANDARD"], npart)),
            "p_size": pa.array(rng.integers(1, 51, npart), i32),
            "p_retailprice": pa.array(np.round(900 + (np.arange(npart) % 20_000) * 0.1, 2), f64),
        }
    )
    no = n["orders"]
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), i64),
            "o_custkey": pa.array(rng.integers(0, nc, no), i64),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], no)),
            "o_totalprice": pa.array(np.round(rng.uniform(1000, 500_000, no), 2), f64),
            "o_orderdate": _ts_us(rng, "1995-01-01", "2001-11-01", no, "D"),
            "o_orderpriority": pa.array(
                rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no)
            ),
        }
    )
    nl = n["lineitem"]
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), i64),
            "l_partkey": pa.array(rng.integers(0, npart, nl), i64),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
            "l_quantity": pa.array(rng.integers(1, 51, nl).astype(float), f64),
            "l_extendedprice": pa.array(np.round(rng.uniform(900, 105_000, nl), 2), f64),
            "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0, f64),
            "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0, f64),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], nl)),
            "l_linestatus": pa.array(rng.choice(["O", "F"], nl)),
            "l_shipdate": _ts_us(rng, "1995-01-02", "2001-11-05", nl, "D"),
        }
    )
    ne = n["events"]
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), i64),
            "ts": _ts_us(rng, "2024-01-01", "2024-01-31", ne),
            "user_id": pa.array(rng.integers(0, 1_500, ne), i64),
            "event_type": pa.array(rng.choice(["signup", "click", "error", "view", "purchase"], ne)),
            "value": pa.array(np.round(rng.uniform(0, 560.21, ne), 2), f64),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, ne)],
        }
    )
    nd = n["documents"]
    lengths = rng.integers(10, 101, nd)
    texts = [" ".join(rng.choice(_WORDS, k)) for k in lengths]
    for i in rng.choice(nd, size=max(nd // 600, 1), replace=False):  # a few exact duplicates
        texts[i] = texts[(i + 1) % nd]
    tables["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(nd), i64),
            "text": texts,
            "lang": pa.array(rng.choice(_LANGS, nd, p=_LANG_P)),
            "source": [f"src{i % 20}" for i in range(nd)],
            "n_chars": pa.array([len(t) for t in texts], i64),
        }
    )
    nv = n["embeddings"]
    centers = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, nv)
    vecs = centers[labels] / np.linalg.norm(centers[labels], axis=1, keepdims=True)
    vecs = vecs + rng.normal(scale=0.09, size=(nv, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(nv), i64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, i32),
        }
    )
    for name, t in tables.items():
        pq.write_table(t, f"{root}/{name}.parquet")
    return {k: v.num_rows for k, v in tables.items()}


def sizes_record(sizes) -> dict:
    return {type(sizes).__name__: asdict(sizes)}
