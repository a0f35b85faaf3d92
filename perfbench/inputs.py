"""Seeded input generators for the three benchmark workloads.

Every generator is a pure function of its seed: the same seed writes
byte-identical files, two seeds write different ones. The program under
test only ever sees the files.

- :func:`write_relational` writes the star-schema tables the
  ``citibike_sql`` queries read (same names, columns and value domains
  as the repo's sf testdata; row counts scale with ``sf``).
- :func:`write_corpus` writes ``documents``/``embeddings`` with the
  seeded generators of ``scripts/scale_rehearsal.py``, split into at
  least one row group per core so every core gets a scan split.
- :func:`stage_stream` writes the micro-batch files of one
  ``stream_ingest`` pass plus the landed corpus the admission leg
  dedups against.
"""

from __future__ import annotations

import calendar
import datetime as dt
import hashlib
import importlib.util
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# parquet writer settings pinned so output bytes depend only on the data
_PQ = {"compression": "snappy", "write_statistics": True, "use_dictionary": True}


def _scale_rehearsal():
    """``scripts/scale_rehearsal.py`` loaded by path (``scripts`` is not a
    package)."""
    path = os.path.join(ROOT, "scripts", "scale_rehearsal.py")
    spec = importlib.util.spec_from_file_location("perfbench_scale_rehearsal", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _write(table: pa.Table, path: str, row_groups: int = 1) -> None:
    rows = max(1, -(-table.num_rows // row_groups))
    pq.write_table(table, path, row_group_size=rows, **_PQ)


def _days(start: dt.date, offsets: np.ndarray) -> pa.Array:
    base = np.datetime64(start.isoformat(), "us")
    return pa.array(base + offsets.astype("timedelta64[D]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def write_relational(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write region/nation/customer/supplier/part/orders/lineitem/events
    at scale ``sf`` (lineitem ~6M x sf rows). Returns rows per table."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_li = max(6000, int(6_000_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_users = max(50, int(15_000 * sf))
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": pa.array(
                np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])[
                    rng.integers(0, 5, n_cust)
                ]
            ),
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    colors = np.array(["red", "blue", "green", "hot", "cold", "small", "large", "tiny"])
    things = np.array(["bolt", "ring", "widget", "gear", "nut", "pipe", "valve", "spring"])
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": pa.array(
                np.char.add(
                    np.char.add(colors[rng.integers(0, 8, n_part)], " "),
                    things[rng.integers(0, 8, n_part)],
                )
            ),
            "p_brand": pa.array(np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str))),
            "p_type": pa.array(
                np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])[
                    rng.integers(0, 6, n_part)
                ]
            ),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + rng.integers(0, 1000, n_part) / 10.0, 1),
        }
    )
    order_day = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _days(dt.date(1995, 1, 1), order_day),
            "o_orderpriority": pa.array(
                np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[
                    rng.integers(0, 5, n_ord)
                ]
            ),
        }
    )
    li_order = rng.integers(0, n_ord, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(li_order, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
            "l_shipdate": _days(
                dt.date(1995, 1, 1), order_day[li_order] + rng.integers(1, 122, n_li)
            ),
        }
    )
    # events: 30 days of microsecond timestamps in arrival order
    span_us = 30 * 86_400 * 1_000_000
    ev_us = np.sort(rng.integers(0, span_us, n_ev))
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(np.datetime64("2024-01-01T00:00:00", "us") + ev_us, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
            "event_type": pa.array(
                np.array(["click", "error", "purchase", "signup", "view"])[rng.integers(0, 5, n_ev)]
            ),
            "value": np.round(rng.exponential(40.0, n_ev), 2),
            "props": pa.array(np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n_ev).astype(str)), "}")),
        }
    )
    for name, table in tables.items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def write_corpus(out_dir: str, seed: int, docs: int, vecs: int, cores: int) -> dict[str, int]:
    """Write ``documents``/``embeddings`` from scale_rehearsal's seeded
    generators, each in at least ``cores`` row groups (no row-count floor
    — a floor would leave a small table in fewer groups than cores).
    ``docs=0`` writes the embeddings only."""
    sr = _scale_rehearsal()
    os.makedirs(out_dir, exist_ok=True)
    tables = {"embeddings": sr.gen_embeddings(vecs, seed=seed)}
    if docs:
        tables["documents"] = sr.gen_documents(docs, seed=seed)
    for name, table in tables.items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"), row_groups=cores)
    return {name: t.num_rows for name, t in tables.items()}


# ---------------------------------------------------------------- streaming

_FEED_START = dt.datetime(2024, 3, 1, 8, 0, 0)


def stage_stream(out_dir: str, seed: int, pass_no: int, batches: int, rows: int) -> dict:
    """Stage one stream_ingest pass under ``out_dir``:

    - ``feed/``: 3-minute station-feed snapshots (JSON lines) for the
      rollup leg, ``rows`` per file;
    - ``docs/`` + ``corpus/``: document batches for the admission leg,
      half of each batch re-sending a hash already landed in the corpus,
      and some novel texts repeated within the pass;
    - ``vecs/``: embedding batches for the index leg, ids disjoint from
      the build corpus and from every other pass.

    Returns what the output checks compare against: staged rows per leg,
    the 15-minute rollup rows ``(interval epoch s, station, min bikes,
    min docks, samples)`` and the sorted texts admission must admit."""
    rng = np.random.default_rng([seed, 2, pass_no])
    feed, docs, vecs = (os.path.join(out_dir, d) for d in ("feed", "docs", "vecs"))
    for d in (feed, docs, vecs):
        os.makedirs(d, exist_ok=True)
    stations = max(10, rows // 4)
    known = [f"landed doc {seed} {i}" for i in range(rows * batches)]
    admitted: set[str] = set()
    vec_base = 10_000_000 + pass_no * batches * rows
    rollup: dict[tuple[int, int], list[int]] = {}
    for b in range(batches):
        t0 = _FEED_START + dt.timedelta(minutes=3 * b)
        bikes = rng.integers(0, 40, rows)
        sid = rng.integers(0, stations, rows)
        sec = rng.integers(0, 180, rows)
        with open(os.path.join(feed, f"b{b:04d}.json"), "w") as f:
            for r in range(rows):
                ts = t0 + dt.timedelta(seconds=int(sec[r]))
                epoch = calendar.timegm(ts.timetuple())
                key = (epoch - epoch % 900, int(sid[r]))
                agg = rollup.setdefault(key, [40, 40, 0])
                agg[0] = min(agg[0], int(bikes[r]))
                agg[1] = min(agg[1], int(40 - bikes[r]))
                agg[2] += 1
                f.write(
                    json.dumps(
                        {
                            "id": int(sid[r]),
                            "stationName": f"S{int(sid[r])}",
                            "availableBikes": int(bikes[r]),
                            "availableDocks": int(40 - bikes[r]),
                            "statusValue": "In Service",
                            "lastCommunicationTime": ts.strftime("%Y-%m-%d %I:%M:%S %p"),
                        }
                    )
                    + "\n"
                )
        pick = rng.integers(0, len(known), rows)
        novel = rng.integers(0, rows * 2, rows)
        with open(os.path.join(docs, f"b{b:04d}.json"), "w") as f:
            for r in range(rows):
                if r % 2 == 0:
                    text = known[pick[r]]
                else:
                    text = f"novel doc {seed} {pass_no} {int(novel[r])}"
                    admitted.add(text)
                ts = t0 + dt.timedelta(seconds=int(sec[r]))
                f.write(
                    json.dumps(
                        {"doc_id": b * rows + r, "ts": ts.strftime("%Y-%m-%dT%H:%M:%S"), "text": text}
                    )
                    + "\n"
                )
        ids = np.arange(vec_base + b * rows, vec_base + (b + 1) * rows, dtype=np.int64)
        emb = rng.normal(size=(rows, 64)).astype(np.float32)
        pq.write_table(
            pa.table(
                {
                    "vec_id": ids,
                    "embedding": pa.FixedSizeListArray.from_arrays(emb.reshape(-1), 64).cast(
                        pa.list_(pa.float32())
                    ),
                }
            ),
            os.path.join(vecs, f"b{b:04d}.parquet"),
            **_PQ,
        )
    hashes = sorted(hashlib.md5(t.encode()).hexdigest() for t in known)
    _write(pa.table({"content_hash": hashes}), os.path.join(out_dir, "corpus.parquet"))
    return {
        "feed_rows": batches * rows,
        "doc_rows": batches * rows,
        "vec_rows": batches * rows,
        "rollup": sorted(k + tuple(v) for k, v in rollup.items()),
        "admitted": sorted(admitted),
    }
