"""Deterministic synthetic fixtures for the benchmark.

Writes the ten tables the registry reads (the TPC-H-like star schema,
``events``, ``documents`` and ``embeddings``) as one snappy parquet file
with one row group each, with the column names, stored types and value
distributions of the sf0.01 fixture the test suite runs on.  That
fixture is not part of the repository, so ``fixture_profile.json``
records its footers and column statistics (``--profile``), and every
generated fixture is compared with that record before it is used
(:func:`compare_profile`):

- keys are dense ``0..n-1``; foreign keys are uniform over their target;
- dates are whole days stored as microsecond timestamps (orders
  1995-01-01..2001-08-01, shipdates 1995-01-02..2001-11-04); event
  timestamps (microseconds too) form a Poisson arrival process over 30
  days from 2024-01-01 with ``event_id`` in time order;
- documents draw 10-99 tokens from a 30-word vocabulary; exactly 5% of
  them are replaced by a copy of another document plus the token ``dup``
  (so a few are copies of copies), which is the structure the dedup and
  LSH queries find;
- embeddings are i.i.d. unit vectors in 64 dimensions (float32).

Row counts scale with ``sf`` like the suite's fixtures: ``lineitem`` has
6,000,000 x sf rows; ``documents`` and ``embeddings`` never drop below
500.  The same ``(sf, seed)`` always gives byte-identical tables.

Usage::

    python perfbench/datagen.py --sf 0.01 --dst <dir> [--seed 42]
    python perfbench/datagen.py --profile <fixture dir>   # JSON profile
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
EMBED_DIM = 64


def row_counts(sf: float) -> dict[str, int]:
    """Rows per table at scale factor ``sf``."""
    return {
        "region": 5,
        "nation": 25,
        "customer": round(150_000 * sf),
        "supplier": round(10_000 * sf),
        "part": round(200_000 * sf),
        "orders": round(1_500_000 * sf),
        "lineitem": round(6_000_000 * sf),
        "events": round(1_000_000 * sf),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def _days(rng, n: int, lo: dt.date, hi: dt.date) -> pa.Array:
    span = (hi - lo).days
    d = np.datetime64(lo, "D") + rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), n, p=p).astype(np.int32)
    return pa.DictionaryArray.from_arrays(pa.array(idx), pa.array(values)).cast(pa.string())


def _documents(rng, n: int) -> pa.Table:
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 100))])
             for _ in range(n)]
    # near-duplicates: one document in twenty becomes another one plus "dup"
    for i in rng.choice(n, n // 20, replace=False):
        j = (i + rng.integers(1, n)) % n
        texts[i] = texts[j] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def make_tables(sf: float, seed: int = 42) -> dict[str, pa.Table]:
    """Build every fixture table in memory; deterministic in ``(sf, seed)``."""
    n = row_counts(sf)
    rng = np.random.default_rng(seed)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    c = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(c, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(c)]),
        "c_nationkey": pa.array(rng.integers(0, 25, c).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, c, -999.99, 9999.99)),
        "c_mktsegment": _pick(rng, SEGMENTS, c),
    })
    s = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(s, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(s)]),
        "s_nationkey": pa.array(rng.integers(0, 25, s).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, s, -999.99, 9999.99)),
    })
    p = n["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(p, dtype=np.int64)),
        "p_name": _pick(rng, names, p),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, p)]),
        "p_type": _pick(rng, PART_TYPES, p),
        "p_size": pa.array(rng.integers(1, 51, p).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(p) % 1000) / 10.0, 1)),
    })
    o = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(o, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, c, o).astype(np.int64)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], o),
        "o_totalprice": pa.array(_money(rng, o, 1000.0, 500000.0)),
        "o_orderdate": _days(rng, o, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
        "o_orderpriority": _pick(rng, PRIORITIES, o),
    })
    li = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, li).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, p, li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, s, li).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, li).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, li).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, li, 900.0, 105000.0)),
        "l_discount": pa.array(np.round(rng.uniform(0.0, 0.1, li), 2)),
        "l_tax": pa.array(np.round(rng.uniform(0.0, 0.08, li), 2)),
        "l_returnflag": _pick(rng, ["A", "N", "R"], li),
        "l_linestatus": _pick(rng, ["F", "O"], li),
        "l_shipdate": _days(rng, li, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
    })
    e = n["events"]
    month_us = 30 * 86_400 * 1_000_000
    gaps = rng.exponential(month_us / (e + 1), e)
    offs = np.minimum(np.cumsum(gaps).astype(np.int64), month_us - 1)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + offs.astype("timedelta64[us]")
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(e, dtype=np.int64)),
        "ts": pa.array(ts),
        "user_id": pa.array(rng.integers(0, max(1, c // 10), e).astype(np.int64)),
        "event_type": _pick(rng, EVENT_TYPES, e),
        "value": pa.array(np.round(rng.exponential(50.0, e), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]),
    })
    out["documents"] = _documents(rng, n["documents"])
    m = n["embeddings"]
    vec = rng.standard_normal((m, EMBED_DIM)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(m, dtype=np.int64)),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, m).astype(np.int32)),
    })
    return out


def write_fixture(dst: str, sf: float, seed: int = 42) -> dict[str, int]:
    """Write every table to ``<dst>/<table>.parquet`` (one row group each)
    and return the row count per table."""
    os.makedirs(dst, exist_ok=True)
    counts = {}
    for name, tbl in make_tables(sf, seed).items():
        pq.write_table(tbl, os.path.join(dst, f"{name}.parquet"),
                       compression="snappy", row_group_size=max(1, tbl.num_rows))
        counts[name] = tbl.num_rows
    return counts


def parquet_rows(d: str) -> dict[str, int]:
    """Row count of every fixture table under ``d``, from the footers."""
    return {t: pq.ParquetFile(os.path.join(d, f"{t}.parquet")).metadata.num_rows for t in TABLES}


def _build(dst: str, make) -> None:
    """Run ``make(tmp)`` and move its output to ``dst`` in one rename, so
    an interrupted build never leaves a half-written fixture behind."""
    tmp = f"{dst}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    make(tmp)
    shutil.rmtree(dst, ignore_errors=True)
    os.rename(tmp, dst)


def _write_checked(dst: str, sf: float) -> None:
    """Write the fixture; at the profiled scale, refuse one that differs
    from the test fixture's recorded profile."""
    write_fixture(dst, sf)
    with open(PROFILE_PATH) as fh:
        want = json.load(fh)
    if want["tables"]["lineitem"]["rows"] == row_counts(sf)["lineitem"]:
        diffs = compare_profile(profile(dst), want)
        if diffs:
            raise RuntimeError(f"generated fixture differs from {PROFILE_PATH}: {diffs}")


def ensure_fixtures(root: str, data: str, sf: float, mult: int) -> dict:
    """Make (once) and check the benchmark's two inputs under ``data``:
    the query fixture at ``sf`` (compared with the recorded profile when
    it is made), and the export source that ``scripts/gen_sf.py`` scales
    up ``mult`` times from it.  Every table's row count is checked against
    what the generators promise before any timing starts; a mismatch
    raises."""
    qdir = os.path.join(data, f"sf{sf:g}")
    edir = os.path.join(data, f"sf{sf:g}x{mult}")
    if not os.path.isdir(qdir):
        _build(qdir, lambda d: _write_checked(d, sf))
    if not os.path.isdir(edir):
        _build(edir, lambda d: subprocess.run(
            [sys.executable, os.path.join(root, "scripts", "gen_sf.py"),
             "--src", qdir, "--dst", d, "--mult", str(mult)],
            check=True, stdout=subprocess.DEVNULL))
    want_q = row_counts(sf)
    want_e = {t: n if t in ("region", "nation") else n * mult for t, n in want_q.items()}
    got_q, got_e = parquet_rows(qdir), parquet_rows(edir)
    if got_q != want_q or got_e != want_e:
        raise RuntimeError(
            f"fixture row counts differ: {qdir} {got_q} vs {want_q}; {edir} {got_e} vs {want_e}")
    return {
        "query": {"dir": qdir, "rows": got_q},
        "export": {
            "dir": edir,
            "rows": got_e,
            "bytes": sum(os.path.getsize(os.path.join(edir, f"{t}.parquet")) for t in TABLES),
        },
    }


# -- fidelity to the test fixture -------------------------------------------
PROFILE_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixture_profile.json")
# Statistics beyond the per-column summary, for the structure the
# queries depend on: order fan-out and the near-duplicate documents.
EXTRA_STATS = {
    "lineitem.distinct_orders": "SELECT count(DISTINCT l_orderkey) FROM lineitem",
    "documents.dup_docs": "SELECT count(*) FROM documents WHERE text LIKE '% dup'",
    "documents.distinct_texts": "SELECT count(DISTINCT text) FROM documents",
    "documents.vocabulary": (
        "SELECT count(DISTINCT w) FROM (SELECT unnest(string_split(text, ' ')) w FROM documents)"),
    "embeddings.dim": "SELECT max(len(embedding)) FROM embeddings",
    "events.days": "SELECT count(DISTINCT date_trunc('day', ts)) FROM events",
}


def profile(d: str) -> dict:
    """Footer schema, row count and per-column summary (DuckDB
    ``SUMMARIZE``) of every table under ``d``, plus ``EXTRA_STATS``."""
    import duckdb

    con = duckdb.connect()
    out: dict = {"tables": {}, "extra": {}}
    try:
        for t in TABLES:
            path = os.path.join(d, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            meta = pq.ParquetFile(path)
            cols = {}
            for name, ctype, lo, hi, uniq, avg, *_ in con.sql(f"SUMMARIZE {t}").fetchall():
                cols[name] = {"type": ctype, "min": lo, "max": hi, "approx_unique": uniq,
                              "avg": None if avg is None else float(avg)}
            out["tables"][t] = {
                "rows": meta.metadata.num_rows,
                "row_groups": meta.metadata.num_row_groups,
                "schema": {f.name: str(f.type) for f in meta.schema_arrow},
                "columns": cols,
            }
        for k, sql in EXTRA_STATS.items():
            out["extra"][k] = con.sql(sql).fetchone()[0]
    finally:
        con.close()
    return out


def _num(ctype: str, v):
    """A ``SUMMARIZE`` min/max as a number, or None for strings and lists."""
    if v is None or ctype.startswith(("VARCHAR", "STRUCT")) or ctype.endswith("[]"):
        return None
    if ctype.startswith("TIMESTAMP") or ctype == "DATE":
        return dt.datetime.fromisoformat(v).timestamp()
    return float(v)


def compare_profile(got: dict, want: dict, tol: float = 0.1) -> list[str]:
    """Differences of ``got`` from ``want``: schema, row counts and row
    groups must be equal; a numeric mean within ``tol`` of the recorded
    column range, min and max (the extremes of a long tail) within
    ``2.5 * tol``; distinct counts and ``EXTRA_STATS`` within ``tol``
    relative (or 2 absolute)."""
    diffs = []

    def close_count(a, b) -> bool:
        return abs(a - b) <= max(2, tol * abs(b))

    for t, w in want["tables"].items():
        g = got["tables"].get(t)
        if g is None:
            diffs.append(f"{t}: missing")
            continue
        for k in ("rows", "row_groups", "schema"):
            if g[k] != w[k]:
                diffs.append(f"{t}.{k}: {g[k]} != {w[k]}")
        for c, wc in w["columns"].items():
            gc = g["columns"].get(c)
            if gc is None or gc["type"] != wc["type"]:
                diffs.append(f"{t}.{c}: type {gc and gc['type']} != {wc['type']}")
                continue
            if not close_count(gc["approx_unique"], wc["approx_unique"]):
                diffs.append(f"{t}.{c}: ~{gc['approx_unique']} distinct != ~{wc['approx_unique']}")
            lo, hi = _num(wc["type"], wc["min"]), _num(wc["type"], wc["max"])
            if lo is None:
                continue
            span = max(hi - lo, 1e-9)
            for k in ("min", "max", "avg"):
                a = gc[k] if k == "avg" else _num(gc["type"], gc[k])
                b = wc[k] if k == "avg" else _num(wc["type"], wc[k])
                slack = tol if k == "avg" else 2.5 * tol
                if a is not None and b is not None and abs(a - b) > slack * span:
                    diffs.append(f"{t}.{c}: {k} {gc[k]} != {wc[k]}")
    for k, b in want["extra"].items():
        a = got["extra"].get(k)
        if a is None or not close_count(a, b):
            diffs.append(f"{k}: {a} != {b}")
    return diffs


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--sf", type=float)
    ap.add_argument("--dst")
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--profile", metavar="DIR", help="print the profile of a fixture dir as JSON")
    args = ap.parse_args()
    if args.profile:
        print(json.dumps(profile(args.profile), indent=1, sort_keys=True))
        return
    if args.sf is None or not args.dst:
        ap.error("--sf and --dst are required unless --profile is given")
    for name, rows in write_fixture(args.dst, args.sf, args.seed).items():
        print(f"{name}: {rows} rows")


if __name__ == "__main__":
    main()
