#!/usr/bin/env python3
"""Seeded input generator for the benchmark.

Two kinds of input:

* gas day files in the reference shape: `<yyyymmdd>_210000.csv`, a
  `Time (s)` column sampled at `rate` Hz for `hours` hours (25 h by default,
  so the pipeline's `Time (s) <= 86400` filter trims every file) and 19
  sensor channels with four decimals. For each file the generator writes
  `figures/<name>.npz` beside the output directory, with figures computed
  here, apart from the program: raw and kept rows, and per field and per
  minute of the file's day (minute 1440 is the next midnight) the count,
  min, max and exact sum, in integer 1e-4 units, of the kept rows.
* board tables in the shape of the TPC-H-ish `sf` test data (FIXTURES.md
  section B): the five the board's queries read (nation, lineitem, events,
  documents, embeddings).

The same seed gives byte-identical files. Usage:

    python3 perfbench/gen.py gas <outdir> --seed 1 --rate 0.2 --days 4 --start 20161007
    python3 perfbench/gen.py tables <outdir> --seed 1 --scale 0.01
"""
import argparse
import datetime as dt
import hashlib
from pathlib import Path

import numpy as np

FIELDS = (["CO (ppm)", "Humidity (%r.h.)", "Temperature (C)",
           "Flow rate (mL/min)", "Heater voltage (V)"] +
          [f"R{i} (MOhm)" for i in range(1, 15)])
HEADER = "Time (s)," + ",".join(FIELDS)
# channel ranges of the reference data set (tools/make_gas.py)
RANGES = [(0, 20), (10, 80), (15, 35), (180, 260), (0.2, 0.9)] + [(0.1, 60)] * 14
MINUTES = 24 * 60 + 1  # minute 1440 holds the kept boundary row t = 86400
E4 = 10_000


def _rng(seed, *salt):
    h = hashlib.sha256(repr((seed,) + salt).encode()).digest()
    return np.random.default_rng(int.from_bytes(h[:8], "little"))


def day_name(start, k):
    d = dt.datetime.strptime(start, "%Y%m%d").date() + dt.timedelta(days=k)
    return d.strftime("%Y%m%d") + "_210000.csv"


def _write_csv(path, cols_e4):
    """Columns of int64 1e-4 units as exact four-decimal text. The values go
    through arrow's decimal128(18, 4) formatter, which is exact and fast."""
    import pyarrow as pa
    import pyarrow.csv as pacsv

    arrays = []
    for c in cols_e4:
        words = np.zeros((len(c), 2), dtype=np.int64)  # little-endian int128
        words[:, 0] = c
        words[:, 1] = np.where(c < 0, -1, 0)
        arrays.append(pa.Array.from_buffers(pa.decimal128(18, 4), len(c),
                                            [None, pa.py_buffer(words.tobytes())]))
    with open(path, "wb") as f:
        f.write((HEADER + "\n").encode())
        pacsv.write_csv(pa.table(arrays, names=[f"c{i}" for i in range(len(arrays))]),
                        f, pacsv.WriteOptions(include_header=False,
                                              quoting_style="none"))


def write_day(out, figures, name, seed, rate, hours):
    """One day file plus its expected figures. `rate * 86400` must be a
    whole number so the boundary row t = 86400 exists."""
    n = int(round(hours * 3600 * rate)) + 1
    rng = _rng(seed, name, rate)
    t_e4 = np.rint(np.arange(n, dtype=np.float64) * (E4 / rate)).astype(np.int64)
    vals = np.column_stack([rng.integers(int(lo * E4), int(hi * E4), n)
                            for lo, hi in RANGES])  # int64, units of 1e-4
    _write_csv(out / name, [t_e4] + [vals[:, f] for f in range(len(FIELDS))])

    keep = t_e4 <= 86400 * E4
    minute = t_e4[keep] // (60 * E4)
    kv = vals[keep]
    cnt = np.bincount(minute, minlength=MINUTES)
    mn = np.full((len(FIELDS), MINUTES), np.iinfo(np.int64).max)
    mx = np.full((len(FIELDS), MINUTES), np.iinfo(np.int64).min)
    sm = np.zeros((len(FIELDS), MINUTES), dtype=np.int64)
    for f in range(len(FIELDS)):
        np.minimum.at(mn[f], minute, kv[:, f])
        np.maximum.at(mx[f], minute, kv[:, f])
        np.add.at(sm[f], minute, kv[:, f])
    np.savez(figures / (name + ".npz"), rows=n, kept=int(keep.sum()),
             count=cnt, min=mn, max=mx, sum=sm)
    return n, int(keep.sum())


def gas(out, seed, rate, days, start, hours=25.0, offset=0):
    """Day files `offset .. offset+days-1` after `start`; returns
    (name, raw rows, kept rows) per file. A file's content depends only on
    (seed, name, rate), so a file is the same whichever directory or batch
    it is generated for."""
    if abs(rate * 86400 - round(rate * 86400)) > 1e-9:
        raise ValueError("rate * 86400 must be a whole number")
    out = Path(out)
    figures = out.parent / "figures"
    out.mkdir(parents=True, exist_ok=True)
    figures.mkdir(exist_ok=True)
    return [(day_name(start, k),) + write_day(out, figures, day_name(start, k), seed, rate, hours)
            for k in range(offset, offset + days)]


def tables(out, seed, scale):
    """Board tables. Row counts follow the sf test data at `scale`
    (lineitem 600k rows at 0.1); keys into orders, part and supplier stay in
    their tables' ranges. Documents and embeddings carry planted near
    duplicates so the dedup queries have groups to find."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = Path(out)
    out.mkdir(parents=True, exist_ok=True)
    rng = _rng(seed, "tables", scale)
    n_li = int(6_000_000 * scale)
    n_ord = int(1_500_000 * scale)
    n_part = int(200_000 * scale)
    n_supp = max(10, int(10_000 * scale))
    n_ev = int(1_000_000 * scale)
    n_doc = int(50_000 * scale)
    n_emb = int(50_000 * scale)

    def write(name, cols):
        pq.write_table(pa.table(cols), out / f"{name}.parquet")

    write("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    day_ms = 86_400_000
    t0 = int(dt.datetime(1995, 1, 1).timestamp()) * 1000
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    write("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": pa.array(t0 + rng.integers(0, 2500, n_li) * day_ms,
                               pa.timestamp("ms"))})
    ev_t0 = int(dt.datetime(2024, 1, 1).timestamp()) * 1_000_000_000
    ev_ts = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_ev)) * 1000 + ev_t0
    write("events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ev_ts, pa.timestamp("ns")),
        "user_id": pa.array(rng.integers(0, max(50, n_ev // 66), n_ev), pa.int64()),
        "event_type": rng.choice(["click", "view", "purchase", "signup", "error"], n_ev),
        "value": rng.integers(1, 50_000, n_ev) / 100.0,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    vocab = ("join hash row batch scan column customer filter small slow merge "
             "order vector line table data agg value key stream window a spark "
             "part group big sort query fast the").split()
    texts = []
    for i in range(n_doc):
        if i >= 10 and rng.random() < 0.05:  # near duplicate of an earlier doc
            words = texts[int(rng.integers(0, i))].split(" ")
            words[int(rng.integers(0, len(words)))] = "dup"
        else:
            words = list(rng.choice(vocab, int(rng.integers(10, 100))))
        texts.append(" ".join(words))
    write("documents", {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": rng.choice(["en", "de", "es", "fr", "zh"], n_doc,
                           p=[0.5, 0.125, 0.125, 0.125, 0.125]),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    emb = rng.normal(size=(n_emb, 64))
    for i in range(10, n_emb):
        if rng.random() < 0.05:  # near duplicate of an earlier vector
            emb[i] = emb[int(rng.integers(0, i))] + rng.normal(scale=0.01, size=64)
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    write("embeddings", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("kind", choices=["gas", "tables"])
    ap.add_argument("out")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--rate", type=float, default=0.2)
    ap.add_argument("--days", type=int, default=4)
    ap.add_argument("--start", default="20161007")
    ap.add_argument("--scale", type=float, default=0.01)
    a = ap.parse_args()
    if a.kind == "gas":
        for name, rows, kept in gas(a.out, a.seed, a.rate, a.days, a.start):
            print(name, rows, kept)
    else:
        tables(a.out, a.seed, a.scale)


if __name__ == "__main__":
    main()
