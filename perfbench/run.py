#!/usr/bin/env python3
"""Benchmark entry point: builds the program from source, makes the seeded
inputs, runs one workload in one JVM, checks the program's outputs and prints
one JSON line.

    python3 perfbench/run.py --workload dashboard_tick --seed 1 --seconds 8 --trace 0

Workloads (see perfbench/README.md for why each exists):

* dashboard_tick  set-up loads a history of day files in one batch; then one
                  day per round: a new day file lands, a trigger loads it, a
                  trigger finds nothing new, the dashboard's panels refresh;
* board           one pass per round over a fixed list of registered queries.

With `--trace 0` the metrics are the end-to-end ones (setup_s, round_s); with
`--trace 1` the run attaches listeners and reports the per-layer figures
instead. A line before the last one carries the workload's own figures
(`{"detail": ...}`). Run from the root of a checkout; all build output and
scratch space sit under `.bench_build/`, and the run's scratch directory is
wiped before and after.
"""
import argparse
import csv
import datetime as dt
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
WORK = BUILD / "work"
sys.path.insert(0, str(HERE))
import gen  # noqa: E402

HEAP = "3g"
JVM_TIMEOUT_S = 160
# dashboard_tick: day files at a reduced rate (the reference samples at
# 3.5 Hz; see the README for the sizing); the history must dwarf one new file
TICK = dict(history=12, arrivals=8, rate=0.05)
# board: one query per family; tx14 is the build-heavy MinHash -> barrier ->
# connected-components seam (see the README for the queries left out)
BOARD_SCALE = 0.01
BOARD_QUERIES = [
    "q01_pricing_summary", "ts03_downsample_1h", "tx14_dedup_groups",
    "v01_cosine_topk", "gs03_field_day_mean", "mm01_media_metadata",
    "cn01_typed_sum",
]
START = "20161007"
N_FIELDS = len(gen.FIELDS)

# the per-layer metrics and their units, as BENCHMARK.json lists them
PER_LAYER = {m["name"]: m["unit"] for m in
             json.loads((ROOT / "BENCHMARK.json").read_text())["per_layer"]}


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ---------------------------------------------------------------- build

def _sources():
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "jvm" / "build.sbt", HERE / "jvm" / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "jvm" / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def build():
    """Compile the program and the runner with sbt (offline), once per
    source state; returns the runner's runtime classpath."""
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail("the program's sources are not in this checkout; nothing to build")
    h = hashlib.sha1()
    for f in _sources():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp, cp_file = BUILD / "stamp", BUILD / "classpath.txt"
    if cp_file.exists() and stamp.exists() and stamp.read_text() == h.hexdigest():
        return cp_file.read_text().strip()
    BUILD.mkdir(exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = Path.home() / ".sbt" / "repositories"
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    try:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE / "jvm", env=env, capture_output=True, text=True, timeout=840)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build did not finish: {e}", 3)
    (BUILD / "build.log").write_text(p.stdout + p.stderr)
    cps = [ln for ln in p.stdout.splitlines() if "perfbench" in ln and ln.startswith("/")]
    if p.returncode != 0 or not cps:
        fail(f"build failed (exit {p.returncode}); see {BUILD / 'build.log'}", 3)
    cp_file.write_text(cps[-1])
    stamp.write_text(h.hexdigest())
    return cps[-1]


# ---------------------------------------------------------------- inputs

def make_inputs(workload, seed):
    """Writes the workload's inputs under WORK/in; returns what the checks
    need to know about them."""
    inp = WORK / "in"
    if workload == "dashboard_tick":
        hist = gen.gas(inp / "landing", seed, TICK["rate"], TICK["history"], START)
        arr = gen.gas(inp / "arrivals", seed, TICK["rate"], TICK["arrivals"], START,
                      offset=TICK["history"])
        return {"history": hist, "arrivals": arr}
    gen.tables(inp / "tables", seed, BOARD_SCALE)
    gen.gas(inp / "gasfix", seed, 0.05, 2, START)
    return {}


# ---------------------------------------------------------------- run

def run_jvm(cp, workload, seconds, trace):
    scratch = WORK / "scratch"
    (scratch / "tmp").mkdir(parents=True, exist_ok=True)
    (WORK / "out").mkdir(parents=True, exist_ok=True)
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    cores = len(os.sched_getaffinity(0))
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}"] +
           [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in opens] +
           ["-Djdk.reflect.useDirectMethodHandleAccessor=false",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={scratch / 'tmp'}",
            f"-Dgraft.gas.fixture.dir={WORK / 'in' / 'gasfix'}",
            f"-Dgraft.vindex.dir={scratch / 'vindex'}"] +
           (["-Dspark.callstack.depth=64"] if trace else []) +
           ["-cp", cp, "perfbench.Runner", "--workload", workload, "--work", str(WORK),
            "--seconds", str(seconds), "--trace", "1" if trace else "0",
            "--cores", str(cores)] +
           (["--queries", ",".join(BOARD_QUERIES)] if workload == "board" else []))
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(scratch / "spark-local"))
    cpu0 = _cpu_times()
    with open(WORK / "jvm.log", "w") as log:
        try:
            p = subprocess.run(cmd, cwd=scratch, env=env, stdout=log, stderr=log,
                               timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"the {workload} JVM ran past {JVM_TIMEOUT_S} s", 4)
    if p.returncode != 0:
        tail = (WORK / "jvm.log").read_text().splitlines()[-30:]
        print("\n".join(tail), file=sys.stderr)
        fail(f"the {workload} JVM failed (exit {p.returncode})", 4)
    res = json.loads((WORK / "out" / "result.json").read_text())
    # share of the machine's CPU time the hypervisor took while the JVM ran
    d = [b - a for a, b in zip(cpu0, _cpu_times())]
    res["steal_share"] = d[7] / sum(d) if len(d) > 7 and sum(d) else 0.0
    return res


def _cpu_times():
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return []


# ---------------------------------------------------------------- checks

def _duck():
    import duckdb
    return duckdb.connect()


PANEL_SQL = """
SELECT epoch_us(time_bucket(INTERVAL '{every}', _time)) AS bucket_us, _field,
  CAST(SUM(CAST(_value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS mean,
  MIN(_value) AS min, MAX(_value) AS max, COUNT(*) AS n
FROM points
WHERE _time >= TIMESTAMP '{start}' AND _time < TIMESTAMP '{stop}' {field}
GROUP BY ALL"""


def _panel_spec(pid, day):
    """(every, start, stop, field) of a panel over new day `day`, the same
    set perfbench.Runner runs."""
    d = dt.date.fromisoformat(day)
    if pid == "day_mean_co":
        return "1 minute", d, d + dt.timedelta(days=1), "CO (ppm)"
    if pid == "week_hourly_co":
        return "1 hour", d - dt.timedelta(days=6), d + dt.timedelta(days=1), "CO (ppm)"
    return "15 minutes", d - dt.timedelta(days=2), d + dt.timedelta(days=1), None


def _day_from_figures(name, prev):
    """Expected 1-minute buckets of one field over day file `name`'s day,
    from the generator's figures: {(bucket_us, field): (mean, min, max, n)}.
    The previous file's boundary row (its minute 1440) falls in minute 0."""
    import numpy as np
    day = dt.datetime.strptime(name[:8], "%Y%m%d").replace(tzinfo=dt.timezone.utc)
    base = int(day.timestamp()) * 1_000_000
    fig = np.load(WORK / "in" / "figures" / (name + ".npz"))
    cnt, mn, mx, sm = (fig[k][..., :1440].astype(object).copy() for k in ("count", "min", "max", "sum"))
    if prev and (WORK / "in" / "figures" / (prev + ".npz")).exists():
        p = np.load(WORK / "in" / "figures" / (prev + ".npz"))
        if p["count"][1440]:
            cnt[0] += p["count"][1440]
            mn[:, 0] = np.minimum(mn[:, 0], p["min"][:, 1440])
            mx[:, 0] = np.maximum(mx[:, 0], p["max"][:, 1440])
            sm[:, 0] += p["sum"][:, 1440]
    out = {}
    for fi, field in enumerate(gen.FIELDS):
        for m in range(1440):
            if cnt[m]:
                out[(base + m * 60_000_000, field)] = (
                    sm[fi, m] / gen.E4 / cnt[m], mn[fi, m] / gen.E4, mx[fi, m] / gen.E4, int(cnt[m]))
    return out


def _same(mine, exp):
    """Same buckets; count, min and max exactly; the mean to 1e-9 relative."""
    return mine.keys() == exp.keys() and all(
        mine[k][1:] == e[1:] and math.isclose(mine[k][0], e[0], rel_tol=1e-9)
        for k, e in exp.items())


def check_tick(res, info):
    """The history load returns exactly the history's files. Each loading
    trigger returns exactly the new file, each no-op trigger returns none,
    and each panel equals DuckDB's aggregate over the raw CSV: count, min and
    max exactly, the mean to 1e-9 relative; the 1-minute day panel also
    equals the generator's own per-minute figures. At the end the store holds 19
    points per kept row of every loaded file (the generator's count), and
    the ledger and `_manifest` hold exactly the loaded files' names."""
    con = _duck()
    h = res["history"]
    loaded = info["history"] + info["arrivals"][:len(res["cycles"])]
    names = sorted(f[0] for f in loaded)
    pts = con.sql(f"SELECT count(*) FROM read_parquet('{h['store']}/*/*/*.parquet')").fetchone()[0]
    led = sorted(r[0] for r in con.sql(
        f"SELECT DISTINCT file_name FROM read_parquet('{h['ledger']}/*.parquet')").fetchall())
    man = sorted(r[0] for r in con.sql(
        f"SELECT DISTINCT _src FROM read_parquet('{h['store']}/_manifest/*.parquet')").fetchall())
    attempted = 1
    failed = int(h["returned"] != sorted(f[0] for f in info["history"]) or
                 pts != N_FIELDS * sum(f[2] for f in loaded) or led != names or man != names)
    csvs = [str(WORK / "in" / "landing" / "*.csv")]
    con.sql(f"""CREATE TABLE points AS
      WITH raw AS (
        SELECT *, strptime(regexp_extract(parse_filename(filename), '\\d{{8}}'), '%Y%m%d')
          + to_microseconds(CAST(trunc("Time (s)" * 1000000) AS BIGINT)) AS _time
        FROM read_csv({csvs}, header=true, filename=true)
        WHERE "Time (s)" <= 86400)
      UNPIVOT (SELECT * EXCLUDE ("Time (s)", filename) FROM raw)
      ON COLUMNS(* EXCLUDE (_time)) INTO NAME _field VALUE _value""")
    got = {}
    with open(WORK / "out" / "panels.csv") as f:
        for r in csv.DictReader(f):
            got.setdefault((int(r["cycle"]), r["panel"]), {})[(int(r["bucket_us"]), r["field"])] = (
                float(r["mean"]), float(r["min"]), float(r["max"]), int(r["n"]))
    for c in res["cycles"]:
        day = f"{c['file'][:4]}-{c['file'][4:6]}-{c['file'][6:8]}"
        attempted += 2
        failed += c["loaded"] != [c["file"]]
        failed += c["noop"] != []
        for p in c["panels"]:
            attempted += 1
            every, start, stop, field = _panel_spec(p["id"], day)
            sql = PANEL_SQL.format(every=every, start=start, stop=stop,
                                   field=f"AND _field = '{field}'" if field else "")
            exp = {(r[0], r[1]): r[2:] for r in con.sql(sql).fetchall()}
            mine = got.get((c["cycle"], p["id"]), {})
            ok = len(mine) == p["rows"] and _same(mine, exp)
            if p["id"] == "day_mean_co":
                # a second oracle: the generator's per-minute figures
                fig = _day_from_figures(c["file"], gen.day_name(c["file"][:8], -1))
                ok = ok and _same(mine, {k: v for k, v in fig.items() if k[1] == "CO (ppm)"})
            failed += not ok
    return attempted, failed


def check_board(res):
    """Each query's result equals its oracle SQL on DuckDB over the same
    tables, compared as tools/check.py does: columns sorted by name, rows in
    order, values exactly equal. A failing query fails every time it ran."""
    con = _duck()
    for t in (WORK / "in" / "tables").glob("*.parquet"):
        con.sql(f"CREATE VIEW {t.stem} AS SELECT * FROM '{t}'")
    oracle = json.loads((WORK / "out" / "oracle.json").read_text())
    bad = []
    for q in BOARD_QUERIES:
        try:
            path = f"{WORK / 'out' / 'board' / q}/*.parquet"
            gcols = sorted(con.sql(f"SELECT * FROM '{path}'").columns)
            grows = con.sql(f"SELECT {', '.join(gcols)} FROM '{path}'").fetchall()
            ecols = sorted(con.sql(oracle[q]).columns)
            erows = con.sql(f"SELECT {', '.join(ecols)} FROM ({oracle[q]})").fetchall()
            if gcols != ecols or grows != erows:
                bad.append(q)
        except Exception as e:  # noqa: BLE001 - a broken oracle or dump fails the query
            print(f"perfbench: {q}: {e}", file=sys.stderr)
            bad.append(q)
    for q in bad:
        print(f"perfbench: {q} does not match its oracle", file=sys.stderr)
    passes = len(res["passes"])
    return passes * len(BOARD_QUERIES), passes * len(bad)


# ---------------------------------------------------------------- figures

def detail(workload, res, info):
    """The workload's own end-to-end figures, from the untraced rounds."""
    if workload == "dashboard_tick":
        # the bulk load is the set-up's batch of the history but its last
        # day, on a cold JVM
        h, hist = res["history"], info["history"][:-1]
        cyc = res["cycles"]
        panels = [1e3 * (p["read_window_s"] + p["exec_s"]) for c in cyc for p in c["panels"]]
        return {"ingest_rows_per_s": sum(f[1] for f in hist) / h["load_s"],
                "store_bytes_per_point": h["store_bytes"] / (N_FIELDS * sum(f[2] for f in hist)),
                "tick_s": statistics.median(c["load_s"] for c in cyc),
                "noop_tick_s": statistics.median(c["noop_s"] for c in cyc),
                "panel_p50_ms": statistics.median(panels),
                "cycles": len(cyc), "panels": len(panels)}
    per_q = {}
    for p in res["passes"]:
        for q, t in p["queries"].items():
            per_q.setdefault(q, []).append(t["build_s"] + t["exec_s"])
    return {"board_s": statistics.median(p["s"] for p in res["passes"]),
            "passes": len(res["passes"]),
            "query_s": {q: statistics.median(v) for q, v in sorted(per_q.items())}}


def main():
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True,
                    choices=["dashboard_tick", "board"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    cp = build()
    shutil.rmtree(WORK, ignore_errors=True)
    try:
        info = make_inputs(a.workload, a.seed)
        res = run_jvm(cp, a.workload, a.seconds, a.trace == 1)
        print(f"perfbench: session {res['session_s']:.2f} s, set-up done at "
              f"{res['setup_s']:.2f} s, rounds {[round(x, 2) for x in res['rounds_s']]} s, "
              f"CPU steal {100 * res['steal_share']:.1f}%", file=sys.stderr)
        if a.workload == "dashboard_tick":
            attempted, failed = check_tick(res, info)
        else:
            attempted, failed = check_board(res)
        if a.trace:
            res["trace.round_s"] = statistics.median(res["rounds_s"])
            metrics = {k: {"value": float(res.get(k) or 0.0), "unit": u}
                       for k, u in PER_LAYER.items()}
        else:
            print(json.dumps({"detail": dict(detail(a.workload, res, info),
                                             heap_mb=res["heap_mb"])}))
            metrics = {
                "setup_s": {"value": res["setup_s"], "unit": "s"},
                "round_s": {"value": statistics.median(res["rounds_s"]), "unit": "s"},
            }
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
