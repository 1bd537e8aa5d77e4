#!/usr/bin/env python3
"""The benchmark's own tests, on the small smoke input. Run from the
repository root:

    python3 perfbench/test_perfbench.py

1. Every workload runs through `run.py --smoke`, untraced and traced, and
   prints a correct record with exactly the metrics BENCHMARK.json names.
2. A perturbed output fails its DuckDB check: an as-of match moved one event
   later, and a rolling count off by one.
3. Without the engine's sources the benchmark exits non-zero and prints no
   record.
"""
import json
import os
import shutil
import subprocess
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import check  # noqa: E402

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_build", "test")


def bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def smoke(workload, trace):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", "7", "--seconds", "1", "--trace", str(trace), "--smoke"],
                       capture_output=True, text=True, cwd=ROOT, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    rec = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(rec) == {"correct", "attempted", "failed", "metrics"}, rec
    assert rec["correct"] and rec["failed"] == 0 and rec["attempted"] >= 1, p.stderr[-3000:]
    return rec


def copy_export(name):
    src = os.path.join(ROOT, ".bench_build", "work", "check")
    dst = os.path.join(WORK, name)
    shutil.rmtree(dst, ignore_errors=True)
    shutil.copytree(src, dst)
    return dst


def rewrite(d, table, sql):
    """Replaces export `table` in `d` with `sql` run over it (as `o`)."""
    path = os.path.join(d, table)
    con = duckdb.connect()
    con.execute(f"CREATE TABLE o AS SELECT * FROM read_parquet('{path}/*.parquet')")
    con.execute(f"CREATE TABLE p AS {sql}")
    assert con.sql("SELECT count(*) FROM p").fetchone() == con.sql("SELECT count(*) FROM o").fetchone()
    shutil.rmtree(path)
    os.makedirs(path)
    con.execute(f"COPY p TO '{path}/part-0.parquet' (FORMAT PARQUET)")


def test_asof_moved_one_event_later():
    d = copy_export("asof_later")
    turns = os.path.join(d, "turns")
    rewrite(d, "asof", f"""
      WITH ev AS (SELECT conv_id, ts AS e_ts, CAST(length(text) AS BIGINT) AS v, turn_idx
                  FROM read_parquet('{turns}/*.parquet') WHERE tool = 'search'),
      nxt AS (SELECT o.conv_id, o.turn_idx, arg_min(ev.e_ts, ev.e_ts) AS n_ts,
                     arg_min(ev.v, ev.e_ts) AS n_v
              FROM o JOIN ev ON o.conv_id = ev.conv_id AND ev.e_ts > o.search_ets
              GROUP BY o.conv_id, o.turn_idx),
      pick AS (SELECT * FROM nxt ORDER BY conv_id, turn_idx LIMIT 1)
      SELECT o.* REPLACE (
        CASE WHEN pick.conv_id IS NULL THEN o.search_ets ELSE pick.n_ts END AS search_ets,
        CASE WHEN pick.conv_id IS NULL THEN o.search_value ELSE pick.n_v END AS search_value)
      FROM o LEFT JOIN pick ON o.conv_id = pick.conv_id AND o.turn_idx = pick.turn_idx""")
    (name, ok, detail), = check.check_pit_join(d)
    assert not ok, f"{name} passed a moved as-of match: {detail}"
    return detail


def test_rolling_count_off_by_one():
    d = copy_export("count_off")
    rewrite(d, "features", """
      SELECT * EXCLUDE (rn) REPLACE (
        CASE WHEN rn = 1 THEN count_value_3600s + 1 ELSE count_value_3600s END AS count_value_3600s)
      FROM (SELECT *, row_number() OVER (ORDER BY conv_id, turn_idx) AS rn FROM o)""")
    results = check.check_backfill(d)
    assert not results[0][1], f"a wrong rolling count passed: {results}"
    return results[0][2]


def test_no_sources():
    d = os.path.join(WORK, "no_sources")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
    shutil.copytree(HERE, os.path.join(d, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__", "target"))
    b = bench()
    p = subprocess.run(b["command"] + ["--workload", b["workloads"][0]["name"], "--seed", "1",
                                       "--seconds", "1", "--trace", "0"],
                       capture_output=True, text=True, cwd=d, timeout=180)
    assert p.returncode != 0 and not p.stdout.strip(), (p.returncode, p.stdout)


def main():
    b = bench()
    e2e = {m["name"] for m in b["end_to_end"]}
    layers = {m["name"] for m in b["per_layer"]}
    os.makedirs(WORK, exist_ok=True)
    for w in ("backfill", "pit_join", "resume"):
        rec = smoke(w, 0)
        assert set(rec["metrics"]) == e2e, (w, sorted(rec["metrics"]))
        print(f"ok smoke {w}: {rec['attempted']} operations")
        if w == "pit_join":
            print(f"ok moved as-of match caught: {test_asof_moved_one_event_later()}")
        if w == "backfill":
            print(f"ok off-by-one rolling count caught: {test_rolling_count_off_by_one()}")
    for w in [x["name"] for x in b["workloads"]]:
        rec = smoke(w, 1)
        assert set(rec["metrics"]) == layers, (w, sorted(set(rec["metrics"]) ^ layers))
        print(f"ok traced smoke {w}: {len(rec['metrics'])} layer metrics")
    test_no_sources()
    print("ok no sources: non-zero exit, no record")


if __name__ == "__main__":
    main()
