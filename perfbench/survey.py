#!/usr/bin/env python3
"""Survey of the query registry, from which the board's queries are chosen.

  python3 perfbench/survey.py --seed <n>

Runs every relational registry query (modules Scans ... Sql) and the 14
heavy operator queries traced on the board's seeded sf0.01 tables at
local[2]: one warm-up pass, then two timed passes. Prints one line per
query (median wall seconds, frame build seconds, planning seconds,
codegen seconds, executor run seconds, slot utilization, jobs, tasks,
shuffle bytes), and per module (and for the heavy set) the median time
and layer shares. The board takes from each module, and from the heavy
set, the query nearest its median time (ties go to the cheaper query);
the last line lists them. With several
seeds, each query's figures are averaged over the seeds' surveys. Not part
of the benchmark's runs; it takes several minutes.
"""
import argparse
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen_tables  # noqa: E402
import run as bench  # noqa: E402


def survey(classes, seed):
    """Run the survey harness on one seed; returns (header, rows) of its TSV."""
    work_root = os.path.join(bench.ROOT, ".bench_work")
    work = os.path.join(work_root, f"survey-{seed}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        sf = os.path.join(work, "sf")
        gen_tables.generate(sf, bench.BOARD_SF, seed)
        out = os.path.join(work, "result.json")
        cmd = bench.harness_cmd(classes, work, "survey", sf, seed, 0, 1, out)
        code = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=work).returncode
        if code != 0:
            sys.exit(f"survey: harness exited with code {code}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    rows = [line.rstrip("\n").split("\t") for line in open(os.path.join(work_root, f"survey-{seed}.tsv"))]
    return rows[0], rows[1:]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1", help="comma-separated seeds")
    a = ap.parse_args()
    classes = build.build()
    per_seed = [survey(classes, int(s)) for s in a.seeds.split(",")]
    head = per_seed[0][0]
    # Average each numeric column over the seeds, query by query.
    rows = []
    for i, r in enumerate(per_seed[0][1]):
        vals = [[float(rs[i][c]) for _, rs in per_seed] for c in range(2, len(head))]
        rows.append(r[:2] + [statistics.mean(v) for v in vals])
    col = {name: i for i, name in enumerate(head)}
    print("\t".join(head))
    for r in rows:
        print("\t".join(r[:2] + [f"{v:.4f}" for v in r[2:]]))
    print()
    groups = {}
    for r in rows:
        groups.setdefault(r[0], []).append(r)
    board = []
    for g, rs in groups.items():
        secs = [r[col["secs"]] for r in rs]
        med = statistics.median(secs)
        near = sorted(rs, key=lambda r: (round(abs(r[col["secs"]] - med), 4), r[col["secs"]]))
        board.append(near[0][1])

        def share(c):
            return statistics.median(r[col[c]] / r[col["secs"]] for r in rs)
        print(f"{g}: {len(rs)} queries, median {med:.3f}s; median shares of wall: "
              f"build {share('build_s'):.2f}, plan {share('plan_s'):.2f}, "
              f"codegen {share('codegen_s'):.2f}, slot util "
              f"{statistics.median(r[col['slot_util']] for r in rs):.2f}; median jobs "
              f"{statistics.median(r[col['jobs']] for r in rs):.0f}, shuffle "
              f"{statistics.median(r[col['shuffle_bytes']] for r in rs) / 1e6:.2f} MB")
    print("board: " + " ".join(board))


if __name__ == "__main__":
    main()
