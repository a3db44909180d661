#!/usr/bin/env python3
"""Smoke test of the benchmark at its smallest size.

    python3 perfbench/smoke.py

Run from the repository root. It checks three things and exits non-zero
if any fails:

1. ``run.py`` on the small corpora, for every workload and both
   ``--trace`` modes, prints a correct result whose metrics are exactly
   the ``end_to_end`` (trace 0) or ``per_layer`` (trace 1) names and
   units of ``BENCHMARK.json``; every metric is echoed by name and unit.
2. Every output gate passes on a real pass and fails once a fault is
   planted in what it expects.
3. The neardup gate's Python transcription agrees with
   ``queries.ORACLE_DEDUP_APPLY`` run in DuckDB on the small corpus.
"""

from __future__ import annotations

import contextlib
import copy
import io
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEED = 0


def check_metrics(bench: dict, run) -> list[str]:
    problems = []
    for w in bench["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            argv = ["--workload", w["name"], "--seed", str(SEED), "--seconds", "1", "--trace", str(trace)]
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                run.main(argv, size="small")
            result = json.loads(buf.getvalue().splitlines()[-1])
            want = {m["name"]: m["unit"] for m in bench[key]}
            got = {name: m["unit"] for name, m in result["metrics"].items()}
            print(f"{w['name']} --trace {trace}: correct={result['correct']} "
                  f"attempted={result['attempted']} failed={result['failed']}")
            for name, m in result["metrics"].items():
                print(f"  {name} = {m['value']} {m['unit']}")
            if not result["correct"] or result["failed"]:
                problems.append(f"{w['name']} trace {trace}: gate failed")
            if got != want:
                problems.append(f"{w['name']} trace {trace}: metrics {sorted(set(got) ^ set(want))} differ")
    return problems


def planted(wl) -> list[tuple[str, object]]:
    """(fault name, workload whose expectation carries the fault)."""
    faults = []
    if wl.name == "web_html":
        for key, delta in (("docs", 1), ("words", 1), ("errors", 1)):
            bad = copy.copy(wl)
            bad.expected = dict(wl.expected, **{key: wl.expected[key] + delta})
            faults.append((f"expected {key} + {delta}", bad))
        return faults
    first = sorted(wl.mega.expected)[0]
    for name, mega_expected in (
        (f"megadoc nwords of {first} + 1", dict(wl.mega.expected, **{first: wl.mega.expected[first] + 1})),
        (f"megadoc {first} not expected", {d: n for d, n in wl.mega.expected.items() if d != first}),
    ):
        bad = copy.copy(wl)
        bad.mega = copy.copy(wl.mega)
        bad.mega.expected = mega_expected
        faults.append((name, bad))
    for key in ("survivors", "surviving_chars"):
        bad = copy.copy(wl)
        bad.dup = copy.copy(wl.dup)
        bad.dup.expected = dict(wl.dup.expected, **{key: wl.dup.expected[key] + 1})
        faults.append((f"neardup {key} + 1", bad))
    return faults


def check_gates(bench: dict, run, corpus, workloads) -> list[str]:
    problems = []
    slots = len(os.sched_getaffinity(0))
    spark = run.build_session(slots, None)
    try:
        for w in bench["workloads"]:
            data = corpus.load(w["name"], SEED, os.path.join(run.WORK, "corpus"), "small")
            wl = workloads.make(w["name"], spark, data)
            out = workloads.fresh(os.path.join(run.WORK, "smoke"))
            wl.run(out)
            fails = wl.check(out)
            print(f"{w['name']} gate on a real pass: {fails or 'pass'}")
            if fails:
                problems.append(f"{w['name']}: gate fails on the real pass: {fails}")
            for name, bad in planted(wl):
                fails = bad.check(out)
                print(f"{w['name']} gate with planted fault ({name}): {fails[:1] or 'PASSED (wrong)'}")
                if not fails:
                    problems.append(f"{w['name']}: gate missed planted fault {name}")
            if w["name"] == "skew":
                problems += check_dedup_oracle(wl.dup)
    finally:
        spark.stop()
        run.stop_jvm()
    return problems


def check_dedup_oracle(dup) -> list[str]:
    import duckdb

    from libswish3_spark.operators.queries import ORACLE_DEDUP_APPLY

    con = duckdb.connect()
    try:
        con.execute(f"SET temp_directory='{os.path.join(ROOT, '.perfbench', 'tmp')}'")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{dup.path}/*.parquet')")
        survivors, chars = con.execute(ORACLE_DEDUP_APPLY).fetchone()
    finally:
        con.close()
    oracle = {"survivors": survivors, "surviving_chars": chars}
    print(f"neardup reference {dup.expected} vs DuckDB ORACLE_DEDUP_APPLY {oracle}")
    return [] if oracle == dup.expected else [f"neardup reference {dup.expected} != oracle {oracle}"]


def main() -> int:
    sys.path.insert(0, ROOT)
    from perfbench import corpus, run, workloads

    run.prepare()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    problems = check_metrics(bench, run)
    problems += check_gates(bench, run, corpus, workloads)
    for p in problems:
        print("FAIL:", p)
    print("smoke:", "FAIL" if problems else "ok")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
