"""Smoke self-test of the benchmark at tiny sizes.

    python3 perfbench/selftest.py

Runs from the root of a checkout, like ``run.py``, and checks two things:

1. Every workload in ``BENCHMARK.json``, run through ``run.py`` at the tiny
   size, prints a result whose metrics are exactly the end-to-end metrics,
   each with its unit; one traced run prints exactly the per-layer metrics.
2. The output checks are live: each workload's check passes on a real
   output and reports a problem for the same output with one document
   dropped or one span changed (one row dropped or one cluster id changed
   for the dedup workloads).

Exits non-zero when anything fails.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEED = 1


def _run(workload: str, trace: int) -> list[str]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(SEED), "--seconds", "1", "--trace", str(trace),
         "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        return [f"{workload} trace={trace}: exit {proc.returncode}\n"
                + proc.stderr[-2000:]]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    return _result_problems(result, workload, trace)


def _result_problems(result: dict, workload: str, trace: int) -> list[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    want = {m["name"]: m["unit"]
            for m in bench["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    where = f"{workload} trace={trace}"
    problems = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"{where}: result keys {sorted(result)}")
    if not result["correct"] or result["failed"] or result["attempted"] < 1:
        problems.append(f"{where}: not correct: {result}")
    for name in sorted(set(want) | set(got)):
        if want.get(name) != got.get(name):
            problems.append(f"{where}: metric {name}: unit {got.get(name)!r}"
                            f", BENCHMARK.json says {want.get(name)!r}")
    return problems


# --------------------------------------------------------- live checks

def _rewrite_first_file(out_dir: str, edit) -> None:
    """Apply ``edit`` to the rows of the output's first non-empty file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from perfbench.workloads import _parquet_files

    for path in _parquet_files(out_dir):
        t = pq.read_table(path)
        if t.num_rows:
            rows = t.to_pylist()
            edit(rows)
            pq.write_table(pa.Table.from_pylist(rows, schema=t.schema), path)
            return
    raise RuntimeError(f"no rows in {out_dir}")


def _drop_doc(rows: list) -> None:
    rows.pop(0)


def _change_span(rows: list) -> None:
    row = next(r for r in rows if r["spans"])
    row["spans"][0]["text"] = (row["spans"][0]["text"] or "") + "x"


def _mutants_extract(out_dir: str, tmp: str):
    for name, edit in (("dropped document", _drop_doc),
                       ("changed span", _change_span)):
        copy = os.path.join(tmp, name.replace(" ", "-"))
        shutil.rmtree(copy, ignore_errors=True)
        shutil.copytree(out_dir, copy)
        _rewrite_first_file(copy, edit)
        yield name, copy


def _live_problems(ctx, wl) -> list[str]:
    ref = wl.reference(ctx)
    out = wl.job(ctx, 0)
    problems = [f"{wl.name}: real output: {p}"
                for p in wl.check(ctx, out, True, ref)]
    if wl.name.startswith("extract"):
        base = out[0] if isinstance(out, tuple) else out
        for name, bad_dir in _mutants_extract(base, ctx.run_dir):
            bad = (bad_dir, *out[1:]) if isinstance(out, tuple) else bad_dir
            if not wl.check(ctx, bad, True, ref):
                problems.append(f"{wl.name}: check passed a {name}")
    else:
        changed = list(out)
        d, c, k = changed[0]
        changed[0] = (d, (c or 0) + 1, k)
        for name, bad in (("dropped row", out[1:]),
                          ("changed cluster id", changed)):
            if not wl.check(ctx, bad, False, ref):
                problems.append(f"{wl.name}: check passed a {name}")
    return problems


def live_checks() -> list[str]:
    sys.path.insert(0, ROOT)
    from perfbench import run
    from perfbench.workloads import SIZES, WORKLOADS, Ctx

    run._environment()
    inputs = os.path.join(run.WORK, "inputs")
    run_dir = os.path.join(run.WORK, "runs", "selftest")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    os.makedirs(inputs, exist_ok=True)
    ctx = Ctx(None, SEED, SIZES["tiny"], inputs, run_dir)
    problems = []
    try:
        run.boot(list(WORKLOADS.values()), ctx)
        run.timed_setup(ctx)
        for wl in WORKLOADS.values():
            wl.prepare(ctx)  # cached; points ctx.paths at this one's inputs
            problems += _live_problems(ctx, wl)
    finally:
        if ctx.spark is not None:
            run.stop_jvm(ctx.spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    return problems


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        names = [w["name"] for w in json.load(f)["workloads"]]
    problems = []
    for name in names:
        problems += _run(name, 0)
    problems += _run(names[0], 1)
    problems += live_checks()
    for p in problems:
        print("FAIL", p)
    print("selftest:", "FAILED" if problems else "ok")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
