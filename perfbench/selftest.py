"""Smoke-scale self-test of the benchmark, run from the repository root:

    python3 perfbench/selftest.py

Every workload runs at smoke scale in one engine session, with one
round of ops untraced and one traced. The test fails unless:

- both reports print every metric of ``BENCHMARK.json`` with its unit;
- the correctness gate passes every real output and rejects a
  corrupted copy of one;
- the span file parses back and every parent link points at a span of
  the same op whose interval encloses the child's.
"""

from __future__ import annotations

import json
import os
import sys
import time

import run as bench


def check_metrics(result: dict, spec: list[dict], label: str) -> list[str]:
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    errors = []
    if got != want:
        errors.append(f"{label}: metrics/units differ from BENCHMARK.json: "
                      f"missing {sorted(set(want) - set(got))}, "
                      f"extra {sorted(set(got) - set(want))}, "
                      f"unit mismatches {[k for k in want if k in got and got[k] != want[k]]}")
    for k, v in result["metrics"].items():
        if not isinstance(v["value"], (int, float)):
            errors.append(f"{label}: {k} is not a number: {v['value']!r}")
    return errors


def check_spans(path: str) -> list[str]:
    from tracing import load_spans

    spans = load_spans(path)
    if not spans:
        return [f"{path}: no spans"]
    by_id = {s["id"]: s for s in spans}
    errors = []
    for s in spans:
        if s["parent"] is None:
            continue
        p = by_id.get(s["parent"])
        if p is None:
            errors.append(f"span {s['id']} ({s['name']}): parent {s['parent']} missing")
        elif p["op"] != s["op"]:
            errors.append(f"span {s['id']} ({s['name']}): parent in another op")
        elif not (p["start"] <= s["start"] and s["end"] <= p["end"]):
            errors.append(f"span {s['id']} ({s['name']}): outside its parent")
    return errors


def main() -> int:
    started = time.perf_counter()
    work = bench.prepare_process("selftest")
    import numpy as np

    from harness import cores, fresh_dir
    from tracing import Tracer
    from workloads import WORKLOADS

    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    names = [w["name"] for w in spec["workloads"]]
    errors: list[str] = []
    if sorted(names) != sorted(WORKLOADS):
        errors.append(f"BENCHMARK.json workloads {names} != {sorted(WORKLOADS)}")
    spark, get_spark_s, _ = bench.start_session()
    try:
        for name in names:
            t0 = time.perf_counter()
            tracer = Tracer(spark, cores())
            wl = WORKLOADS[name](
                spark, tracer, np.random.default_rng(7),
                fresh_dir(os.path.join(work, name)), "smoke",
            )
            r = bench.Run(spark, get_spark_s, wl, tracer)
            # the smallest op count: one round of every client per half
            r.execute(0.0, True, t0)
            e2e = bench.as_result(r, False)
            layers = bench.as_result(r, True)
            errors += check_metrics(e2e, spec["end_to_end"], f"{name} trace 0")
            errors += check_metrics(layers, spec["per_layer"], f"{name} trace 1")
            if e2e["failed"]:
                errors.append(f"{name}: {e2e['failed']} of {e2e['attempted']} ops failed")
            kept = [rec for rec in r.records() if rec.ok and rec.output is not None]
            if not kept:
                errors.append(f"{name}: no kept output to corrupt")
            elif wl.check(wl.corrupt(kept[0].output)):
                errors.append(f"{name}: gate passed a corrupted output")
            spans = os.path.join(wl.work, "spans.jsonl")
            tracer.dump(spans)
            errors += [f"{name}: {e}" for e in check_spans(spans)]
            print(f"selftest {name}: {len(r.records())} ops, "
                  f"{len(tracer.spans)} spans, {time.perf_counter() - t0:.1f} s",
                  flush=True)
    finally:
        bench.stop_session(spark)
    for e in errors:
        print("FAIL", e)
    print(f"selftest {'FAILED' if errors else 'passed'} in "
          f"{time.perf_counter() - started:.0f} s")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
