"""Smoke mode of the benchmark (python3 perfbench/run.py --smoke).

For every workload in BENCHMARK.json it runs
  1. an untraced run: every end-to-end metric must print with its unit and
     the output checks must pass;
  2. a traced run: every per-layer metric must print with its unit; the
     difference between its trace.* readings and the untraced readings is
     printed as the tracing overhead;
  3. a run with an injected fault (ingest: one event dropped by the
     generator; query_mix: one sampled row throws): the failure count must
     rise above zero.
Exits non-zero if any check fails.
"""
import json
import sys
from types import SimpleNamespace

SMOKE_SECONDS = 6


def main(args, run_jvm, shape):
    spec = json.load(open("BENCHMARK.json"))
    problems = []
    for w in spec["workloads"]:
        name = w["name"]
        base = dict(workload=name, seed=args.seed, seconds=SMOKE_SECONDS)
        readings = {}
        for trace in (0, 1):
            rc, result = run_jvm(SimpleNamespace(trace=trace, **base))
            shaped = shape(result, trace) if result else None
            if shaped is None:
                problems.append(f"{name} trace={trace}: no complete result (rc {rc})")
                continue
            if not shaped["correct"]:
                problems.append(f"{name} trace={trace}: output checks failed")
            readings[trace] = {k: v["value"] for k, v in shaped["metrics"].items()}
            print(f"smoke: {name} trace={trace}: {len(shaped['metrics'])} metrics, "
                  f"correct={shaped['correct']}", file=sys.stderr)
        if len(readings) == 2:
            for m in spec["end_to_end"]:
                t = readings[1].get(f"trace.{m['name']}")
                if t is not None:
                    print(f"smoke: {name} tracing overhead {m['name']}: "
                          f"{t - readings[0][m['name']]:+.4f} {m['unit']}",
                          file=sys.stderr)
        rc, result = run_jvm(SimpleNamespace(trace=0, **base), ["--fault"])
        if not result or int(result["failed"]) == 0:
            problems.append(f"{name}: injected fault did not raise the failure count")
        else:
            print(f"smoke: {name} injected fault: failed={result['failed']} "
                  f"of {result['attempted']}", file=sys.stderr)
    for p in problems:
        print(f"smoke: FAIL {p}", file=sys.stderr)
    print(json.dumps({"smoke": "fail" if problems else "pass",
                      "problems": problems}))
    return 1 if problems else 0
