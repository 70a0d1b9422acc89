#!/usr/bin/env python3
"""Benchmark entry point. Run from the repository root:

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
  python3 perfbench/run.py --smoke

The first form builds the program (perfbench/build.py) if needed, runs one
workload in a fresh JVM and prints one JSON result line last on stdout.
--smoke checks that every metric in BENCHMARK.json prints with its unit
and that injected faults raise the failure count. See perfbench/README.md.
"""
import argparse
import json
import os
import subprocess
import sys

sys.dont_write_bytecode = True  # leave nothing behind in perfbench/
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def jvm_command(args, extra):
    tmp = os.path.join(build.BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java"] + opens + [
        "-Xms3g", "-Xmx3g", "-XX:ReservedCodeCacheSize=2g", "-XX:MetaspaceSize=512m",
        f"-Djava.io.tmpdir={tmp}",
        "-Dlog4j2.configurationFile=perfbench/log4j2.properties",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", f"{build.CLASSES}:{build.SPARK_JARS}/*",
        "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
    ] + extra)


def run_jvm(args, extra=()):
    """Runs one workload; returns (exit code, parsed last stdout line or None)."""
    proc = subprocess.Popen(jvm_command(args, list(extra)),
                            stdout=subprocess.PIPE, text=True)
    # re-recording the query sample runs each candidate row several times
    timeout = None if "--record" in extra else JVM_TIMEOUT_S
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        print(f"run: workload exceeded {JVM_TIMEOUT_S} s", file=sys.stderr)
        return 1, None
    lines = [l for l in out.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    if proc.returncode != 0 or not lines:
        return proc.returncode or 1, None
    try:
        return 0, json.loads(lines[-1])
    except json.JSONDecodeError:
        print(f"run: last line is not JSON: {lines[-1][:200]}", file=sys.stderr)
        return 1, None


def shape(result, trace):
    """Result line in the benchmark's format, with units from BENCHMARK.json.
    Returns None when a declared metric is missing."""
    spec = json.load(open("BENCHMARK.json"))
    declared = spec["per_layer" if trace else "end_to_end"]
    got = result["metrics"]
    missing = [m["name"] for m in declared if m["name"] not in got]
    extra = sorted(set(got) - {m["name"] for m in declared})
    if missing or extra:
        print(f"run: metrics missing {missing}, undeclared {extra}", file=sys.stderr)
        return None
    failed = int(result["failed"])
    return {"correct": failed == 0, "attempted": int(result["attempted"]),
            "failed": failed,
            "metrics": {m["name"]: {"value": got[m["name"]], "unit": m["unit"]}
                        for m in declared}}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--fault", action="store_true",
                    help="inject one fault (a dropped event or a throwing row)")
    ap.add_argument("--record", action="store_true",
                    help="query_mix: re-record perfbench/fingerprints.json")
    args = ap.parse_args()
    if not os.path.isfile("BENCHMARK.json"):
        print("run: start from the repository root", file=sys.stderr)
        return 2
    rc = build.build()
    if rc != 0:
        return rc
    if args.smoke:
        import smoke
        return smoke.main(args, run_jvm, shape)
    if not args.workload:
        ap.error("--workload is required")
    extra = (["--fault"] if args.fault else []) + (["--record"] if args.record else [])
    rc, result = run_jvm(args, extra)
    if result is None:
        return rc
    shaped = shape(result, args.trace)
    if shaped is None:
        return 1
    print(json.dumps(shaped))
    return 0


if __name__ == "__main__":
    sys.exit(main())
