#!/usr/bin/env python3
"""The repo benchmark: one workload of registry queries, run by one
closed-loop client in a fresh JVM, timed end to end and checked against
the DuckDB oracles.

    python3 perfbench/run.py --workload <name|all> --seed N --seconds S --trace 0|1

Run from the repository root. It builds the program and the benchmark's
JVM side (skipped when no source changed), derives the seeded inputs,
runs the workload's queries in the number of passes that fills S seconds
at the workload's nominal pass time, checks pass 0's results, and prints each metric with its unit and sample count; the last
line is one JSON object with `correct`, `attempted`, `failed` and
`metrics` (end-to-end metrics with --trace 0, per-layer with --trace 1).
Side files land in .bench_out/<workload>/seed<N>-trace<T>/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

import build  # noqa: E402
import inputs  # noqa: E402
import stats  # noqa: E402

try:
    import oracle  # noqa: E402 - takes its comparison rules from tools/check_oracle.py
except ImportError as e:
    sys.exit(f"perfbench: run it from a checkout of the repository ({e})")

HEAP = "3g"
# what spark-submit adds on JDK 17 (Spark's JavaModuleOptions), as build.sbt does
OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
JVM_FLAGS = [f"-Xmx{HEAP}", "-XX:+UnlockDiagnosticVMOptions",
             "-XX:GCLockerRetryAllocationCount=64", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC"] + OPENS
JVM_LIMIT_S = 150  # a workload's JVM is killed after this; the check follows


class RunError(Exception):
    pass


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def java(classes: Path, main: str, args: list, log: Path, tmp: Path, timeout: float) -> None:
    """Run a JVM main to completion (its whole process group on timeout)."""
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java"] + JVM_FLAGS + [f"-Djava.io.tmpdir={tmp}", "-cp",
                                  build.classpath(ROOT, classes), main] + [str(a) for a in args]
    env = dict(os.environ, GRAFT_REPO_ROOT=str(ROOT))
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, env=env,
                                cwd=ROOT, start_new_session=True)
        try:
            rc = proc.wait(timeout=timeout)
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise
    if rc != 0:
        tail = log.read_text(errors="replace")[-3000:]
        raise RunError(f"{main} exited {rc}; log tail:\n{tail}")


def cpu_ticks() -> tuple:
    """(steal, total) jiffies of the host's CPUs, from /proc/stat."""
    fields = [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]]
    return fields[7], sum(fields)


def read_jsonl(p: Path) -> list:
    return [json.loads(line) for line in p.read_text().splitlines() if line]


def passes(seconds: int, pass_s: float, trace: int) -> int:
    """Passes that fill `seconds` at the workload's nominal pass time: at
    least 3, and at least 4 when traced, so the traced passes (1, 3) and
    the untraced one (2) straddle the warm-up trend evenly."""
    return max(4 if trace else 3, round(seconds / pass_s))


def run_workload(name: str, queries: list, doc_copies: int, n_passes: int, seed: int,
                 seconds: int, trace: int, classes: Path, deadline: float) -> dict:
    data, manifest = inputs.seeded_inputs(HERE / "data", ROOT / ".bench_cache" / "inputs", seed,
                                          doc_copies)
    out = ROOT / ".bench_out" / name / f"seed{seed}-trace{trace}"
    shutil.rmtree(out, ignore_errors=True)
    work = out / "work"
    ticks = cpu_ticks()
    try:
        java(classes, "perfbench.Main",
             ["--data", data, "--work", work, "--out", out, "--queries", ",".join(queries),
              "--passes", n_passes, "--trace", trace, "--cpus", cpus()],
             out / "jvm.log", work / "tmp", timeout=deadline - time.time())
        records = read_jsonl(out / "records.jsonl")
        sessions = read_jsonl(out / "sessions.jsonl")
        meta = json.loads((out / "meta.json").read_text())
        probe = json.loads((out / "probe.json").read_text()) if trace else None
        oracle_cache = ROOT / ".bench_cache" / "oracle"
        checks = oracle.check(data, out / "results", json.loads((out / "oracle.json").read_text()),
                              oracle_cache / data.name)
        inputs.prune(oracle_cache)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        shutil.rmtree(out / "results", ignore_errors=True)
    steal = [b - a for a, b in zip(ticks, cpu_ticks())]
    passed = {q: oracle.passed(s) for q, s in checks.items()}
    attempted, failed = stats.failures(records, passed)
    correct = failed == 0 and all(passed.values()) and (probe is None or stats.probe_ok(probe))
    metrics = (stats.per_layer(records, sessions, meta, probe) if trace
               else stats.end_to_end(records, sessions))
    walls = [r["wall_s"] for r in records if r["ok"] and stats.warm(r)]
    result = {
        "workload": name, "seed": seed, "seconds": seconds, "trace": trace,
        "queries": queries, "inputs": manifest["tables"], "passes": meta["passes"],
        "correct": correct, "attempted": attempted, "failed": failed,
        "fail_frac": failed / attempted if attempted else 1.0,
        "query_wall_s": stats.timing(walls),
        # CPU time the hypervisor gave to other guests while this run ran
        "host_steal_frac": steal[0] / steal[1] if steal[1] else 0.0,
        "shares": stats.shares(metrics) if trace else None,
        "checks": checks,
        "errors": sorted({f"{r['query']}: {r['error']}" for r in records if not r["ok"]}),
        "metrics": {k: {"value": v, "unit": u, "samples": n} for k, (v, u, n) in metrics.items()},
    }
    (out / "result.json").write_text(json.dumps(result, indent=1))
    return result


def report(result: dict, names: list) -> dict:
    """Print the human-readable lines; return the contract object."""
    w = result["workload"]
    print(f"[{w}] seed {result['seed']}, {result['passes']} passes, "
          f"{sum(t['rows'] for t in result['inputs'].values())} input rows, "
          f"{sum(t['bytes'] for t in result['inputs'].values())} input bytes, "
          f"host CPU steal {result['host_steal_frac']:.1%}")
    for q, status in sorted(result["checks"].items()):
        print(f"[{w}] check {q}: {status}")
    for e in result["errors"]:
        print(f"[{w}] error {e}")
    print(f"[{w}] fail_frac = {result['fail_frac']:.6g} "
          f"({result['failed']} of {result['attempted']} query executions)")
    for k, m in result["metrics"].items():
        print(f"[{w}] {k} = {m['value']:.6g} {m['unit']} (n={m['samples']})")
    if result["shares"]:
        sh = result["shares"]
        print(f"[{w}] traced query time: run {sh['run']:.1%}, plan {sh['plan']:.1%}, "
              f"exec {sh['exec']:.1%}; tasks ran {sh['core_busy']:.1%} of the cores' time")
    missing = [n for n in names if n not in result["metrics"]]
    if missing:
        raise RunError(f"metrics not computed: {missing}")
    return {"correct": result["correct"], "attempted": result["attempted"],
            "failed": result["failed"],
            "metrics": {n: {"value": result["metrics"][n]["value"],
                            "unit": result["metrics"][n]["unit"]} for n in names}}


def main() -> int:
    spec = json.loads((HERE / "workloads.json").read_text())["workloads"]
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(spec) + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    try:
        declared = json.loads((ROOT / "BENCHMARK.json").read_text())
        names = [m["name"] for m in declared["per_layer" if a.trace else "end_to_end"]]
        classes = build.build(ROOT, ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
        workloads = sorted(spec) if a.workload == "all" else [a.workload]
        lines = {}
        for w in workloads:
            lines[w] = report(run_workload(w, spec[w]["queries"], spec[w].get("doc_copies", 1),
                                           passes(a.seconds, spec[w]["pass_s"], a.trace), a.seed,
                                           a.seconds, a.trace, classes,
                                           time.time() + JVM_LIMIT_S), names)
    except (build.BuildError, RunError, subprocess.SubprocessError, OSError, ValueError,
            KeyError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    print(json.dumps(lines[a.workload] if a.workload != "all" else lines))
    return 0


if __name__ == "__main__":
    sys.exit(main())
