#!/usr/bin/env python3
"""Benchmark of the graft dedup engine.

Runs one workload in a fresh child JVM (local[4], fixed pre-touched heap)
and prints, as the last line of stdout, one JSON object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics (from a separate traced run). A
`host` line before it records the kernel canary and load average.

Usage:
  python3 benchmark/run.py --workload dedup_images --seed 1 --seconds 10 --trace 0
  python3 benchmark/run.py --self-test

Exits non-zero when the program fails, an output check fails, or the
checkout has no program to build.
"""
import argparse
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

ROOT = build.ROOT
RUNS_DIR = os.path.join(build.BUILD_DIR, "runs")
SPANS_DIR = os.path.join(build.BUILD_DIR, "spans")
CHILD_TIMEOUT_S = 165
DEFAULT_HEAP = "2g"
HEAP_HEADROOM_MB = 2048
MIN_HEAP_MB = 1536
RESULT_PREFIX = "DEDUPBENCH-RESULT "

# Spark 4 on JDK 17 needs these outside spark-submit (as in build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BenchError(RuntimeError):
    pass


_SIZE = re.compile(r"^([1-9][0-9]*)([kmgt]?)$")


def size_to_mb(s):
    """Parse a -Xmx-style size ("3g", "2048m") into MiB; refuse anything
    else (e.g. "1.5g") instead of guessing."""
    m = _SIZE.match(s.strip().lower())
    if not m:
        raise BenchError(f"malformed heap size {s!r} (want e.g. 3g or 3072m)")
    n, unit = int(m.group(1)), m.group(2)
    mb = {"k": n / 1024, "": n / (1024 * 1024), "m": n, "g": n * 1024,
          "t": n * 1024 * 1024}[unit]
    if mb < 1:
        raise BenchError(f"heap size {s!r} is below 1 MiB")
    return int(mb)


def mem_available_mb(meminfo="/proc/meminfo"):
    try:
        with open(meminfo) as f:
            for line in f:
                if line.startswith("MemAvailable:"):
                    return int(line.split()[1]) // 1024
    except OSError:
        pass
    return None


def child_heap_mb(requested, available):
    """The measured JVM's heap (-Xms = -Xmx), computed once per invocation:
    the requested size, lowered only when MemAvailable minus headroom is
    smaller."""
    want = size_to_mb(requested)
    if available is None:
        return want
    heap = min(want, available - HEAP_HEADROOM_MB)
    if heap < MIN_HEAP_MB:
        raise BenchError(f"only {available} MiB available; the benchmark needs "
                         f"{MIN_HEAP_MB + HEAP_HEADROOM_MB} MiB")
    return heap


def pid_alive(pid):
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def reap_stale_runs(runs_dir=RUNS_DIR):
    """Remove the run directories (inputs, work dirs, Spark local dirs) of
    runs whose process is gone, e.g. after a crash."""
    if not os.path.isdir(runs_dir):
        return []
    reaped = []
    for name in os.listdir(runs_dir):
        m = re.match(r"^(\d+)-", name)
        if m and not pid_alive(int(m.group(1))):
            shutil.rmtree(os.path.join(runs_dir, name), ignore_errors=True)
            reaped.append(name)
    return reaped


def load_spec(root=ROOT):
    try:
        with open(os.path.join(root, "BENCHMARK.json"), encoding="utf-8") as f:
            return json.load(f)
    except (OSError, ValueError) as e:
        raise BenchError(f"cannot read BENCHMARK.json: {e}")


def jvm_command(classes, heap_mb, main, args, tmp_dir):
    jars = build.spark_jars(ROOT)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return ([build.java(), f"-Xms{heap_mb}m", f"-Xmx{heap_mb}m", "-XX:+AlwaysPreTouch",
             "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp_dir}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + opens + ["-cp", classes + os.pathsep + os.path.join(jars, "*"), main]
            + args)


_child = None


def _on_signal(signum, _frame):
    if _child is not None and _child.poll() is None:
        os.killpg(_child.pid, signal.SIGKILL)
        _child.wait()
    sys.exit(128 + signum)


def run_jvm(cmd, log_path, timeout_s):
    """Run the child JVM in its own process group; kill the whole group
    on timeout. Returns (exit code, stdout)."""
    global _child
    with open(log_path, "w") as log:
        _child = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                                  cwd=ROOT, start_new_session=True)
        try:
            out, _ = _child.communicate(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            os.killpg(_child.pid, signal.SIGKILL)
            _child.communicate()
            raise BenchError(f"child JVM exceeded {timeout_s} s")
        finally:
            if _child.poll() is None:
                os.killpg(_child.pid, signal.SIGKILL)
                _child.wait()
        return _child.returncode, out


def tail(path, n=40):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def assemble(spec, child, spawn_s, trace):
    """The contract's result line from the child's record. End-to-end:
    exactly the spec's metrics, set-up time added here. Per-layer: a
    metric the child does not report belongs to a layer this workload does
    not run, and reads 0; an unknown name is an error. A run with a failed
    operation reports only the metrics it has, and is not correct."""
    section = "per_layer" if trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in spec[section]}
    got = dict(child["metrics"])
    if not trace:
        got["setup_s"] = child["setup_done_epoch_ms"] / 1000 - spawn_s - child["input_gen_s"]
    unknown = set(got) - set(units)
    if unknown:
        raise BenchError(f"child reported metrics not in BENCHMARK.json: {sorted(unknown)}")
    correct = child["failed"] == 0 and child["attempted"] > 0
    if correct and not trace and set(got) != set(units):
        raise BenchError(f"missing end-to-end metrics: {sorted(set(units) - set(got))}")
    if not correct:  # a failed operation reports no timing
        units = {n: u for n, u in units.items() if n in got}
    metrics = {n: {"value": float(got.get(n, 0.0)), "unit": u} for n, u in units.items()}
    return {"correct": correct, "attempted": child["attempted"], "failed": child["failed"],
            "metrics": metrics}


def run_workload(args, spec):
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        raise BenchError(f"unknown workload {args.workload!r} (one of {names})")
    heap_mb = child_heap_mb(os.environ.get("DEDUPBENCH_HEAP", DEFAULT_HEAP),
                            mem_available_mb())
    reaped = reap_stale_runs()
    if reaped:
        print(f"dedupbench: removed {len(reaped)} stale run dirs", file=sys.stderr)
    classes = build.build()
    run_dir = os.path.join(RUNS_DIR, f"{os.getpid()}-{int(time.time() * 1000)}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    spans = os.path.join(SPANS_DIR, f"{args.workload}-seed{args.seed}.jsonl")
    log = os.path.join(run_dir, "jvm.log")
    try:
        cmd = jvm_command(classes, heap_mb, "dedupbench.Main", [
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--run-dir", run_dir, "--spans-out", spans], tmp)
        spawn_s = time.time()
        code, out = run_jvm(cmd, log, CHILD_TIMEOUT_S)
        lines = [l for l in out.splitlines() if l.startswith(RESULT_PREFIX)]
        if code != 0 or not lines:
            sys.stderr.write(tail(log))
            raise BenchError(f"child JVM exited {code} without a result")
    finally:
        try:  # the child's phase timings
            with open(log, errors="replace") as f:
                sys.stderr.writelines(l for l in f if l.startswith("dedupbench:"))
        except OSError:
            pass
        shutil.rmtree(run_dir, ignore_errors=True)
    child = json.loads(lines[-1][len(RESULT_PREFIX):])
    result = assemble(spec, child, spawn_s, args.trace == 1)
    host = dict(child["host"], heap_mb=child["heap_mb"], input_gen_s=child["input_gen_s"])
    if child.get("detail"):
        print("detail " + json.dumps(child["detail"], sort_keys=True))
    if args.trace == 1:
        print(f"spans {os.path.relpath(spans, ROOT)}")
    print("host " + json.dumps(host, sort_keys=True))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


def self_test():
    """The harness's own tests (benchmark/src/dedupbench/SelfTest.scala)."""
    classes = build.build()
    os.makedirs(RUNS_DIR, exist_ok=True)
    run_dir = os.path.join(RUNS_DIR, f"{os.getpid()}-selftest")
    os.makedirs(os.path.join(run_dir, "tmp"))
    try:
        cmd = jvm_command(classes, 2048, "dedupbench.SelfTest", [run_dir],
                          os.path.join(run_dir, "tmp"))
        code, out = run_jvm(cmd, os.path.join(run_dir, "jvm.log"), 600)
        sys.stdout.write(out)
        if code != 0:
            sys.stderr.write(tail(os.path.join(run_dir, "jvm.log")))
        return code
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def main(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--self-test", action="store_true")
    args = p.parse_args(argv)
    signal.signal(signal.SIGTERM, _on_signal)
    signal.signal(signal.SIGINT, _on_signal)
    try:
        if args.self_test:
            return self_test()
        if not args.workload:
            p.error("--workload is required")
        return run_workload(args, load_spec())
    except (BenchError, build.BuildError) as e:
        print(f"dedupbench: {e}", file=sys.stderr)
        return 2


if __name__ == "__main__":
    sys.exit(main())
