#!/usr/bin/env python3
"""graft benchmark: one workload, one run.

    python3 perfbench/run.py --workload serve|registry --seed N \\
        --seconds N --trace 0|1

Run from any directory; paths resolve against the checkout that holds this
file. The first run builds the program and the benchmark from source
(`perfbench/build.py`). The last line of standard output is one JSON object
with the keys `correct`, `attempted`, `failed` and `metrics`: every
end-to-end metric of BENCHMARK.json with `--trace 0`, every per-layer metric
with `--trace 1`. The exit code is 0 only when every operation succeeded and
every checked answer matched. See perfbench/BENCH.md.
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

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402  (the benchmark's own build file)

ROOT = build.ROOT
TIMEOUT_S = 170


def fail(msg: str, code: int = 2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def heap_gb() -> int:
    """Half of MemTotal, clamped to 2..8 GiB (the repository test command's sizing)."""
    try:
        for line in Path("/proc/meminfo").read_text().splitlines():
            if line.startswith("MemTotal:"):
                return max(2, min(8, int(line.split()[1]) // 2097152))
    except OSError:
        pass
    return 2


def steal_ticks() -> int:
    try:
        return int(Path("/proc/stat").read_text().split("\n", 1)[0].split()[8])
    except (OSError, IndexError, ValueError):
        return -1


def registry_data(tiny: bool) -> Path:
    """The read-only test tables: $GRAFT_BENCH_DATA, else ~/testdata/sfX."""
    sf = "sf0.001" if tiny else "sf0.01"
    d = Path(os.environ.get("GRAFT_BENCH_DATA") or Path.home() / "testdata" / sf)
    if not (d / "lineitem.parquet").exists():
        fail(f"registry test tables not found in {d} (set GRAFT_BENCH_DATA)")
    return d


def oracle_compare(data: Path, dump: Path, corrupt: bool):
    """Hash-compares the dumped registry sample with DuckDB through
    scripts/check.py. Returns (checks, mismatches)."""
    oracle_file = dump / "oracle_sql.json"
    if not oracle_file.exists():
        return 0, 1
    oracle = json.loads(oracle_file.read_text())
    if corrupt and oracle:
        name = sorted(oracle)[0]
        oracle[name] = f"SELECT * FROM ({oracle[name]}) AS corrupted LIMIT 0"
        oracle_file.write_text(json.dumps(oracle))
    proc = subprocess.run([sys.executable, str(ROOT / "scripts" / "check.py"), str(data), str(dump)],
                          stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    sys.stderr.write(proc.stdout)
    mismatches = sum(1 for line in proc.stdout.splitlines() if line.startswith("FAIL"))
    if proc.returncode != 0 and mismatches == 0:
        mismatches = 1
    return len(oracle), mismatches


def run_jvm(classes: Path, a, work: Path, data: Path, cores: int, result: Path, trace_file: Path):
    jars = build.spark_jars()
    heap = heap_gb()
    # a fixed heap and young generation: no adaptive resizing, so peak RSS
    # and GC pauses repeat from run to run
    cmd = [build.java(), f"-Xms{heap}g", f"-Xmx{heap}g", "-Xmn1g", "-XX:-UsePerfData",
           "-Dspark.callstack.depth=60",
           f"-Djava.io.tmpdir={work / 'tmp'}"]
    for p in build.ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}:{jars}/*", "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--tiny", "1" if a.tiny else "0",
            "--corrupt", "1" if a.corrupt_expected else "0", "--data", str(data),
            "--work", str(work), "--cores", str(cores), "--result", str(result),
            "--trace-file", str(trace_file)]
    # the JVM's own output goes to stderr: stdout carries only the result
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        return proc.wait(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"benchmark JVM exceeded {TIMEOUT_S} s and was killed", 3)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["serve", "registry"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    # smoke-test hooks: a tiny input size, and one deliberately wrong
    # expected answer (the run must then report a mismatch)
    ap.add_argument("--tiny", action="store_true", help=argparse.SUPPRESS)
    ap.add_argument("--corrupt-expected", action="store_true", help=argparse.SUPPRESS)
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")

    try:
        spec = json.loads((ROOT / "BENCHMARK.json").read_text())
        classes = build.build()
    except (OSError, ValueError, build.BuildError) as e:
        fail(str(e))

    cores = len(os.sched_getaffinity(0))
    data = registry_data(a.tiny) if a.workload == "registry" else Path(os.devnull)
    work = build.BUILD / "run" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    result = work / "result.json"
    trace_file = build.BUILD / "traces" / f"{a.workload}-seed{a.seed}.jsonl"

    steal0, t0 = steal_ticks(), time.time()
    try:
        code = run_jvm(classes, a, work, data, cores, result, trace_file)
        if code != 0 or not result.exists():
            fail(f"benchmark JVM exited with code {code}", 1)
        r = json.loads(result.read_text())
        checks, mismatches = r["checks"], r["mismatches"]
        if a.workload == "registry":
            c, m = oracle_compare(data, work / "registry-dump", a.corrupt_expected)
            checks, mismatches = checks + c, mismatches + m
    finally:
        shutil.rmtree(work, ignore_errors=True)

    env = {"nproc": cores, "heap_gb": heap_gb(), "steal_ticks_delta": steal_ticks() - steal0,
           "cpu_probe_ms": r["cpu_probe_ms"], "session_s": r["session_s"],
           "setup_samples_s": r["setup_samples_s"], "warm_up_s": r["warm_up_s"],
           "wall_s": round(time.time() - t0, 3),
           "checks": checks, "mismatches": mismatches}
    print(json.dumps({"env": env}))

    if a.trace:
        overhead = {k: r["traced_e2e"][k] - v for k, v in r["e2e"].items()}
        print(json.dumps({"tracing_overhead": overhead, "untraced": r["e2e"],
                          "trace_file": str(trace_file.relative_to(ROOT))}))
        wanted, values = spec["per_layer"], r["layers"]
        # a layer the workload does not exercise did no work: it reads 0
        metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]} for m in wanted}
    else:
        wanted, values = spec["end_to_end"], r["e2e"]
        missing = [m["name"] for m in wanted if values.get(m["name"]) is None]
        if missing:
            fail(f"metrics not measured: {', '.join(missing)}", 1)
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}

    failed = r["failed"] + mismatches
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": r["attempted"] + checks,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
