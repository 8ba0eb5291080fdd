#!/usr/bin/env python3
"""Outside-in benchmark of the ER pipeline (see erbench/README.md).

Usage, from the repository root:
  python3 erbench/run.py --workload {batch_uniform,batch_hot} --seed N \\
      --seconds S --trace {0,1}

Builds the program and the benchmark if their sources changed
(erbench/build.py), runs one JVM at local[nproc], and prints the metrics,
one per line with unit and sample count, then as the last line one JSON
object: {"correct", "attempted", "failed", "metrics"}. `--trace 0` reports
the end-to-end metrics, `--trace 1` the per-layer ones. Host context (nproc,
load average, a single-thread CPU probe before and after) is printed and
recorded with every run; it is never used to gate or skip anything.

Every file the run writes is under $CARGO_TARGET_DIR (default
`.bench_build`): classes, a scratch directory deleted at exit, and the run
record `erbench-runs/<workload>-seed<N>-trace<T>.json` (metrics, host
context, and for traced runs the spans).
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("batch_uniform", "batch_hot")
DEADLINE_S = 175  # the whole run, build excluded, must end within 180 s
# A fixed heap with a fixed young generation under the parallel collector:
# eden is touched in full after the first collection and the old generation
# grows from one end, so the peak RSS follows the live data rather than the
# collector's adaptive sizing (which made it vary by 15% between runs).
JVM_MEMORY = ["-XX:+UseParallelGC", "-Xms3g", "-Xmx3g", "-Xmn1g"]
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def cpu_probe_ms():
    """Fixed single-thread work, timed: a host-speed stamp."""
    t = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc = (acc + i * i) % 1000003
    return (time.perf_counter() - t) * 1000.0


def load_avg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def nproc():
    return len(os.sched_getaffinity(0))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    host = {"nproc": nproc(), "load_start": load_avg(), "cpu_probe_ms_start": cpu_probe_ms()}
    out = build.out_dir()
    classes = build.build(out)
    t0 = time.monotonic()

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    # runs are sequential: scratch left by a killed run is removed here
    shutil.rmtree(os.path.join(out, "erbench-work"), ignore_errors=True)
    work = os.path.join(out, "erbench-work", tag)
    runs = os.path.join(out, "erbench-runs")
    os.makedirs(work)
    os.makedirs(runs, exist_ok=True)
    raw_path = os.path.join(work, "raw.json")
    log_path = os.path.join(runs, f"{tag}.log")
    # no hsperfdata file in the system temp dir; JVM temp files in scratch
    cmd = (["java", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}", "-Xss16m"] + JVM_MEMORY
           + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}{os.pathsep}{build.spark_jars()}", "erbench.ErBench",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--cores", str(host["nproc"]),
              "--work", work, "--out", raw_path])
    try:
        with open(log_path, "w") as log:
            try:
                # subprocess.run kills and reaps the JVM on timeout
                r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work,
                                   timeout=max(10.0, DEADLINE_S - (time.monotonic() - t0)))
                code = r.returncode
            except subprocess.TimeoutExpired:
                code = "timeout"
        if code != 0:
            with open(log_path) as log:
                sys.stderr.write(log.read()[-4000:])
            sys.exit(f"erbench: JVM failed ({code}); log in {log_path}")
        with open(raw_path) as f:
            raw = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    host.update(load_end=load_avg(), cpu_probe_ms_end=cpu_probe_ms())
    result, details = stats.summarize(raw)

    print(f"erbench {a.workload} seed={a.seed} trace={a.trace} "
          f"records={raw['input_records']} input_bytes={raw['input_bytes']}")
    print("host " + json.dumps(host))
    print(f"checks: f1={raw['f1']:.4f} {raw['f1_counts']} failures={raw['check_failures']}")
    if "stream_ops" in raw:
        print(f"stream checks: failures={raw['stream_check_failures']}")
    print(f"failed_frac {result['failed'] / result['attempted']:.4f} "
          f"({result['failed']} of {result['attempted']} ops)")
    for name, m in result["metrics"].items():
        d = details[name]
        pct = f", p{d['pct']:g}={d['pct_value']:.4f}" if d.get("pct") else ""
        print(f"  {name} = {m['value']:.6g} {m['unit']} (median of n={d['n']}{pct})")
    if a.trace:
        for m, target in stats.LAYER_TARGETS.items():
            print(f"  layer {m} -> {target}")

    record = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "host": host,
              "result": result, "samples": details, "ops": raw["ops"],
              "stream_ops": raw.get("stream_ops", []),
              "check_failures": raw["check_failures"] + raw.get("stream_check_failures", [])}
    if a.trace:
        record["spans"] = raw.get("spans", [])
    with open(os.path.join(runs, f"{tag}.json"), "w") as f:
        json.dump(record, f, indent=1)
    line = json.dumps(result)
    stats.parse_result_line(line)  # never print a malformed result line
    print(line)


if __name__ == "__main__":
    main()
