#!/usr/bin/env python3
"""graftbench: the end-to-end and per-layer benchmark of the graft engine.

    python3 graftbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. Builds the engine and the benchmark (see
build.py), generates the workload's inputs from the seed, runs it closed
loop on one client for S seconds in one JVM at local[nproc], checks every
output, and prints a report; the last line of standard output is one JSON
object {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones of a
traced phase that runs between two untraced ones (see README.md).
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True

import build  # noqa: E402
import report  # noqa: E402

# q_ann_ivf has no oracle; its recall@5 against exact neighbours may not
# fall below what the engine reached when this benchmark was written.
IVF_RECALL_FLOOR = 0.98
# The heap's ceiling only: it starts small and grows as the engine needs,
# so the resident set the report prints is not a size set here.
HEAP = "2g"
# Free space the work directory needs (inputs, tables, shuffle files).
NEED_BYTES = 2 << 30
JVM_TIMEOUT_S = 165
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fs_type(path):
    """File-system type of the mount holding `path`."""
    best, kind = "", "unknown"
    with open("/proc/mounts") as f:
        for line in f:
            parts = line.split()
            mnt = parts[1]
            if (str(path) + "/").startswith(mnt.rstrip("/") + "/") and len(mnt) >= len(best):
                best, kind = mnt, parts[2]
    return kind


def run_jvm(args, classes, work, cores):
    out = work / "raw.json"
    cp = os.pathsep.join([str(classes), str(build.spark_jars() / "*")])
    cmd = [build.java(), "-XX:-UsePerfData", f"-Xmx{HEAP}",
           f"-Djava.io.tmpdir={work / 'tmp'}",
           *[a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-cp", cp, "graftbench.Main", "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--cores", str(cores),
           "--root", str(work / "run"), "--out", str(out)]
    (work / "tmp").mkdir(parents=True)
    log = work / "jvm.log"
    with open(log, "w") as f:
        try:
            r = subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT, timeout=JVM_TIMEOUT_S)
            code = r.returncode
        except subprocess.TimeoutExpired:
            code = "timeout"
    if code != 0 or not out.is_file():
        tail = log.read_text(errors="replace").splitlines()[-40:]
        sys.stderr.write("\n".join(tail) + "\n")
        raise SystemExit(f"graftbench: the benchmark JVM failed ({code})")
    return json.loads(out.read_text())


def fmt(v):
    if v is None:
        return "n/a"
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def main():
    ap = argparse.ArgumentParser(description="graft engine benchmark")
    ap.add_argument("--workload", required=True, choices=report.WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    if args.seconds <= 0:
        ap.error("--seconds must be positive")

    repo = Path.cwd()
    classes = build.build(repo)
    cores = len(os.sched_getaffinity(0))
    st = os.statvfs(repo)
    if st.f_bavail * st.f_frsize < NEED_BYTES:
        raise SystemExit(f"graftbench: {repo} has {st.f_bavail * st.f_frsize >> 20} MiB free, "
                         f"the benchmark needs {NEED_BYTES >> 20} MiB")
    base = repo / ".bench_work"
    work = base / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        raw = run_jvm(args, classes, work, cores)
        checks = [(c["name"], c["ok"], c["detail"]) for c in raw["checks"]]
        if args.workload == "curation_dedup":
            import oracle  # DuckDB is needed by this workload only
            checks += [(f"curation.oracle.{q}", ok, d) for q, ok, d in oracle.check(raw["oracle"])]
            recall = raw["phases"]["untraced"]["values"]["ivf_recall"]
            checks.append(("curation.ivf_recall", recall >= IVF_RECALL_FLOOR,
                           f"recall@5 {recall} below {IVF_RECALL_FLOOR}"))
        work_fs = fs_type(work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if base.is_dir() and not any(base.iterdir()):
            base.rmdir()

    failed_checks = [c for c in checks if not c[1]]
    # JVM-side check failures are already counted in raw["failed"]
    failed = raw["failed"] + sum(1 for c in failed_checks if c[0].startswith("curation.oracle")
                                 or c[0].startswith("curation.ivf_recall"))
    attempted = max(1, raw["attempted"])
    correct = not failed_checks

    ph = raw["phases"]["untraced"]
    print(f"graftbench {args.workload}: seed {args.seed}, {cores} cores, "
          f"java {raw['conditions']['java']}, spark {raw['conditions']['spark']}, "
          f"work fs {work_fs}, steal {ph['steal_share']:.2%}, sys {ph['sys_share']:.2%}")
    for name, (v, unit, note) in report.named(raw).items():
        print(f"  {name:<28} {fmt(v):>14} {unit:<6} {note}")
    print(f"  correctness: {'PASS' if correct else 'FAIL'} ({len(checks)} checks"
          + "".join(f"; {n}: {d}" for n, _, d in failed_checks[:5]) + ")")

    if args.trace:
        print("  self time of the traced spans:")
        for name, ms in report.self_time_by_name(raw):
            print(f"    {name:<38} {ms:>12.1f} ms")
        values = report.per_layer(raw)
        units = {**report.PER_LAYER, **report.BULK_LAYERS, **report.CURATION_LAYERS}
    else:
        values = report.end_to_end(raw)
        units = report.END_TO_END
    for k, v in values.items():
        print(f"  {k:<40} {fmt(v):>14} {units[k]}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()}}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
