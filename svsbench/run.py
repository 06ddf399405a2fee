#!/usr/bin/env python3
"""svsbench: the svsspark benchmark.

    python3 svsbench/run.py --workload serve|ingest --seed N \
        --seconds S --trace 0|1
    python3 svsbench/run.py --self-test

Run from the repository root. One run builds the library and the
benchmark from source (cached under svsbench/.build), starts one JVM
with a local[nproc] Spark session and the heap Tier-1 uses on this host,
runs the workload against the library's public store API, checks every
output, and prints as its last line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with every end-to-end metric of BENCHMARK.json (--trace 0) or every
per-layer metric (--trace 1). The lines before it are the human report:
the provenance stamp, every figure the workload measured with its unit,
and, when traced, the span dump and the self-time table.

All stores, checkpoints, the warehouse and spark.local.dir live in one
temp root under .svsbench_tmp/ in the checkout; it is deleted at exit,
also when the run fails, and the bytes left behind are reported.
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

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

BENCH_DIR = build.BENCH_DIR
REPO = build.REPO
TMP_BASE = REPO / ".svsbench_tmp"

WORKLOADS = ("serve", "ingest")
# free disk a run needs up front: stores, shuffle files and spill, with
# headroom (a serve run peaks near 0.5 GiB on disk)
REQUIRED_FREE_BYTES = 3 << 30
# a run must end within 180 s of its start, builds excluded
RUN_DEADLINE_S = 170

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"svsbench: {msg}", file=sys.stderr, flush=True)


def driver_heap() -> str:
    """The Tier-1 driver heap: half of RAM in GiB, clamped to 2..8."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    try:
        for line in open("/proc/meminfo"):
            if line.startswith("MemTotal:"):
                g = int(line.split()[1]) // 2097152
                return f"{min(8, max(2, g))}g"
    except OSError:
        pass
    return "2g"


def jvm_cmd(classes: Path, root: Path, args, source_id: str) -> list:
    jars = build.spark_jars()
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return [build.java(), f"-Xmx{driver_heap()}", "-XX:-UsePerfData", *opens,
            "--add-modules=jdk.incubator.vector",
            f"-Djava.io.tmpdir={root / 'tmp'}",
            f"-Dlog4j2.configurationFile={BENCH_DIR / 'log4j2.properties'}",
            "-Dspark.ui.enabled=false",
            "-cp", f"{classes}:{jars}/*", "svsbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--root", str(root), "--source-id", source_id]


def dir_bytes(p: Path) -> int:
    total = 0
    for dp, _, files in os.walk(p):
        for f in files:
            try:
                total += os.lstat(os.path.join(dp, f)).st_size
            except OSError:
                pass
    return total


def load_spec() -> dict:
    spec = REPO / "BENCHMARK.json"
    if not spec.is_file():
        raise SystemExit("svsbench: BENCHMARK.json not found; run from the repository root")
    return json.loads(spec.read_text())


def run_jvm(cmd, deadline: float):
    """Runs the JVM, echoing its report; returns its result record."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    result = None
    try:
        import selectors
        sel = selectors.DefaultSelector()
        sel.register(proc.stdout, selectors.EVENT_READ)
        buf = ""
        while True:
            left = deadline - time.monotonic()
            if left <= 0:
                raise TimeoutError("run exceeded its time limit")
            if not sel.select(timeout=min(left, 1.0)):
                if proc.poll() is not None:
                    break
                continue
            chunk = os.read(proc.stdout.fileno(), 65536).decode()
            if not chunk:
                break
            buf += chunk
            *lines, buf = buf.split("\n")
            for line in lines:
                if line.startswith("SVSBENCH_RESULT "):
                    result = json.loads(line[len("SVSBENCH_RESULT "):])
                else:
                    print(line, flush=True)
        proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if proc.returncode != 0:
        raise RuntimeError(f"benchmark JVM exited with code {proc.returncode}")
    if result is None:
        raise RuntimeError("benchmark JVM printed no result")
    return result


def final_line(spec: dict, rec: dict, trace: bool) -> dict:
    declared = spec["per_layer" if trace else "end_to_end"]
    have = rec["layer" if trace else "e2e"]
    metrics = {}
    for m in declared:
        name = m["name"]
        if name not in have:
            raise RuntimeError(f"metric {name} was not measured")
        value, unit = have[name]
        if not isinstance(value, (int, float)) or value != value:
            raise RuntimeError(f"metric {name} has no finite value")
        if unit != m["unit"]:
            raise RuntimeError(f"metric {name}: unit {unit}, declared {m['unit']}")
        metrics[name] = {"value": value, "unit": unit}
    return {"correct": bool(rec["correct"]), "attempted": int(rec["attempted"]),
            "failed": int(rec["failed"]), "metrics": metrics}


def report(rec: dict, leftover: int):
    print("svsbench: provenance " + json.dumps(rec["provenance"], sort_keys=True))
    print("svsbench: sizes " + json.dumps(rec["sizes"], sort_keys=True))
    for group in ("e2e", "extra", "layer"):
        for name, (value, unit) in rec[group].items():
            print(f"svsbench: {group:5s} {name:40s} {value:>16.6g} {unit}")
    print(f"svsbench: temp root removed, {leftover} bytes left behind")


def self_test() -> int:
    classes, _ = build.build()
    jars = build.spark_jars()
    return subprocess.call([build.java(), "-XX:-UsePerfData",
                            "-cp", f"{classes}:{jars}/*", "svsbench.SelfTest"])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    args = ap.parse_args()
    if args.self_test:
        return self_test()
    if not args.workload:
        ap.error("--workload is required")

    spec = load_spec()
    classes, digest = build.build()
    start = time.monotonic()

    TMP_BASE.mkdir(exist_ok=True)
    free = shutil.disk_usage(TMP_BASE).free
    if free < REQUIRED_FREE_BYTES:
        log(f"only {free} bytes free under {TMP_BASE}; a run needs "
            f"{REQUIRED_FREE_BYTES}. Free disk space and retry.")
        return 3
    root = TMP_BASE / f"run-{os.getpid()}-{int(time.time())}"
    (root / "tmp").mkdir(parents=True)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        rec = run_jvm(jvm_cmd(classes, root, args, digest),
                      start + RUN_DEADLINE_S)
    finally:
        shutil.rmtree(root, ignore_errors=True)
        leftover = dir_bytes(root) if root.exists() else 0
        try:
            TMP_BASE.rmdir()
        except OSError:
            pass
    rec["provenance"]["temp_leftover_bytes"] = leftover
    report(rec, leftover)
    print(json.dumps(final_line(spec, rec, args.trace == 1)), flush=True)
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except (build.BuildError, RuntimeError, TimeoutError) as e:
        log(str(e))
        sys.exit(1)
