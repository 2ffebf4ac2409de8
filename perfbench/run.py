#!/usr/bin/env python3
"""graft end-to-end benchmark.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --scaling --seed N --seconds S

Run from the root of a checkout. Builds the checkout's own engine sources
(perfbench/build.py), then runs one workload in one JVM on local[nproc] with
a heap sized from /proc/meminfo. Workloads: crawl_pagerank, graph_algos
(see perfbench/NOTES.md). Every run starts from empty,
run-owned checkpoint, output and Spark local directories under
.bench_build/run, removed when it ends.

The last stdout line is one JSON object: correct, attempted, failed and
metrics. --trace 0 reports the end-to-end metrics (setup_s, run_s, cpu_s,
peak_rss_mb); --trace 1 the per-layer ones. --scaling runs crawl_pagerank
at local[1] and local[nproc] and prints the scaling efficiency
(t1 / tN) / N instead.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True  # keep the benchmark's directory free of build output
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("crawl_pagerank", "graph_algos")
RUN_LIMIT_S = 175
BUILD_RUN_LIMIT_S = 880

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def heap() -> str:
    """Half the box's memory in GiB, clamped to 2..8 (the tier-1 sizing)."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(8, max(2, g))}g"


def commit(root: Path) -> str:
    try:
        top = subprocess.run(["git", "rev-parse", "--show-toplevel"], cwd=root,
                             capture_output=True, text=True, timeout=10)
        if top.returncode != 0 or Path(top.stdout.strip()) != root:
            return "none"
        head = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root,
                              capture_output=True, text=True, timeout=10)
        return head.stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def run_jvm(root, classes, digest, workload, seed, seconds, trace, cores,
            deadline):
    """Runs one benchmark JVM; returns (info, result) or raises SystemExit."""
    work = root / ".bench_build" / "run" / f"{workload}-{seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    for d in ("local", "tmp", "warehouse"):
        (work / d).mkdir(parents=True)
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_LOCAL_DIRS"] = str(work / "local")
    cmd = [build.java()]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{heap()}", "-Xss8m", "-XX:ReservedCodeCacheSize=1g",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dgraftbench.heap={heap()}", f"-Dgraftbench.commit={commit(root)}",
            f"-Dgraftbench.source={digest}",
            "-cp", f"{classes}{os.pathsep}{build.spark_jars() / '*'}",
            "graftbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace),
            "--cores", str(cores), "--dir", str(work)]
    proc = subprocess.Popen(cmd, cwd=root, env=env, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit(f"perfbench: {workload} run exceeded its time limit")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0:
        raise SystemExit(f"perfbench: benchmark JVM exited with {proc.returncode}")
    info, result = None, None
    for line in out.splitlines():
        try:
            obj = json.loads(line)
        except ValueError:
            continue
        if isinstance(obj, dict) and "info" in obj:
            info = obj["info"]
        elif isinstance(obj, dict) and "correct" in obj:
            result = obj
    if result is None:
        raise SystemExit("perfbench: benchmark JVM printed no result")
    return info, result


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scaling", action="store_true",
                    help="crawl_pagerank at local[1] and local[nproc]")
    a = ap.parse_args()
    if not a.scaling and not a.workload:
        ap.error("--workload is required")

    root = Path.cwd().resolve()
    start = time.monotonic()
    classes, digest, compiled = build.build(root)
    limit = BUILD_RUN_LIMIT_S if compiled else RUN_LIMIT_S

    if a.scaling:
        runs = {}
        for c in (1, nproc()):
            info, res = run_jvm(root, classes, digest, "crawl_pagerank", a.seed,
                                a.seconds, 0, c, time.monotonic() + 600)
            runs[c] = (info, res)
            print(json.dumps({"cores": c, "info": info, "result": res}))
        n = nproc()
        t1 = runs[1][1]["metrics"]["run_s"]["value"]
        tn = runs[n][1]["metrics"]["run_s"]["value"]
        print(json.dumps({"scaling_efficiency": (t1 / tn) / n, "levels": [1, n],
                          "run_s": [t1, tn], "seed": a.seed,
                          "correct": all(r[1]["correct"] for r in runs.values())}))
        return

    info, result = run_jvm(root, classes, digest, a.workload, a.seed, a.seconds,
                           a.trace, nproc(), start + limit)
    print(json.dumps({"info": info}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
