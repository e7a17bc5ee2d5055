#!/usr/bin/env python3
"""graft workload benchmark: one seeded workload per run.

Usage, from the repository root:

    python3 perfbench/run.py --workload cdc_ingest --seed 1 --seconds 10 --trace 0

Builds graft and the harness from source (perfbench/build.py), lands the
seed's inputs under `.bench_build/work`, runs the workload's closed loop
for `--seconds`, checks every result outside the timed region, and
prints one result row per workload followed, as the last line, by the
JSON summary. `--trace 1` runs the traced variant and reports per-layer
metrics instead of end-to-end ones. Exit code 0 only when every check
passed and no operation failed. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import duckdb  # noqa: E402

import build  # noqa: E402
import checks  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("cdc_ingest", "lake_serve", "medallion_refresh", "ann_search",
             "ann_search_all")
JVM_TIMEOUT_S = 170


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--gen-only", action="store_true",
                    help="land the inputs, print their digest, and stop")
    ap.add_argument("--corrupt-expected", action="store_true",
                    help="perturb one expected result (self-test of the checks)")
    ap.add_argument("--keep", action="store_true", help="keep the work directory")
    return ap.parse_args(argv)


def git_head():
    try:
        r = subprocess.run(["git", "-C", build.ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except OSError:
        pass
    return None


def input_digest(inputs):
    """Order-independent digest of the landed inputs: per input its row
    count and two sums of row hashes, combined over the sorted names."""
    con = duckdb.connect()
    parts = {}
    for name, path in sorted(inputs.items()):
        if not os.path.exists(path):
            continue
        scan = f"{path}/*.parquet" if os.path.isdir(path) else path
        n, a, b = con.sql(f"""SELECT count(*), sum(hash(t) % 4294967296),
            sum(hash(t, 7) % 4294967296) FROM read_parquet('{scan}') t""").fetchone()
        parts[name] = f"{n}:{a}:{b}"
    text = "\n".join(f"{k}={v}" for k, v in sorted(parts.items()))
    return hashlib.sha256(text.encode()).hexdigest()[:16], parts


def run_jvm(args, classpath, work, out):
    cmd = build.java_cmd(
        classpath, work,
        ["--workload", args.workload, "--seed", str(args.seed),
         "--seconds", str(args.seconds), "--trace", str(args.trace),
         "--work", work, "--out", out, "--gen-only", "1" if args.gen_only else "0"])
    os.makedirs(f"{work}/tmp", exist_ok=True)
    proc = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr)
    try:
        proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit(f"run: the benchmark JVM exceeded {JVM_TIMEOUT_S}s")
    if proc.returncode != 0 or not os.path.exists(out):
        raise SystemExit(f"run: the benchmark JVM exited with {proc.returncode}")
    with open(out) as fh:
        return json.load(fh)


def main(argv):
    args = parse_args(argv)
    load = os.getloadavg()
    classpath = build.build()
    work = os.path.join(build.out_dir(), "work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.time()
        res = run_jvm(args, classpath, work, os.path.join(work, "result.json"))
        env = {
            "nproc": len(os.sched_getaffinity(0)), "cores": res["cores"],
            "loadavg_at_launch": [round(x, 2) for x in load],
            "java": res["java_version"], "spark": res["spark_version"],
            "git_head": git_head(), "source_stamp": build.current_stamp()[:16],
            "scale": "sf0.1-shaped synthetic inputs", "sizes": res["info"],
            "client": "one closed-loop thread",
            "phases": dict(res["phases"], setup_s=res.get("setup_s"),
                           land_s=res.get("land_s"),
                           window_s=res.get("window", {}).get("wall_s")),
            "jvm_wall_s": round(time.time() - t0, 1),
        }
        digest, parts = input_digest(res.get("inputs", {}))
        res["digest"] = digest
        print(json.dumps({"inputs_digest": digest, "seed": args.seed,
                          "workload": args.workload, "inputs": parts}))
        if args.gen_only:
            return 0
        verdicts = checks.run(args.workload, res, corrupt=args.corrupt_expected)
        row, summary = metrics.summarize(args.workload, res, verdicts, env,
                                         traced=bool(args.trace))
        print(json.dumps(row))
        print(json.dumps(summary))
        return 0 if summary["correct"] else 1
    finally:
        if not args.keep:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
