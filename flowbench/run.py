"""Runs one workload of the flow benchmark and prints its result.

Usage, from the repository root:
  python3 flowbench/run.py --workload <spec_cycle|ingest_chain|release_build>
      --seed <n> --seconds <s> --trace <0|1>

Builds the program from source (flowbench/build.py), generates the
workload's inputs from the seed (flowbench/gen.py), runs them through
flowbench.Main on a local[nproc] Spark session in one JVM, and prints as
its last line one JSON object with `correct`, `attempted`, `failed` and
`metrics` (the end-to-end metrics, or with --trace 1 the per-layer span
metrics of all three flows). The whole result, with the generator's
shares and the host, is also kept under .bench_build/flowbench/results.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
RESULTS = os.path.join(build.BUILD, "results")
# Input sizes per workload. Per workload too: set-ups (setup_s is their
# median), warm-up iterations and measured iterations. On a 4-core host
# spec_cycle's iterations take ~16 s, ~4.7 s, ~4.1 s, then fall from ~4 s
# to ~3.3 s by the eighth; ingest_chain's, whose set-ups already run the
# gates' code, ~13 s, ~7.5 s, ~7 s, ~6.4 s, then ~5.5-6 s. spec_cycle's
# steep second and third iterations spread its median most, so they are
# warm-up too; ingest_chain measures from its second, because the host's
# speed drifts by 10-20% over tens of seconds and a longer measured window
# steadies its median more. A restart of the session alone (spec_cycle's
# set-up) takes ~0.1 s, so it repeats more.
SIZES = {
    "spec_cycle": {"orders": 10_000},
    "ingest_chain": {"docs": 1_050},
    "release_build": {"docs": 1_050, "vecs": 400},
}
ITERATIONS = {  # (set-ups, warm-up, measured)
    "spec_cycle": (5, 3, 5),
    "ingest_chain": (3, 1, 4),
    "release_build": (3, 1, 3),
}
# A fixed, pre-touched heap: peak RSS then reads the heap plus what the
# program holds off-heap, instead of wherever G1's heap sizing wandered.
HEAP = ["-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch"]
DEADLINE_S = 175  # a run, after the build, must end within 180 s

JAVA_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def steal_s():
    """CPU time the hypervisor gave other guests, summed over all CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def host():
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {"nproc": os.cpu_count(), "mem_gb": round(mem_kb / 2 ** 20, 1)}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classes = build.build()
    start = time.monotonic()
    work = os.path.join(build.BUILD, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    proc = None
    try:
        data = os.path.join(work, "data")
        flows = sorted(SIZES) if a.trace else [a.workload]
        metas = {w: gen.generate(a.seed, os.path.join(data, w), SIZES[w])
                 for w in flows}
        out = os.path.join(work, "result.json")
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp)
        cmd = (["java"] + HEAP + ["-XX:ReservedCodeCacheSize=512m",
                f"-Djava.io.tmpdir={tmp}",
                "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
               + JAVA_OPENS
               + ["-cp", ":".join([classes] + build.spark_jars()), "flowbench.Main",
                  "--workload", a.workload, "--trace", str(a.trace),
                  "--seconds", str(a.seconds),
                  "--data", data if a.trace else os.path.join(data, a.workload),
                  "--work", os.path.join(work, "jvm"), "--out", out])
        for k, v in zip(("--setups", "--warm", "--min-iters"), ITERATIONS[a.workload]):
            cmd += [k, str(v)]
        log_path = os.path.join(work, "jvm.log")
        steal0 = steal_s()
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
            try:
                code = proc.wait(timeout=DEADLINE_S - (time.monotonic() - start))
            except subprocess.TimeoutExpired:
                code = None
        if code != 0 or not os.path.exists(out):
            os.makedirs(RESULTS, exist_ok=True)
            kept_log = os.path.join(RESULTS, f"failed-{os.getpid()}.log")
            shutil.copy(log_path, kept_log)
            raise SystemExit(f"benchmark JVM failed (exit {code}); log in {kept_log}")
        with open(out) as f:
            record = json.load(f)
        record["steal_s"] = steal_s() - steal0
        check.check_iterations(record["iterations"], metas)
        if a.trace:
            attempted, failed, metrics, overhead = check.per_layer(record, a.workload)
            record["tracing_overhead"] = overhead
        else:
            attempted, failed, metrics = check.end_to_end(
                record, a.workload, metas[a.workload])
        problems = [f"{i['workload']} iteration {i['n']}: {p}"
                    for i in record["iterations"] for p in i["problems"]]
        result = {"correct": not problems, "attempted": attempted,
                  "failed": failed, "metrics": metrics}
        record.update(result, workload=a.workload, seed=a.seed, trace=a.trace,
                      seconds=a.seconds, host=host(), problems=problems,
                      inputs={w: {k: m[k] for k in ("rows", "shares", "stated_shares")}
                              for w, m in metas.items()})
        os.makedirs(RESULTS, exist_ok=True)
        keep = os.path.join(RESULTS, f"{a.workload}-seed{a.seed}-trace{a.trace}"
                            f"-{time.strftime('%Y%m%dT%H%M%S')}")
        with open(keep + ".json", "w") as f:
            json.dump(record, f, indent=1)
        shutil.copy(log_path, keep + ".log")
        for p in problems:
            print("problem:", p, file=sys.stderr)
        print(f"full result: {keep}.json", file=sys.stderr)
        print(json.dumps(result))
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
