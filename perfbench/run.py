"""graft engine benchmark: one workload, one seed, one closed-loop run.

    python3 perfbench/run.py --workload efo1-hard --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run compiles the engine and the
benchmark program (perfbench/build.py) and generates the seeded tables
(perfbench/datagen.py); both are cached under `.bench_build/`. Each run then
starts one JVM (`graftbench.Main`), which sets the session up several times,
runs one untimed priming cycle of the workload's seeded requests, then whole
cycles of them from one client thread until `--seconds` have passed, and,
with `--trace 1`, an untraced and a traced twin cycle. Every answer is then checked here
(perfbench/oracle.py), outside the timed loop. The last line of stdout is the
result: `{"correct", "attempted", "failed", "metrics"}`; `--trace 0` reports
the end-to-end metrics, `--trace 1` the per-layer ones. The full record goes
to `.bench_build/results/<workload>-s<seed>-t<trace>.json`. Exit code is 0
only when every request succeeded and every answer was right.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import datagen  # noqa: E402
import oracle  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("efo1-hard", "cqd-rank")
# The tables are fixed (data seed 42); `--seed` draws the requests. Queries
# run over the larger KG; cqd-rank's training steps, which read every edge,
# over the smaller one.
DATA_SEED = 42
QUERY_SF = 0.01
TRAIN_SF = 0.0005
HEAP = "3g"
TIME_LIMIT_S = 165
DATAGEN_VERSION = "2"

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

SPEC = os.path.join(ROOT, "BENCHMARK.json")


def tables(sf):
    path = os.path.join(BUILD, "data", f"sf{sf}-seed{DATA_SEED}")
    stamp = os.path.join(path, ".done")
    if not (os.path.exists(stamp) and open(stamp).read() == DATAGEN_VERSION):
        shutil.rmtree(path, ignore_errors=True)
        datagen.generate(path, sf, DATA_SEED)
        with open(stamp, "w") as fh:
            fh.write(DATAGEN_VERSION)
    return path


def cpu_times():
    """(steal, total) jiffies of all CPUs, or None where /proc/stat is absent."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
        return f[7], sum(f)
    except (OSError, ValueError, IndexError):
        return None


def run_jvm(args, classpath, work, deadline):
    data, train_data = tables(QUERY_SF), tables(TRAIN_SF)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false"]
    # Class-data sharing: the first run after a build writes the archive as
    # its JVM exits, and later runs map it instead of loading those classes.
    if os.path.exists(build.CDS_ARCHIVE):
        cmd.append(f"-XX:SharedArchiveFile={build.CDS_ARCHIVE}")
    else:
        cmd.append(f"-XX:ArchiveClassesAtExit={build.CDS_ARCHIVE}")
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", data, "--train-data", train_data, "--work", work]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                cwd=work)
        try:
            code = proc.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit("benchmark JVM exceeded the time limit")
    if code != 0:
        with open(log_path) as fh:
            tail = fh.read()[-3000:]
        raise SystemExit(f"benchmark JVM failed (exit {code}):\n{tail}")
    return data


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()

    t0 = time.time()
    classpath = build.build()
    t_build = time.time()
    # Counted from here: a first run's compile has a budget of its own.
    deadline = t_build + TIME_LIMIT_S
    work = os.path.join(BUILD, "runs", f"{args.workload}-t{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cpu0 = cpu_times()
    data = run_jvm(args, classpath, work, deadline)
    cpu1 = cpu_times()
    t_jvm = time.time()

    with open(os.path.join(work, "result.json")) as fh:
        result = json.load(fh)
    with open(os.path.join(work, "answers.jsonl")) as fh:
        answers = [json.loads(line) for line in fh if line.strip()]
    verdict = oracle.check(answers, data, result["oracle_context"])

    print(f"# wall: build {t_build - t0:.1f}s jvm {t_jvm - t_build:.1f}s "
          f"check {time.time() - t_jvm:.1f}s", file=sys.stderr)
    attempted = len(answers)
    failed = sum(1 for a in answers if not a["ok"])
    wrong = len(verdict["wrong"])
    result["verdict"] = verdict
    # CPU time the hypervisor gave to other guests during the run: a slow run
    # with high steal is contention, not a regression.
    if cpu0 and cpu1 and cpu1[1] > cpu0[1]:
        result["context"]["steal_pct"] = round(
            100.0 * (cpu1[0] - cpu0[0]) / (cpu1[1] - cpu0[1]), 2)
    result["error_rate"] = (failed + wrong) / attempted
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    out = os.path.join(BUILD, "results",
                       f"{args.workload}-s{args.seed}-t{args.trace}.json")
    with open(out, "w") as fh:
        json.dump(result, fh, indent=1)

    ctx, extra = result["context"], result["extra"]
    print(f"# {args.workload} seed={args.seed} trace={args.trace} "
          f"{ctx['master']} nproc={ctx['nproc']} heap={ctx['heap_max_mb']}MB "
          f"spark={ctx['spark']} jvm={ctx['jvm']} "
          f"loadavg={ctx['loadavg_start']:.2f}->{ctx['loadavg_end']:.2f} "
          f"steal={ctx.get('steal_pct', 'n/a')}%")
    print(f"# requests={extra['requests']} loop_s={extra['loop_s']:.2f} "
          f"checked={verdict['checked']} wrong={wrong} failed={failed} "
          f"error_rate={result['error_rate']:.4f} "
          f"latency_p90_s={extra['latency_p90_s']} "
          f"(samples={extra['latency_samples']})")
    for w in verdict["wrong"][:5]:
        print(f"# WRONG {w}")
    for a in answers:
        if not a["ok"]:
            print(f"# FAILED {a['kind']}: {a['error'][:300]}")
            break

    # Every metric BENCHMARK.json names; a layer metric that does not apply
    # to this workload reads 0.
    with open(SPEC) as fh:
        spec = json.load(fh)
    if args.trace:
        metrics = {m["name"]: {"value": result["layers"].get(m["name"]) or 0.0,
                               "unit": m["unit"]} for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": result["e2e"][m["name"]],
                               "unit": m["unit"]} for m in spec["end_to_end"]}
    for k, m in metrics.items():
        print(f"# {k} = {m['value']} {m['unit']}")
    ok = failed == 0 and wrong == 0
    print(json.dumps({"correct": ok, "attempted": attempted,
                      "failed": failed + wrong, "metrics": metrics}))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
