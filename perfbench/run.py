#!/usr/bin/env python3
"""The repository benchmark. One run of one workload:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

run from the root of a checkout. It builds the program and the benchmark
(perfbench/build.py) if the sources changed, runs the workload in one JVM
on local[<cores>] with the JVM flags build.sbt gives forked runs, checks
every output, and prints as its last line one JSON object: correct,
attempted, failed and metrics — the end-to-end metrics of BENCHMARK.json
with --trace 0, its per-layer metrics with --trace 1. The line before it is
a report with the workload's own figures (docs_per_s, resume_s, board_s,
cer/wer_corrected, out_bytes_per_doc, failed_frac).

Steadiness mode repeats the run over several seeds and prints each
end-to-end metric's median, quartiles and spread ((q3 - q1) / median), and
whether the spread is within the metric's bound (what a regression gate
needs) and below a third of it (the steadiness this benchmark aims for):

    python3 perfbench/run.py --workload <name> --seconds <s> --trace 0 --steady 1,2,3,4,5

Everything a run writes stays under .bench_build/ and .bench_work/.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

WORK = os.path.join(ROOT, ".bench_work")
JVM_TIMEOUT_S = 170

# build.sbt's forked-JVM flags: add-opens for Spark on JDK 17, UTC, no UI, a
# heap cap of $SPARK_DRIVER_MEM (default 8g), then $SPARK_GRAFT_JVM_OPTS
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    with open(os.path.join(HERE, "layers.json")) as f:
        layers = json.load(f)["layers"]
    measured_on = {}
    for layer in layers:
        for m in layer["metrics"]:
            measured_on.setdefault(m, set()).update(layer["workloads"])
    return spec, measured_on


def jvm(args, work):
    """Runs the benchmark main; returns its result.json as a dict."""
    heap = os.environ.get("SPARK_DRIVER_MEM", "8g")
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC", f"-Xmx{heap}"] +
           os.environ.get("SPARK_GRAFT_JVM_OPTS", "").split() +
           [f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/spark-local",
            f"-Dspark.sql.warehouse.dir={work}/warehouse", f"-Dderby.system.home={work}/derby",
            "-cp", build.classpath(), "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", work] +
           (["--inject", args.inject] if args.inject else []))
    os.makedirs(f"{work}/tmp", exist_ok=True)
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    result_path = os.path.join(work, "result.json")
    if code != 0 or not os.path.exists(result_path):
        with open(log_path) as f:
            tail = f.readlines()[-300:]
        sys.stderr.write("".join(tail))
        raise RuntimeError(f"benchmark JVM exited with {code}")
    with open(result_path) as f:
        return json.load(f)


def check_board(res, inject):
    """DuckDB oracle compare of the board's results; a mismatching query's
    every execution counts as failed."""
    import oracle
    board = res["board"]
    with open(os.path.join(board["results"], "oracle_sql.json")) as f:
        sql = json.load(f)
    corrupt = sorted(sql)[0] if inject == "oracle" else None
    for name, why in oracle.compare(board["tables"], board["results"], sql, corrupt).items():
        if why is not None:
            res["failed"] += board["executions"][name]
            res["failures"].append(f"{name} vs oracle: {why}")


def one_run(args):
    spec, measured_on = load_spec()
    build.build()
    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.time()
        res = jvm(args, work)
        t1 = time.time()
        if args.workload == "curation_board":
            check_board(res, args.inject)
        print(f"[perfbench] jvm {t1 - t0:.1f} s, oracle {time.time() - t1:.1f} s", file=sys.stderr)
        if args.trace:
            traces = os.path.join(WORK, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(os.path.join(work, "spans.json"),
                        os.path.join(traces, f"{args.workload}-{args.seed}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        wanted, got = spec["per_layer"], res["layers"]
    else:
        wanted, got = spec["end_to_end"], res["e2e"]
    metrics = {}
    for m in wanted:
        name = m["name"]
        if name in got:
            if got[name]["unit"] != m["unit"]:
                raise RuntimeError(f"{name}: unit {got[name]['unit']} but BENCHMARK.json says {m['unit']}")
            value = got[name]["value"]
        elif args.trace and args.workload not in measured_on.get(name, ()):
            value = 0.0  # this workload does not exercise the layer
        else:
            raise RuntimeError(f"{args.workload} did not report {name}")
        if value is None:
            raise RuntimeError(f"{name} has no value")
        metrics[name] = {"value": value, "unit": m["unit"]}

    attempted, failed = res["attempted"], min(res["failed"], res["attempted"])
    report = {k: v["value"] for k, v in res["report"].items()}
    report["failed_frac"] = failed / max(attempted, 1)
    print(json.dumps({"workload": args.workload, "seed": args.seed, "pass_walls_s": res.get("pass_walls_s"),
                      "pass_cpus_s": res.get("pass_cpus_s"),
                      "setup_rounds_s": res.get("setup_rounds_s"), "report": report,
                      "failures": res["failures"][:10]}))
    print(json.dumps({"correct": failed == 0 and attempted > 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}), flush=True)


def steady(args):
    """Runs the workload once per seed and prints each metric's spread."""
    spec, _ = load_spec()
    metrics = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = {m["name"]: [] for m in metrics}
    for seed in [int(s) for s in args.steady.split(",")]:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
               "--seed", str(seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
        out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, cwd=ROOT).stdout.strip().splitlines()
        line = json.loads(out[-1]) if out else {}
        print(json.dumps({"seed": seed, **line}), flush=True)
        if not line.get("correct"):
            print(f"seed {seed}: not correct", file=sys.stderr)
        for name, v in line.get("metrics", {}).items():
            values[name].append(v["value"])
    print(f"{'metric':<28}{'n':>3}{'median':>14}{'q1':>14}{'q3':>14}{'spread':>9}{'bound':>8}"
          "  within bound  below bound/3")
    for m in metrics:
        xs = values[m["name"]]
        if len(xs) < 2:
            continue
        q1, med, q3 = statistics.quantiles(xs, n=4)
        spread = (q3 - q1) / med if med else float("inf")
        bound = m.get("bound")
        ok = "" if bound is None else f"{'yes' if spread <= bound else 'NO':>12}  {'yes' if spread < bound / 3 else 'no':>13}"
        print(f"{m['name']:<28}{len(xs):>3}{med:>14.5g}{q1:>14.5g}{q3:>14.5g}{spread:>9.4f}"
              f"{bound if bound is not None else '':>8}  {ok}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--inject", default="", choices=["", "golden", "digest", "oracle"],
                    help="corrupt one expected value, to test that checks fail")
    ap.add_argument("--steady", default="", help="comma-separated seeds: steadiness mode")
    args = ap.parse_args()
    try:
        if args.steady:
            steady(args)
        else:
            one_run(args)
    except (build.BuildError, RuntimeError, OSError, ValueError, KeyError) as e:
        print(f"[perfbench] {args.workload}: {type(e).__name__}: {e}", file=sys.stderr)
        sys.exit(2)


if __name__ == "__main__":
    main()
