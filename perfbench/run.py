#!/usr/bin/env python3
"""The repository's benchmark: one workload per invocation, run from the root
of a checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

It compiles the program and the harness (perfbench/build.py), generates the
seeded inputs (perfbench/gen.py), starts one JVM running `perfbench.Main` on
`local[<all cores>]`, checks every output against an independent computation
(perfbench/check.py), and prints a report line per metric followed by one
JSON line:
  --trace 0: the end-to-end metrics of BENCHMARK.json, from untraced runs;
  --trace 1: the per-layer metrics of BENCHMARK.json, from traced runs, plus
             the tracing overhead against untraced runs of the same process.
Everything it writes stays under `.bench_build/perfbench` in the checkout.
See perfbench/WORKLOADS.md for what each workload runs and why.
"""
import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # write nothing next to the sources

WORKLOADS = ("etl_orders", "agent_authoring", "query_suite")
ORDERS = 200_000
CUSTOMERS = 20_000
WARM_ORDERS = 2_000
WARM_CUSTOMERS = 200
HEAP = "3g"
DEADLINE_S = 170
DATA = os.path.join(HERE, "data", "sf0.01")
QUERIES = ["sk_cms", "q_benford", "ev_funnel_time", "geo_knn", "mm_sharpness",
           "sim_mahalanobis", "srch_hybrid"]
# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt)
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]
END_TO_END_UNITS = {"setup_s": "s", "run_s": "s", "failed_frac": "ratio", "peak_rss_mb": "MB",
                    "enriched_s": "s", "summary_s": "s", "step_ms.p50": "ms",
                    "step_ms.p90": "ms", "query_s.p50": "s"}


def build_root():
    return os.path.join(ROOT, ".bench_build", "perfbench")


def write_inputs(d, seed, orders, customers):
    """Orders/customers/products of one seed in `d`, and the warm-up set,
    from seed + 1, in `d`/warm."""
    import gen
    gen.generate(d, seed, orders, customers)
    gen.write_config(os.path.join(d, "config.yaml"), d)
    warm = os.path.join(d, "warm")
    gen.generate(warm, seed + 1, WARM_ORDERS, WARM_CUSTOMERS)
    gen.write_config(os.path.join(warm, "config.yaml"), warm)


def make_inputs(seed):
    """Generated inputs for one seed, cached under the build root."""
    base = os.path.join(build_root(), "inputs")
    d = os.path.join(base, f"seed-{seed}")
    if not os.path.exists(os.path.join(d, ".done")):
        shutil.rmtree(d, ignore_errors=True)
        write_inputs(d, seed, ORDERS, CUSTOMERS)
        open(os.path.join(d, ".done"), "w").close()
    # bound disk use: keep this seed and the one used last
    for old in sorted(os.listdir(base), key=lambda x: os.path.getmtime(os.path.join(base, x)))[:-2]:
        if old != f"seed-{seed}":
            shutil.rmtree(os.path.join(base, old), ignore_errors=True)
    os.utime(d)
    return d


def run_jvm(classpath, archive_flag, work, workload, seed, seconds, trace, inputs, budget_s):
    """Runs perfbench.Main in a fresh JVM; returns its result and the phase
    lines it logged."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    result = os.path.join(work, "result.json")
    cmd = ["java", archive_flag] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC", "-cp", ":".join(classpath), "perfbench.Main",
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(trace), "--work", work, "--out", result]
    if inputs:
        cmd += ["--inputs", inputs, "--flows", os.path.join(HERE, "flows")]
    else:
        cmd += ["--data", DATA, "--queries", ",".join(QUERIES)]
    cmd += ["--launch-ms", repr(time.time() * 1000.0)]
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
        # a terminated benchmark must not leave its JVM behind
        signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
        try:
            rc = p.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            raise SystemExit(f"benchmark JVM did not finish within {budget_s:.0f} s")
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if rc != 0 or not os.path.exists(result):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"benchmark JVM exited with code {rc}")
    with open(os.path.join(work, "jvm.log")) as f:
        phases = [line.rstrip() for line in f if line.startswith("[perfbench]")]
    with open(result) as f:
        return json.load(f), phases


def class_archive(classpath):
    """Class-data-sharing archive of the classes an etl_orders invocation
    loads, made once per build by such an invocation on 2,000 orders. Later
    JVMs map these classes instead of loading them from the jars, which
    halves the cold JVM and Spark session start that every invocation pays
    before its first timed run. Returns the JVM flag that uses it."""
    archive = classpath[0][:-len(".jar")] + ".jsa"
    if not os.path.exists(archive):
        work = os.path.join(build_root(), "work", f"archive-{os.getpid()}")
        shutil.rmtree(work, ignore_errors=True)
        inputs = os.path.join(work, "inputs")
        write_inputs(inputs, 0, WARM_ORDERS, WARM_CUSTOMERS)
        try:
            run_jvm(classpath, f"-XX:ArchiveClassesAtExit={archive}.part", work, "etl_orders",
                    0, 0, 0, inputs, DEADLINE_S)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        os.replace(archive + ".part", archive)
    return f"-XX:SharedArchiveFile={archive}"


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def percentile(xs, q):
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[max(0, math.ceil(q * len(s)) - 1)] if s else float("nan")


def main():
    ap = argparse.ArgumentParser(description="graft benchmark (see BENCHMARK.json)")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.time()

    import build
    classpath = build.build(build_root())
    archive_flag = class_archive(classpath)
    inputs = make_inputs(a.seed) if a.workload != "query_suite" else None
    t_inputs = time.time()
    work = os.path.join(build_root(), "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res, phases = run_jvm(classpath, archive_flag, work, a.workload, a.seed, a.seconds,
                              a.trace, inputs, DEADLINE_S - (time.time() - started))
        if a.trace:
            traces = os.path.join(build_root(), "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(os.path.join(work, "spans.jsonl"),
                        os.path.join(traces, f"{a.workload}-{a.seed}.jsonl"))
        attempted, failed, problems = res["attempted"], res["failed"], list(res["errors"])

        t_jvm = time.time()
        # independent correctness checks (untimed)
        import check
        if a.workload == "etl_orders":
            checker = check.EtlChecker(inputs)
            for d in res["output_dirs"]:
                bad = checker.check_run(d)
                failed += len(bad)
                problems += [f"{os.path.basename(d)}: {b}" for b in bad]
                shutil.rmtree(d, ignore_errors=True)
        elif a.workload == "query_suite":
            bad = check.check_queries(res["results_dir"], DATA, QUERIES)
            for name, msg in bad.items():
                if name not in res["broken"]:  # already counted by the harness
                    failed += sum(name in r["values"] for r in res["runs"])
                problems.append(f"{name}: {msg}")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    t_check = time.time()
    untraced = [r for r in res["runs"] if not r["traced"]]
    traced = [r for r in res["runs"] if r["traced"]]

    def value(runs, key):
        return median([r["values"][key] for r in runs if key in r["values"]])

    # run_s is the fastest untraced run, as graft.Bench reports it. Each
    # workload makes a fixed number of timed runs (its minRuns) whenever they
    # outlast --seconds, so every invocation reads the same point of the JIT
    # warm-up curve, however fast the host is
    e2e = {
        "setup_s": median(res["setup_s"]),
        "run_s": min(r["run_s"] for r in untraced),
        "failed_frac": failed / max(attempted, 1),
        "peak_rss_mb": res["peak_rss_mb"],
    }
    samples = [x for r in untraced for x in r["samples"]]
    if a.workload == "etl_orders":
        e2e["enriched_s"] = value(untraced, "enriched_s")
        e2e["summary_s"] = value(untraced, "summary_s")
    elif a.workload == "agent_authoring":
        e2e["step_ms.p50"] = median(samples)
        e2e["step_ms.p90"] = percentile(samples, 0.90)
    else:
        # one pass made of each query's fastest time over the passes
        e2e["run_s"] = sum(min(r["values"][q] for r in untraced if q in r["values"])
                           for q in QUERIES)
        e2e["query_s.p50"] = median([median(r["samples"]) for r in untraced])

    for line in phases:
        print(line)
    for p in problems:
        print(f"[perfbench] FAILED {p}")
    print(f"[perfbench] workload={a.workload} seed={a.seed} runs={len(untraced)} "
          f"traced_runs={len(traced)} samples={len(samples)} cores={res['cores']} "
          f"heap_mb={res['heap_max_mb']:.0f} spark={res['spark_version']} "
          f"java={res['java_version']} setup_rounds={res['setup_s']}")
    print(f"[perfbench] cold_start_s = {res['cold_start_s']:.6g} s (JVM launch to the first "
          f"timed run; report-only)")
    print("[perfbench] run times: " + " ".join(
        f"{r['run_s']:.3f}{'t' if r['traced'] else ''}" for r in res["runs"]) + " s")
    print(f"[perfbench] wall: build+inputs {t_inputs - started:.1f} s, jvm {t_jvm - t_inputs:.1f} s, "
          f"checks {t_check - t_jvm:.1f} s")
    for k, v in e2e.items():
        print(f"[perfbench] {k} = {v:.6g} {END_TO_END_UNITS[k]}")
    if a.workload == "query_suite":
        for q in QUERIES:
            times = [r["values"][q] for r in untraced if q in r["values"]]
            print(f"[perfbench] query {q} = {min(times):.4f} s (fastest of {len(times)})")

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.trace:
        layers = {k: median([r["layers"][k] for r in traced]) for k in traced[0]["layers"]}
        # each traced run against the untraced run right after it: the first
        # run is far colder than the rest, so it is compared with nothing
        runs = res["runs"]
        layers["trace.overhead_s"] = median([
            runs[i]["run_s"] - runs[i + 1]["run_s"] for i in range(1, len(runs) - 1, 2)])
        layers["jvm.peak_rss_mb"] = res["peak_rss_mb"]
        for k, v in layers.items():
            print(f"[perfbench] layer {k} = {v:.6g}")
        metrics = {m["name"]: {"value": layers[m["name"]], "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
