#!/usr/bin/env python3
"""Repository benchmark: paper-scale LIME against an MLlib black box and
a fully materialized mix of registry queries.

Run from the root of a checkout:

    python3 perfbench/run.py --workload lime_tabular --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --self-test

Workloads (one closed-loop client, Spark at local[<cores>]):
  lime_tabular  8-instance explain requests, N=5000, quartile bins
  lime_batch    a 128-instance population pass, N=1000, continuous
                sampling, then SP-LIME pick (B=10)
  query_mix     16 registry queries, each collected, caches cleared per pass

The first run in a checkout compiles the engine (src/main/scala) and the
benchmark's own Scala sources (perfbench/src) with the Scala compiler in
$SPARK_HOME/jars, and generates the input tables (perfbench/gen_data.py);
both are cached under $CARGO_TARGET_DIR (default .bench_build).

The last line of stdout is one JSON object: correct, attempted, failed and
the metrics (end-to-end with --trace 0, per-layer with --trace 1, as
listed in BENCHMARK.json). The lines before it print every metric by its
workload-qualified name and unit. Exit code 1 means a correctness check
failed; 2 means the benchmark could not run (nothing is printed on stdout).
"""
import argparse
import glob
import hashlib
import json
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
import gen_data  # noqa: E402

# Data scale per workload: LIME draws its instances and training sample
# from sf0.1 lineitem; the query mix runs at sf0.01 so that a run holds
# several passes.
SCALE = {"lime_tabular": 0.1, "lime_batch": 0.1, "query_mix": 0.01}
WORKLOADS = ("lime_tabular", "lime_batch", "query_mix")
# Share of drift between the start and end controls beyond which the
# run's window is flagged as unhealthy (the latency bound in BENCHMARK.json).
CONTROL_BOUND = 0.25
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]

# Metrics each workload prints by name (unit), before the JSON line.
E2E = {
    "lime_tabular": [("latency_p50_s", "s"), ("latency_tail_s", "s"),
                     ("explanations_per_s", "1/s"), ("cpu_s_per_explanation", "s"),
                     ("fidelity_err_p50", "prob"), ("failed_frac", "fraction"),
                     ("heap_used_max_bytes", "bytes")],
    "lime_batch": [("pass_p50_s", "s"), ("explanations_per_s", "1/s"),
                   ("cpu_s_per_explanation", "s"), ("fidelity_err_p50", "prob"),
                   ("failed_frac", "fraction"), ("heap_used_max_bytes", "bytes")],
    "query_mix": [("pass_p50_s", "s"), ("queries_per_s", "1/s"), ("cpu_s_per_query", "s"),
                  ("failed_frac", "fraction"), ("heap_used_max_bytes", "bytes")],
}
QUERY_MODULES = {
    "relational": ["q_tpch_q21", "q_tpch_q18", "q_agg_hash"],
    "eventops": ["q_join_interval", "q_ev_cooccur", "q_ev_concurrency", "q_graph_pagerank"],
    "llmdata": ["q_text_keywords", "q_text_bpe_apply", "q_text_fingerprint", "q_dedup_contain",
                "q_dedup_minhash", "q_emb_knn_ann", "q_emb_silhouette"],
    "limeops": ["lime_explain_text", "lime_image"],
}
LIME_LAYERS = [("build_s", "s"), ("plan_s", "s"), ("exec_s", "s"), ("perturb_s", "s"),
               ("score_s", "s"), ("fit_s", "s"), ("pick_s", "s"), ("samples", "count"),
               ("score_unique_ratio", "ratio")]
SPARK_LAYERS = [("tasks", "count"), ("stages", "count"), ("task_busy_s", "s"),
                ("cpu_util", "ratio"), ("gc_s", "s"), ("shuffle_write_bytes", "bytes"),
                ("shuffle_read_bytes", "bytes"), ("spill_bytes", "bytes")]
HEALTH = [("control_start_s", "s"), ("control_end_s", "s"), ("trace_overhead_s", "s"),
          ("heap_used_max_bytes", "bytes")]


class BenchError(Exception):
    """The benchmark could not run (as opposed to: it ran and was wrong)."""


def per_layer_names(wl):
    """Per-layer metrics in a --trace 1 JSON line. The two LIME workloads
    share one set (BENCHMARK.json's per_layer; pick_s is 0 for
    lime_tabular, which runs no pick)."""
    if wl == "query_mix":
        names = [(f"{q}_s", "s") for qs in QUERY_MODULES.values() for q in qs]
        names += [(f"{m}_s", "s") for m in QUERY_MODULES]
        names += SPARK_LAYERS
        names += [(f"{m}.{n}", u) for m in QUERY_MODULES for n, u in SPARK_LAYERS]
    else:
        names = LIME_LAYERS + SPARK_LAYERS
    return names + HEALTH


def end_to_end_names():
    return [("setup_s", "s"), ("latency_p50_s", "s"), ("items_per_s", "1/s")]


# ---------------------------------------------------------------- build

def work_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def toolchain():
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not glob.glob(os.path.join(spark_home, "jars", "scala-compiler-*.jar")):
        raise BenchError("SPARK_HOME must point at a Spark distribution whose jars/ "
                         "holds the Scala compiler")
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    if not java:
        raise BenchError("no java on PATH and JAVA_HOME unset")
    return java, os.path.join(spark_home, "jars", "*")


def build(work, java, jars):
    """Compiles the engine and the benchmark into a directory named by
    the hash of their sources; reuses it when it is already there."""
    srcs = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not srcs:
        raise BenchError("no engine sources under src/main/scala: run from a checkout root")
    srcs += sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    out = os.path.join(work, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".ok")):
        return out
    for old in glob.glob(os.path.join(work, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    os.makedirs(out)
    cmd = [java, "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", jars, "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", out] + srcs
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        raise BenchError("compile failed:\n" + p.stdout[-4000:])
    open(os.path.join(out, ".ok"), "w").close()
    return out


def dataset(work, scale):
    out = os.path.join(work, f"data-v{gen_data.VERSION}-sf{scale}")
    if not os.path.exists(os.path.join(out, ".ok")):
        shutil.rmtree(out, ignore_errors=True)
        gen_data.generate(out, scale)
        open(os.path.join(out, ".ok"), "w").close()
    return out


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


# ---------------------------------------------------------------- run

def run_jvm(work, java, jars, classes, data, wl, seed, seconds, trace, setup_reps, mutate,
            deadline):
    # the last run of each workload keeps its raw result.json and jvm.log here
    run_dir = os.path.join(work, "runs", wl)
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(run_dir)
    os.makedirs(tmp, exist_ok=True)
    # a fixed-size heap: no resizing GCs while the window runs
    cmd = ([java, "-XX:-UsePerfData", "-Xms4g", "-Xmx4g",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in JVM_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classes + os.pathsep + jars, "graft.perfbench.Main",
              "--workload", wl, "--seed", str(seed), "--seconds", str(seconds),
              "--trace", str(trace), "--data", data, "--out", run_dir,
              "--cpus", str(cores()), "--setup-reps", str(setup_reps),
              "--mutate", mutate or ""])
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=work)
        try:
            p.wait(timeout=max(30.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            raise BenchError(f"{wl}: JVM timed out; log in {log}")
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    res = os.path.join(run_dir, "result.json")
    if p.returncode != 0 or not os.path.exists(res):
        with open(log) as lf:
            tail = lf.read()[-4000:]
        raise BenchError(f"{wl}: JVM exited {p.returncode}:\n{tail}")
    with open(res) as f:
        return run_dir, json.load(f)


def oracle_compare(data, dump, queries, deadline):
    """The DuckDB oracle compare of scripts/preflight.py over the dumped
    query outputs; returns the queries that did not PASS, with reasons."""
    p = subprocess.run([sys.executable, os.path.join(ROOT, "scripts", "preflight.py"),
                        data, dump] + list(queries),
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=max(30.0, deadline - time.monotonic()))
    passed = {ln.split()[1] for ln in p.stdout.splitlines() if ln.startswith("PASS ")}
    fails = [ln for ln in p.stdout.splitlines() if ln.startswith("FAIL ")]
    fails += [f"FAIL {q}: no oracle result" for q in queries
              if q not in passed and not any(ln.startswith(f"FAIL {q}:") for ln in fails)]
    return fails


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def tail(xs):
    """The highest percentile with at least 10 samples beyond it."""
    s = sorted(xs)
    if len(s) < 11:
        return None, None
    return s[len(s) - 11], 100.0 * (len(s) - 10) / len(s)


def end_to_end(wl, r):
    ops = r["ops"]
    walls = [o["wall_s"] for o in ops]
    items = sum(o["items"] for o in ops)
    rate = items / sum(walls) if walls else float("nan")
    cpu = sum(o["cpu_s"] for o in ops) / items if items else float("nan")
    failed = len(r["failures"])
    m = {"setup_s": median([x["total_s"] for x in r["setup"]]),
         "latency_p50_s": median(walls), "items_per_s": rate}
    named = {"failed_frac": failed / max(1, r["attempted"]),
             "heap_used_max_bytes": r["heap_used_max_bytes"]}
    if wl == "query_mix":
        named.update(pass_p50_s=m["latency_p50_s"], queries_per_s=rate, cpu_s_per_query=cpu)
        return m, named, {}
    named.update(explanations_per_s=rate, cpu_s_per_explanation=cpu,
                 fidelity_err_p50=r["extra"]["fidelity_err_p50"])
    if wl == "lime_batch":
        named["pass_p50_s"] = m["latency_p50_s"]
        return m, named, {}
    named["latency_p50_s"] = m["latency_p50_s"]
    named["latency_tail_s"], pct = tail(walls)
    note = (f"p{pct:.1f} of {len(walls)} requests" if pct is not None
            else f"n/a: {len(walls)} requests, fewer than 11")
    return m, named, {"latency_tail_s": note}


def per_layer(wl, r, cpus):
    ops = r["traced_ops"]
    m = {n: 0.0 for n, _ in per_layer_names(wl)}

    def layer(name):
        return median([o["layers"][name] for o in ops if name in o["layers"]]) if ops else 0.0

    if wl == "query_mix":
        for qs in QUERY_MODULES.values():
            for q in qs:
                m[f"{q}_s"] = layer(f"{q}_s")
        for mod in QUERY_MODULES:
            m[f"{mod}_s"] = layer(f"{mod}_s")
    else:
        for n, _ in LIME_LAYERS:
            m[n] = layer(n)

    def spark_metrics(counters, walls, prefix):
        n = max(1, len(counters))
        tot = {k: sum(c[k] for c in counters) for k in
               ("tasks", "stages", "task_run_ms", "gc_ms", "shuffle_write_bytes",
                "shuffle_read_bytes", "spill_bytes")} if counters else {}
        if not tot:
            return
        m[prefix + "tasks"] = tot["tasks"] / n
        m[prefix + "stages"] = tot["stages"] / n
        m[prefix + "task_busy_s"] = tot["task_run_ms"] / 1e3 / n
        m[prefix + "cpu_util"] = tot["task_run_ms"] / 1e3 / max(1e-9, sum(walls) * cpus)
        m[prefix + "gc_s"] = tot["gc_ms"] / 1e3 / n
        for k in ("shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"):
            m[prefix + k] = tot[k] / n

    spark_metrics([o["spark"] for o in ops if o["spark"]], [o["wall_s"] for o in ops], "")
    if wl == "query_mix":
        for mod in QUERY_MODULES:
            spark_metrics([o["groups"][mod] for o in ops if mod in o["groups"]],
                          [o["layers"][f"{mod}_s"] for o in ops], f"{mod}.")
    m["control_start_s"] = r["control_start_s"]
    m["control_end_s"] = r["control_end_s"]
    m["heap_used_max_bytes"] = r["heap_used_max_bytes"]
    m["trace_overhead_s"] = (median([o["wall_s"] for o in ops]) -
                             median([o["wall_s"] for o in r["ops"]])) if ops and r["ops"] else 0.0
    return m


def run_one(wl, seed, seconds, trace, mutate=None):
    """Builds if needed, runs one workload, prints its metric lines and
    returns (correct, attempted, failed, metrics)."""
    started = time.monotonic()
    work = work_dir()
    os.makedirs(work, exist_ok=True)
    java, jars = toolchain()
    classes = build(work, java, jars)
    data = dataset(work, SCALE[wl])
    prepared = time.monotonic() - started
    # a LIME run after the build must end within 180 s; keep a margin.
    # query_mix (not in BENCHMARK.json) needs a cold and a warm pass.
    deadline = time.monotonic() + (400.0 if wl == "query_mix" else 165.0)
    # query_mix's set-up is only a session start; its warm-up is a whole pass
    setup_reps = 1 if wl == "query_mix" else 3
    run_dir, r = run_jvm(work, java, jars, classes, data, wl, seed, seconds, trace,
                         setup_reps, mutate, deadline)
    errors = list(r["check_failures"])
    if wl == "query_mix":
        errors += oracle_compare(data, os.path.join(run_dir, "dump"),
                                 r["extra"]["oracle_queries"], deadline)
    if not r["ops"]:
        errors.append("no operation completed in the untraced window")
    if trace and not r["traced_ops"]:
        errors.append("no operation completed in the traced window")

    cpus = r["cores"]
    print(f"# workload {wl} seed {seed} trace {trace} | cores {cpus} | box {r['box']['os']} "
          f"| jvm {r['box']['jvm']} | build and data {prepared:.1f} s")
    for i, x in enumerate(r["setup"]):
        print(f"# set-up {i + 1}: " + ", ".join(f"{k} {v:.3f}" for k, v in x.items()))
    for n in r["notes"]:
        print(f"# note: {n}")
    for f in r["failures"]:
        print(f"# failure: {f['op']}: {f['class']}: {f['message']}")
    c0, c1 = r["control_start_s"], r["control_end_s"]
    drift = abs(c1 / c0 - 1.0)
    health = "FLAGGED (controls disagree; do not read as a regression)" \
        if drift > CONTROL_BOUND else "ok"
    print(f"# window health: control start {c0:.4f} s, end {c1:.4f} s, "
          f"drift {100 * drift:.1f}% (bound {100 * CONTROL_BOUND:.0f}%): {health}")

    printed = {}

    def show(name, value, unit, note=""):
        printed[name] = unit
        v = "n/a" if value is None else repr(value)
        print(f"metric {name} = {v} {unit}" + (f"  ({note})" if note else ""))

    if trace:
        metrics = per_layer(wl, r, cpus)
        for n, u in per_layer_names(wl):
            show(f"{wl}.{n}", metrics[n], u)
        if wl != "query_mix":
            ops = r["traced_ops"]
            parts = ["build_s", "plan_s", "exec_s"] + (["pick_s"] if wl == "lime_batch" else [])
            acc = sum(sum(o["layers"][p] for p in parts) for o in ops) / \
                max(1e-9, sum(o["wall_s"] for o in ops))
            show(f"{wl}.layers_accounted_frac", acc, "fraction", " + ".join(parts) + " over wall")
        expected = [f"{wl}.{n}" for n, _ in per_layer_names(wl)]
    else:
        metrics, named, notes = end_to_end(wl, r)
        show("setup_s", metrics["setup_s"], "s", f"median of {len(r['setup'])} set-ups")
        for n, u in E2E[wl]:
            show(f"{wl}.{n}", named[n], u, notes.get(n, ""))
        expected = ["setup_s"] + [f"{wl}.{n}" for n, _ in E2E[wl]]
    missing = [n for n in expected if not printed.get(n)]
    if missing:
        errors.append("metrics not printed with a unit: " + ", ".join(missing))
    for e in errors:
        print(f"# CHECK FAILED: {e}")
    return not errors, r["attempted"], len(r["failures"]), metrics, errors


def self_test(seed):
    """The oracle gate must bite: a query_mix run with one query's output
    mutated must fail and name that query."""
    target = "q_tpch_q18"
    ok, _, _, _, errors = run_one("query_mix", seed, 1, 0, mutate=target)
    named = [e for e in errors if e.startswith(f"FAIL {target}:")]
    others = [e for e in errors if not e.startswith(f"FAIL {target}:")]
    if ok or not named or others:
        print(f"SELF-TEST FAILED: mutated {target}; run correct={ok}, errors={errors}")
        return 1
    print(f"SELF-TEST PASSED: the mutated {target} failed the run: {named[0]}")
    return 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true",
                    help="check that a mutated query_mix output fails the run")
    a = ap.parse_args()
    try:
        if a.self_test:
            return self_test(a.seed)
        if not a.workload:
            ap.error("--workload is required")
        workloads = WORKLOADS if a.workload == "all" else (a.workload,)
        all_ok, all_att, all_failed, all_metrics = True, 0, 0, {}
        for wl in workloads:
            ok, att, failed, metrics, _ = run_one(wl, a.seed, a.seconds, a.trace)
            units = dict(per_layer_names(wl) if a.trace else end_to_end_names())
            all_ok, all_att, all_failed = all_ok and ok, all_att + att, all_failed + failed
            # one workload: the metric names of BENCHMARK.json; all: qualified
            for n, v in metrics.items():
                name = n if len(workloads) == 1 else f"{wl}.{n}"
                all_metrics[name] = {"value": v, "unit": units[n]}
        print(json.dumps({"correct": all_ok, "attempted": all_att, "failed": all_failed,
                          "metrics": all_metrics}))
        return 0 if all_ok else 1
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2


if __name__ == "__main__":
    # a terminated run still stops the JVM it started (finally in run_jvm)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.exit(main())
