#!/usr/bin/env python3
"""graft's benchmark: seeded workloads timed through graft's public entry
points, with output checks, failure counting and a listener-traced run.

Usage (from the repo root):
  python3 perfbench/run.py --workload integrate|curate|ref-ops --seed N \
      --seconds S --trace 0|1

A run builds graft with the benchmark (perfbench/build.py) and generates
the seeded fixture and its 1/10-scale oracle instance when they are not
cached (perfbench/fixtures.py). Then it launches one JVM
(perfbench/src/graftbench/Main.scala), which sets up the way a user would
(JVM start → session ready → one warm-up pass of the workload's calls on
the oracle instance: `setup_s`) and writes the warm-up outputs, which the
DuckDB oracle (perfbench/oracle.py) checks after the JVM exits. Then the
JVM runs a closed loop with one client over the full fixture: two warm
passes, checked but not timed, then timed passes for S seconds, at least
three. With trace 1, every other pass runs with the listener and job
groups on, and the stage-by-stage replay follows.

A call that throws, or whose digest (row count plus order-independent hash)
does not repeat across passes, is a failure and is never timed. The last
line of stdout is the result: {"correct", "attempted", "failed", "metrics"};
metrics are BENCHMARK.json's end_to_end set with trace 0 and its per_layer
set with trace 1. The full record (environment, fixture sizes, every
sample, oracle verdicts, spans) is written to
.bench_work/results/<workload>-s<seed>-t<trace>.json. Exit code 0 only when
every output check passed and no call failed.

GRAFT_BENCH_PLANT=throw,mismatch adds the planted failing calls the
benchmark's own test uses (perfbench/test_planted.py).
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
sys.path.insert(0, HERE)

import build  # noqa: E402

WORKLOADS = ("integrate", "curate", "ref-ops")
# A fixed heap and the throughput collector: with the default G1 and a
# growing heap, same-seed runs of curate spread by 15% here; with these
# they agree within about 5%. The heap is touched at launch (a part of
# setup_s), so no timed pass pays for first touches of its pages.
# No hsperfdata file under /tmp: a run writes only inside its checkout.
JVM_OPTS = ["-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:+AlwaysPreTouch", "-Xss8m", "-XX:-UsePerfData"]
JVM_TIMEOUT_S = 150  # a run must end within 180 s, oracle check included
FIXTURES_KEPT = 4
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cpus():
    return len(os.sched_getaffinity(0))


def launch(classes, a, full_dir, small_dir, scratch, plant):
    """Runs the benchmark JVM; returns (record, launch epoch)."""
    os.makedirs(os.path.join(scratch, "tmp"), exist_ok=True)
    result = os.path.join(scratch, "result.json")
    logf = os.path.join(scratch, "jvm.log")
    cmd = ["java"] + JVM_OPTS
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={scratch}/tmp", f"-Dspark.local.dir={scratch}/spark-local",
        f"-Dspark.sql.warehouse.dir={scratch}/warehouse", f"-Dspark.hadoop.hadoop.tmp.dir={scratch}/hadoop",
        "-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
        "graftbench.Main", a.workload, str(a.seconds), str(a.trace), full_dir, small_dir, scratch, result,
    ] + ([",".join(plant)] if plant else [])
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus()))
    t0 = time.time()
    with open(logf, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=scratch, env=env)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0 or not os.path.exists(result):
        with open(logf) as lf:
            tail = lf.read()[-3000:]
        raise RuntimeError(f"benchmark JVM exited {rc}:\n{tail}")
    with open(result) as f:
        return json.load(f), t0


def percentile(xs, q):
    xs = sorted(xs)
    if not xs:
        return None
    k = (len(xs) - 1) * q
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def judge(samples):
    """Marks each sample ok or failed: an exception fails it, and so does a
    digest other than its call's reference — the digest a strict majority
    of the call's passes returned. With no such majority every sample of
    the call fails."""
    by_call = {}
    for s in samples:
        by_call.setdefault(s["call"], []).append(s)
    for ss in by_call.values():
        ds = [s["digest"] for s in ss if s["error"] is None]
        ref = None
        if ds:
            top = max(set(ds), key=ds.count)
            if ds.count(top) * 2 > len(ss):
                ref = top
        for s in ss:
            s["ok"] = s["error"] is None and s["digest"] == ref
    return {c: next((s["digest"] for s in ss if s["ok"]), None) for c, ss in by_call.items()}


def timed(samples):
    """The warm passes, the first at full size, are checked for failures
    but left out of every timing."""
    return [s for s in samples if not s["warm"]]


def passes(samples):
    """Clean passes only (every call ok), as their summed call seconds."""
    by_pass = {}
    for s in samples:
        by_pass.setdefault(s["pass"], []).append(s)
    return [sum(s["seconds"] for s in ss) for ss in by_pass.values() if all(s["ok"] for s in ss)]


def call_medians(samples):
    """Each call's median latency over its timed, ok samples."""
    by_call = {}
    for s in timed(samples):
        if s["ok"]:
            by_call.setdefault(s["call"], []).append(s["seconds"])
    return {c: statistics.median(v) for c, v in by_call.items()}


def end_to_end(rec, setup_s, input_rows):
    """pass_s is the median timed pass. call_s.p50 / p90 are percentiles over
    the workload's calls of each call's median latency: the calls of a pass
    differ by up to 10x, so percentiles pooled over a few passes jump
    between calls from run to run (those pooled figures, with their sample
    counts, are in the record)."""
    ps = passes(timed(rec["timed"]["samples"]))
    pass_s = statistics.median(ps) if ps else None
    per_call = list(call_medians(rec["timed"]["samples"]).values())
    return {
        "pass_s": pass_s,
        "call_s.p50": percentile(per_call, 0.5),
        "call_s.p90": percentile(per_call, 0.9),
        "rows_per_s": input_rows / pass_s if pass_s else None,
        "setup_s": setup_s,
    }


def union_ms(spans):
    total, end = 0, None
    for a, b in sorted(spans):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def per_layer(rec):
    """Per-pass totals of the listener counts (median over traced passes),
    replay self times and kernel rates, and the tracing overhead. The result
    line carries BENCHMARK.json's per_layer set, the metrics every workload
    has; the per-operator self times, Dedup counts and kernel rates, which
    read 0 on a workload that does not run that code, are in the record."""
    traced = [s for s in timed(rec["timed"]["samples"]) if s["traced"]]
    by_pass = {}
    for s in traced:
        by_pass.setdefault(s["pass"], []).append(s)

    def per_pass(f):
        return statistics.median([sum(f(s) for s in ss) for ss in by_pass.values()])

    def count(key):
        return per_pass(lambda s: s["counts"][key])

    def skew(ss):
        # the dominant stage of the pass (most task time): max / median task
        stages = [st for s in ss for st in s["counts"]["stage_tasks_ms"]]
        total, mx, med = max(stages, key=lambda st: st[0]) if stages else (0, 1, 1)
        return mx / max(med, 1)

    def timed_passes(key):
        # a JVM-wide figure per pass (traced or not), over the timed passes
        return rec["timed"][key][rec["timed"]["warm_passes"]:]

    replay = rec.get("replay", {})
    self_s = replay.get("self_s", {})
    counts = replay.get("counts", {})
    kernels = replay.get("kernels_rows_per_s", {})
    untraced = passes([s for s in timed(rec["timed"]["samples"]) if not s["traced"]])
    traced_p = passes(traced)
    m = {
        "sources.input_bytes": count("input_bytes"),
        "sources.input_rows": count("input_rows"),
        "sources.scan_s": self_s.get("sources.scan", 0.0),
        "exchange.shuffle_write_bytes": count("shuffle_write_bytes"),
        "exchange.shuffle_read_records": count("shuffle_read_records"),
        "exchange.fetch_wait_s": count("fetch_wait_s"),
        "compute.executor_run_s": count("executor_run_s"),
        "compute.executor_cpu_s": count("executor_cpu_s"),
        "compute.task_max_over_median": statistics.median([skew(ss) for ss in by_pass.values()]),
        "memory.spill_bytes": count("spill_bytes"),
        "memory.driver_heap_peak_mb": max(rec["timed"]["heap_old_after_gc_mb"]),
        "compute.jit_compile_s": statistics.median(timed_passes("jit_compile_s")),
        "memory.gc_s": statistics.median(timed_passes("gc_s")),
        "plans.codegen_compiles": statistics.median(timed_passes("codegen_compiles")),
        "driver.jobs": count("jobs"),
        "driver.stages": count("stages"),
        "driver.tasks": count("tasks"),
        "driver.result_bytes": count("result_bytes"),
        "driver.outside_jobs_s": per_pass(
            lambda s: max(0.0, s["seconds"] - union_ms(s["counts"]["job_spans_ms"]) / 1e3)),
        "plans.planning_s": count("planning_s"),
        "plans.queries": count("queries"),
        "sink.bytes_written": count("output_bytes"),
        "sink.files_written": counts.get("sink.files_written", 0),
        "operators.Dedup.candidates": counts.get("operators.Dedup.candidates", 0),
        "operators.Dedup.verified": counts.get("operators.Dedup.verified", 0),
        "operators.Dedup.verified_per_candidate":
            counts.get("operators.Dedup.verified", 0) / max(counts.get("operators.Dedup.candidates", 0), 1),
        "GraftSession.session_s": rec["setup"]["session_s"],
        "setup.warmup_s": rec["setup"]["warmup_s"],
        "trace.untraced_pass_s": statistics.median(untraced) if untraced else None,
        "trace.traced_pass_s": statistics.median(traced_p) if traced_p else None,
    }
    m["operators.self_s"] = sum(v for k, v in self_s.items() if k.startswith("operators."))
    m["operators.sink.self_s"] = sum(v for k, v in self_s.items() if k.startswith("operators.Sink."))
    for span in ("operators.Sink.writePartitionedParquet", "operators.Sink.writeJsonl",
                 "operators.Relational.diagonalConcat", "Pipeline.enrich",
                 "operators.Reshape.pivotConditionalWide", "operators.Rules.splitConsistent",
                 "operators.TextAnalysis.chunkText", "operators.Dedup.minHashLsh",
                 "operators.TextAnalysis.knBigramPerplexity", "operators.Relational.topKPerKey"):
        m[span + ".self_s"] = self_s.get(span, 0.0)
    for k in ("normalize_text", "minhash_sig", "ngram_jaccard", "uuid5"):
        m[f"functions.{k}.rows_per_s"] = kernels.get(k, 0.0)
    if m["trace.untraced_pass_s"] is not None and m["trace.traced_pass_s"] is not None:
        m["trace.overhead_s"] = m["trace.traced_pass_s"] - m["trace.untraced_pass_s"]
    else:
        m["trace.overhead_s"] = None
    return m


def evict_fixtures(workload, seed):
    """Keeps the FIXTURES_KEPT most recently used fixtures per workload."""
    root = os.path.join(WORK, "fixtures")
    if not os.path.isdir(root):
        return
    for variant in (workload, workload + "-oracle"):
        ds = [os.path.join(root, d) for d in os.listdir(root) if d.startswith(variant + "-s")]
        for d in ds:
            if os.path.basename(d).startswith(f"{variant}-s{seed}-"):
                os.utime(d)
        ds.sort(key=os.path.getmtime, reverse=True)
        for d in ds[FIXTURES_KEPT:]:
            shutil.rmtree(d, ignore_errors=True)


def declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return b["end_to_end"], b["per_layer"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops its JVM and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    plant = [p for p in os.environ.get("GRAFT_BENCH_PLANT", "").split(",") if p]

    try:
        e2e_decl, layer_decl = declared()
        classes, source_digest = build.build()
        import duckdb
        import fixtures
        import oracle
    except (build.BuildError, ImportError, OSError, KeyError, ValueError) as e:
        log(f"cannot build the benchmark: {e}")
        return 2

    scratch = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    try:
        full_dir, manifest = fixtures.ensure(a.workload, a.seed)
        small_dir, small_manifest = fixtures.ensure(a.workload, a.seed, fixtures.ORACLE_SCALE)
        calib = calibration_s()
        steal0 = cpu_steal()
        run, t_run = launch(classes, a, full_dir, small_dir, scratch, plant)
        steal = cpu_steal(steal0)
        verdicts = oracle.check(small_dir, os.path.join(scratch, "oracle"))
    except (RuntimeError, ValueError, duckdb.Error, subprocess.TimeoutExpired) as e:
        log(str(e))
        return 3
    finally:
        evict_fixtures(a.workload, a.seed)
        shutil.rmtree(scratch, ignore_errors=True)

    setup_s = run["setup"]["warm_done_epoch_s"] - t_run
    ref = judge(run["timed"]["samples"])
    samples = run["timed"]["samples"]
    problems = [f"oracle {c}: {v}" for c, v in verdicts.items() if v != "no_oracle" and not oracle.passed(v)]
    problems += [f"oracle-scale call failed: {f}" for f in run["oracle"]["failed"]]
    if a.trace:
        replay = run.get("replay", {})
        if "error" in replay:
            problems.append(f"replay failed: {replay['error']}")
        for c, d in replay.get("digests", {}).items():
            if ref.get(c) != d:
                problems.append(f"replay digest of {c} {d} != untraced {ref.get(c)}")
    failed = sum(1 for s in samples if not s["ok"])
    for s in samples:
        if not s["ok"]:
            problems.append(f"call {s['call']} pass {s['pass']}: {s['error'] or 'digest ' + str(s['digest'])}")

    if a.trace:
        values = per_layer(run)
        decl = layer_decl
    else:
        values = end_to_end(run, setup_s, manifest["input_rows"])
        decl = e2e_decl
    missing = [d["name"] for d in decl if values.get(d["name"]) is None]
    problems += [f"metric {n} has no value" for n in missing]
    correct = not problems

    ok_times = [s["seconds"] for s in timed(samples) if s["ok"]]
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "env": dict(run["env"], local=run["env"]["master"], source_digest=source_digest,
                    git_commit=git_commit(), cpu_steal_share=steal, calibration_s=calib),
        "setup": dict(run["setup"], setup_s=setup_s),
        "fixture": manifest, "oracle_fixture": small_manifest,
        "oracle": verdicts, "problems": problems,
        "attempted": len(samples), "failed": failed,
        "calls": {"timed_ok": len(ok_times), "pooled_p50_s": percentile(ok_times, 0.5),
                  "pooled_p90_s": percentile(ok_times, 0.9), "median_s": call_medians(samples)},
        "failed_share": failed / max(len(samples), 1),
        "metrics": values,
        "passes": {k: run["timed"][k] for k in (
            "warm_passes", "heap_old_after_gc_mb", "jit_compile_s", "gc_s", "codegen_compiles")},
        "samples": samples, "replay": run.get("replay"),
    }
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    out = os.path.join(WORK, "results", f"{a.workload}-s{a.seed}-t{a.trace}.json")
    with open(out, "w") as f:
        json.dump(record, f, indent=1)

    env = record["env"]
    print(json.dumps({"env": {k: env[k] for k in (
        "nproc", "local", "xmx_mb", "jvm_args", "jvm", "spark", "scala", "git_commit", "source_digest")},
        "seed": a.seed, "fixture_rows": {t: v["rows"] for t, v in manifest["tables"].items()},
        "record": os.path.relpath(out, ROOT)}))
    for p in problems[:20]:
        log(p)
    print(json.dumps({
        "correct": correct, "attempted": len(samples), "failed": failed,
        "metrics": {d["name"]: {"value": values.get(d["name"]), "unit": d["unit"]} for d in decl},
    }))
    return 0 if correct else 1


def cpu_steal(since=None):
    """The machine's (steal, total) CPU ticks, or with `since` the share of
    CPU time stolen by the hypervisor in between: contention the run could
    not see. None where /proc/stat is absent."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    now = (ticks[7] if len(ticks) > 7 else 0, sum(ticks))
    if since is None:
        return now
    return (now[0] - since[0]) / max(now[1] - since[1], 1)


def calibration_s():
    """Seconds for a fixed single-threaded loop, timed before the JVM starts:
    the machine's speed at the time of the run, to tell a slow machine from
    a slow program (CPU contention from other tenants does not always show
    as steal time)."""
    t0 = time.perf_counter()
    x = 0
    for i in range(3_000_000):
        x = (x * 31 + i) % 1_000_003
    return time.perf_counter() - t0


def git_commit():
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return "unknown (not a git checkout)"
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown (not a git checkout)"
    except OSError:
        return "unknown (git not available)"


if __name__ == "__main__":
    sys.exit(main())
