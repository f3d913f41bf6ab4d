"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Builds the library and the benchmark
(`build.py`) if needed, generates the workload's inputs from the seed
(`gen.py`), runs one measurement in a fresh JVM on a fresh temporary
root inside `perfbench/`, checks the outputs and that the JVM left
nothing behind in the root, and removes the root.

Prints a report line with every metric of the workload by name, unit and
(for tails) percentile, then as the last line one JSON object with the
keys correct, attempted, failed and metrics: the `end_to_end` metrics of
BENCHMARK.json with `--trace 0`, its `per_layer` metrics with `--trace 1`.
Exits 1 when an operation or a check failed, 2 when it could not run.
"""

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
WORKLOADS = ("incremental_etl", "view_maintenance", "corpus_curation")
SPANS = ("pipelines.run", "lineage.update", "storage.write", "storage.merge",
         "storage.delete", "storage.read", "storage.history", "storage.snapshot",
         "storage.maintain", "storage.matview.refresh", "storage.matview.read",
         "streaming.drain", "examples.curate", "ops.ann.fit", "ops.ann.search")
SPAN_FIELDS = ("calls", "self_ms", "driver_ms", "jobs", "exec_ms", "bytes_written")
# standalone per-layer metrics; a workload that has no such layer reads 0
COUNTERS = ("storage.matview.incremental_share", "storage.matview.groups_rescanned",
            "storage.matview.rebuilds", "storage.oplog_files", "storage.table_files",
            "lineage.records", "lineage.log_files", "streaming.batches",
            "streaming.lag_pending", "ops.curate.shuffle_bytes", "ops.curate.spill_bytes",
            "jvm.gc_ms", "jvm.threads_delta", "spark.streams_leaked", "trace.overhead")
# latency metrics of operations only some workloads run, and tails that
# need enough samples: in the traced record they read 0 where absent
OPTIONAL = tuple(f"{k}_{s}_ms" for k in ("commit", "read", "refresh", "search")
                 for s in ("p50", "tail")) + ("ann_recall_at_10",)
RUN_BUDGET_S = 170
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class RunError(Exception):
    pass


def host():
    cpus = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    return {"nproc": cpus, "loadavg": [round(x, 2) for x in os.getloadavg()]}


def run_jvm(classpath, workload, data, work, seconds, trace, cores, deadline):
    out = os.path.join(work, "record.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # no perf-data file: the JVM would put it in the system temp directory
    cmd = [build.java(), "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main", "--workload", workload, "--data", data,
            "--work", work, "--out", out, "--seconds", str(seconds),
            "--trace", str(trace), "--cores", str(cores)]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            code = proc.wait(timeout=max(10.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0 or not os.path.exists(out):
        with open(log_path, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-80:]))
        why = "timed out" if code is None else f"exited {code}"
        raise RunError(f"benchmark JVM {why}")
    with open(out) as f:
        return json.load(f)


def corpus_oracle(extra, data):
    """The curated output against q_pretrain_e2e's DuckDB oracle SQL."""
    want = oracle.curated(extra["oracle_sql"], os.path.join(data, "documents.parquet"))
    got = extra["curated"]
    diff = next((i for i, (a, b) in enumerate(zip(got, want)) if a != b),
                None if len(got) == len(want) else min(len(got), len(want)))
    return {"name": "corpus.duckdb_oracle", "ok": diff is None,
            "detail": f"{len(got)} (shard, bin) rows, oracle {len(want)}"
                      + ("" if diff is None else f", first difference at row {diff}")}


def leftovers(work):
    """What the JVM left under the run's root besides the inputs, its
    record and its log: every path, except that the temporary
    directories the run names for Java and Spark may remain, empty."""
    out = []
    for name in sorted(os.listdir(work)):
        path = os.path.join(work, name)
        if name in ("data", "record.json", "jvm.log"):
            continue
        if name in ("tmp", "spark-local") and os.path.isdir(path):
            out += sorted(os.path.relpath(os.path.join(d, f), work)
                          for d, dirs, files in os.walk(path) for f in dirs + files)
        else:
            out.append(name)
    return out


def report_metrics(workload, record, phase):
    """Every metric of the workload the phase measured, from the
    untraced phase: name -> (value, unit, note). A phase that failed
    part-way lacks some; they are left out."""
    s = phase["samples"]
    m = {}
    if phase["rows_s"] > 0:
        m["rows_per_s"] = (phase["rows"] / phase["rows_s"], "rows/s",
                           f"{phase['rows']} rows in {phase['steps']} steps")
    cycle = "search" if workload == "corpus_curation" else "cycle"
    if s.get(cycle):
        m["cycle_p50_ms"] = (statistics.median(s[cycle]), "ms",
                             f"{cycle}, n={len(s[cycle])}")
    for kind in ("commit", "read", "refresh", "search"):
        xs = s.get(kind)
        if not xs:
            continue
        m[f"{kind}_p50_ms"] = (statistics.median(xs), "ms", f"n={len(xs)}")
        p, tail = stats.tail(xs)
        if p is not None:
            m[f"{kind}_tail_ms"] = (tail, "ms", f"p{p:g}, n={len(xs)}")
    if "recall_at_10" in phase["extra"]:
        m["ann_recall_at_10"] = (float(phase["extra"]["recall_at_10"]), "ratio", None)
    amp = phase["amp"]
    if amp:
        m["write_amp"] = (stats.write_amp(amp["bytes_written"], amp["input_bytes"]), "x",
                          "first steps")
        m["space_amp"] = (stats.space_amp(amp["storage_bytes"], amp["live_bytes"]), "x",
                          "after the first steps")
    m["peak_rss_mb"] = (record["peak_rss_kb"] / 1024.0, "MB", None)
    return m


def layer_metrics(record, plain, traced):
    m = dict.fromkeys(COUNTERS + OPTIONAL, 0)
    spans = [dict(zip(("id", "parent", "name", "start_us", "end_us", "fs_bytes"), s))
             for s in traced["spans"]]
    jobs = [dict(zip(("job", "span", "start_ms", "end_ms", "exec_ms", "out_bytes",
                      "shuffle_bytes", "spill_bytes"), j)) for j in traced["jobs"]]
    per = stats.span_metrics(spans, jobs)
    for name in SPANS:
        for field in SPAN_FIELDS:
            m[f"{name}.{field}"] = per.get(name, {}).get(field, 0)
    curate = {s["id"] for s in spans if s["name"] == "examples.curate"}
    m["ops.curate.shuffle_bytes"] = sum(j["shuffle_bytes"] for j in jobs if j["span"] in curate)
    m["ops.curate.spill_bytes"] = sum(j["spill_bytes"] for j in jobs if j["span"] in curate)
    for k, v in traced["counters"].items():
        m[k] = v
    m["jvm.gc_ms"] = traced["gc_ms"]
    m["jvm.threads_delta"] = traced["threads_delta"]
    m["spark.streams_leaked"] = record["streams_leaked"]
    # against the untraced phase that ran after it, on a warmer JVM, so
    # this errs towards a larger overhead
    m["trace.overhead"] = traced["measured_s"] / plain["measured_s"]
    return m


def layer_shares(traced):
    """Share of the traced phase's measured time spent in each layer's
    spans (self time, so nested spans count once per layer)."""
    spans = [dict(zip(("id", "parent", "name", "start_us", "end_us", "fs_bytes"), s))
             for s in traced["spans"]]
    per = stats.span_metrics(spans, [])
    shares = {}
    for name, m in per.items():
        layer = name.split(".")[0]
        shares[layer] = shares.get(layer, 0.0) + m["self_ms"] / 1000.0 / traced["measured_s"]
    return {k: round(v, 4) for k, v in sorted(shares.items())}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    known = {f"{n}.{f}" for n in SPANS for f in SPAN_FIELDS} | set(COUNTERS) | set(OPTIONAL)
    unknown = [m["name"] for m in spec["per_layer"] if m["name"] not in known
               and m["name"] not in ("cycle_p50_ms", "fail_ratio", "peak_rss_mb")]
    if unknown:
        raise RunError(f"BENCHMARK.json names unknown per-layer metrics: {unknown}")

    t_start = time.time()
    host_start = host()
    classpath = build.build()
    deadline = time.time() + RUN_BUDGET_S
    work = tempfile.mkdtemp(prefix=".run-", dir=HERE)
    checks = []
    try:
        data = os.path.join(work, "data")
        t0 = time.time()
        gen.generate(a.workload, a.seed, data)
        gen_s = time.time() - t0
        cores = max(1, min(4, host_start["nproc"]))
        record = run_jvm(classpath, a.workload, data, work, a.seconds, a.trace, cores, deadline)
        left = leftovers(work)
        phases = record["phases"]
        if a.workload == "corpus_curation":
            for p in phases:
                if p["extra"].get("curated"):
                    checks.append(corpus_oracle(p["extra"], data))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    checks.append({"name": "run.no_leftovers", "ok": not left,
                   "detail": f"{len(left)} paths left in the run's root: {left[:5]}"})
    checks.append({"name": "run.no_active_stream", "ok": record["streams_leaked"] == 0,
                   "detail": f"{record['streams_leaked']} streams left active"})
    checks.append({"name": "run.no_thread_growth", "ok": record["nondaemon_threads_delta"] <= 0,
                   "detail": f"{record['nondaemon_threads_delta']} non-daemon threads added"})
    for p in phases:
        checks += p["checks"]
    attempted = sum(p["attempted"] for p in phases) + len(checks)
    failed = sum(p["failed"] for p in phases) + sum(not c["ok"] for c in checks)

    # a traced run's untraced phase comes second
    plain = phases[-1]
    e2e = report_metrics(a.workload, record, plain)
    e2e["setup_s"] = (statistics.median(record["setup_s"]), "s",
                      f"median of {len(record['setup_s'])}")
    e2e["fail_ratio"] = (failed / attempted, "ratio", None)
    metrics = {k: (v, u) for k, (v, u, _) in e2e.items()}
    if a.trace:
        for k, v in layer_metrics(record, plain, phases[0]).items():
            metrics.setdefault(k, (v, None))
    report = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "host": {"start": host_start, "end": host(), "cores_used": record["cores"]},
        "generate_s": gen_s, "session_s": record["session_s"],
        "steps": plain["steps"], "measured_s": plain["measured_s"],
        "wall_s": time.time() - t_start,
        "metrics": {k: {"value": v, "unit": u, **({"note": n} if n else {})}
                    for k, (v, u, n) in sorted(e2e.items())},
        "checks": checks,
    }
    if a.trace:
        report["layer_share"] = layer_shares(phases[0])
    print(json.dumps({"report": report}))
    missing = [m["name"] for m in wanted if m["name"] not in metrics]
    if missing and not failed:
        raise RunError(f"metrics not measured: {', '.join(missing)}")
    out = {m["name"]: {"value": metrics[m["name"]][0], "unit": m["unit"]}
           for m in wanted if m["name"] in metrics}
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": out}))
    return 0 if correct else 1


def _terminate(signum, frame):
    raise RunError(f"stopped by signal {signum}")


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, _terminate)
    try:
        sys.exit(main())
    except (RunError, build.BuildError, OSError) as e:
        print(f"[perfbench] {e}", file=sys.stderr)
        sys.exit(2)
