"""Repository benchmark: one seeded workload per invocation.

    python3 perfbench/run.py --workload lookup --seed 1 --seconds 12 --trace 0

Builds the library and the driver from source (perfbench/build.py),
generates the workload's inputs from the seed into a per-run directory under
.bench_build/runs, runs the driver in a fresh JVM (Spark local[2], one
closed-loop client), checks every delivered result against ground truth
outside the timed interval, and prints one line per metric followed by one
JSON object as the last line. With --trace 0 the metrics are the end-to-end
ones; with --trace 1 the per-layer ones from a traced window. The exit code
is non-zero when any request failed or returned a wrong result.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
from harness import checks, gen, stats  # noqa: E402

# curate is not in BENCHMARK.json: one run takes minutes (see README.md)
WORKLOADS = ["lookup", "ann", "curate"]
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def jvm(run_dir, args, log_name, deadline):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={os.path.join(run_dir, 'spark-local')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-Dlog4j2.level=warn"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", build.classpath(), "perfbench.Main"] + args
    log = os.path.join(run_dir, log_name)
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, cwd=run_dir)
        try:
            code = proc.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = -9
    if code != 0:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-6000:])
        raise SystemExit(f"driver exited with {code}")


def read_jsonl(path):
    if not os.path.exists(path):
        return []
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    build.build()
    start = time.time()
    run_dir = os.path.join(build.BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    inputs, out = os.path.join(run_dir, "inputs"), os.path.join(run_dir, "out")
    gen.generate(a.workload, a.seed, inputs)
    jvm(run_dir, ["--workload", a.workload, "--inputs", inputs, "--out", out,
                  "--seconds", str(a.seconds), "--trace", str(a.trace)],
        "driver.log", start + JVM_TIMEOUT_S)

    summary = json.load(open(os.path.join(out, "summary.json")))
    records = read_jsonl(os.path.join(out, "results.jsonl"))
    check = checks.check(a.workload, inputs, out, records)
    if a.trace:
        metrics = per_layer(a.workload, records, summary, check,
                            read_jsonl(os.path.join(out, "spans.jsonl")))
    else:
        metrics = end_to_end(records, summary, check)

    failed = len(check["failures"])
    for f in check["failures"][:20]:
        print(f"FAILED {f}")
    print(f"workload {a.workload} seed {a.seed}: {len(records)} requests, "
          f"failed_ratio {failed / max(1, len(records)):.4f}")
    for k, (v, unit) in metrics.items():
        print(f"  {k} = {v:.6g} {unit}")
    for k, v in check.get("notes", {}).items():
        print(f"  # {k}: {v}")
    result = {"correct": failed == 0, "attempted": max(1, len(records)), "failed": failed,
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    if failed == 0:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    sys.exit(0 if failed == 0 else 1)


def end_to_end(records, summary, check):
    win = summary["windows"]["measure"]
    ms = [r["ms"] for r in records]
    tail_ms, pct, n = stats.tail(ms)
    notes = check.setdefault("notes", {})
    notes["latency_tail"] = f"p{pct:.2f} of {n} samples"
    notes["setups_s"] = [round(s, 2) for s in summary["setup_s"]]
    return {
        "setup_s": (stats.median(summary["setup_s"]), "s"),
        "latency_p50_ms": (stats.median(ms), "ms"),
        "latency_tail_ms": (tail_ms, "ms"),
        "ops_per_s": (len(records) / win["seconds"], "1/s"),
        "peak_rss_mb": (summary["peak_rss_mb"], "MB"),
        "recall": (check["recall"], "ratio"),
        "write_amp": (summary["bytes_written"] / summary["user_bytes"], "ratio"),
    }


SETUP_LAYERS = ["tables.derived_build_ms", "plans.register_ms",
                "vector.build_ms.graph", "vector.build_ms.qgraph", "vector.build_ms.ivfpq"]
SPAN_LAYERS = ["engine.table_ms", "index.lookup_ms", "index.count_ms",
               "plans.analyze_ms", "plans.optimize_ms", "plans.physical_ms",
               "vector.search_ms", "vector.join_ms", "spark.exec_ms"]
# layers only the curate workload exercises
CURATE_SETUP_LAYERS = ["pipeline.store_build_ms"]
CURATE_SPAN_LAYERS = ["embed.embed_ms", "pipeline.quality_ms", "pipeline.exact_dedup_ms",
                      "pipeline.near_dedup_ms", "pipeline.strip_ms", "pipeline.ppl_ms",
                      "pipeline.semantic_dedup_ms", "pipeline.mix_ms"]


def per_layer(workload, records, summary, check, spans):
    traced = [r for r in records if r["window"] == "traced"]
    untraced = [r for r in records if r["window"] == "untraced"]
    n = max(1, len(traced))
    wins = summary["windows"]
    layer = stats.layer_ms_per_request(spans, len(traced))
    curate = workload == "curate"
    m = {}
    for k in SETUP_LAYERS + (CURATE_SETUP_LAYERS if curate else []):
        m[k] = (stats.median([s.get(k, 0.0) for s in summary["setup_layers"]]), "ms")
    for k in SPAN_LAYERS + (CURATE_SPAN_LAYERS if curate else []):
        m[k] = (layer.get(k[:-3], 0.0), "ms")
    m["unattributed_ms"] = (layer.get("request", 0.0), "ms")
    m["request_ms"] = (sum(r["ms"] for r in traced) / n, "ms")
    routable = [r for r in traced if r.get("routable")]
    m["plans.routed_ratio"] = (
        sum(1 for r in routable if r.get("reads_index")) / len(routable) if routable else 0.0, "ratio")
    m["spark.jobs_per_op"] = (sum(r.get("jobs", 0) for r in traced) / n, "count")
    m["spark.job_ms"] = (sum(r.get("job_ms", 0) for r in traced) / n, "ms")
    m["spark.task_ms"] = (sum(r.get("task_ms", 0) for r in traced) / n, "ms")
    m["spark.driver_nonjob_ms"] = (sum(r.get("nonjob_ms", 0) for r in traced) / n, "ms")
    m["spark.shuffle_bytes"] = (sum(r.get("shuffle_bytes", 0) for r in traced) / n, "bytes")
    m["spark.files_read"] = (sum(r.get("files_read", 0) for r in traced) / n, "count")
    m["spark.files_pruned"] = (
        sum(r.get("files_listed", 0) - r.get("files_read", 0) for r in traced) / n, "count")
    returned = sum(r.get("items", 0) for r in traced)
    m["spark.rows_scanned_per_row_returned"] = (
        sum(r.get("rows_scanned", 0) for r in traced) / max(1, returned), "ratio")
    ctr = summary.get("counters", {})
    m["vector.nodes_expanded"] = (ctr.get("vector.nodes_expanded", 0.0) / n, "count")
    if curate:
        embed_s = layer.get("embed.embed", 0.0) * n / 1e3
        m["embed.tokens_per_s"] = (ctr.get("embed.tokens", 0.0) / embed_s if embed_s > 0 else 0.0, "1/s")
        m["pipeline.dedup_recall"] = (check["recall"], "ratio")
    m["jvm.gc_pause_ms"] = (wins["traced"]["gc_ms"] / n, "ms")
    ops_u = len(untraced) / wins["untraced"]["seconds"]
    ops_t = len(traced) / wins["traced"]["seconds"]
    m["trace.overhead"] = (ops_u / ops_t - 1.0 if ops_t > 0 else 0.0, "ratio")
    return m


if __name__ == "__main__":
    main()
