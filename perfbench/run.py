"""KG benchmark: one command per workload.

    python3 perfbench/run.py --workload kg_batch --seed 1 --seconds 20 --trace 0

Builds the library and the benchmark's Scala code (perfbench/build.py), runs one workload
in one JVM at local[min(4, cores)], checks its outputs, and prints every
metric by name with its unit. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}. `--trace 0` reports the
end-to-end metrics; `--trace 1` runs traced and untraced passes in turn and
reports the per-layer metrics, writing the spans to perfbench/.runs/.

Exit codes: 0 all checks passed; 1 a call failed or an output check failed
(the result line is still printed, with the failures counted); 2 the run
could not be made (build failure, crash, timeout; nothing printed).
"""

import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("kg_batch", "kg_incremental")
# the run must end within 180 s; leave room for start-up and teardown
JVM_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

# span name -> per-layer metric prefix; each span gives <prefix>_s (wall)
# and the Spark counters of the jobs submitted inside it
SPAN_LAYERS = [
    "sources.read", "pipeline.prepare", "pipeline.extract", "io.write",
    "link.canonicalize", "eval.pr",
    "streaming.batch", "streaming.read", "link.compact", "io.snapshot_read",
    "ops.minhash", "ops.simhash", "ops.emb",
]
SPAN_FIELDS = [("jobs", "count"), ("tasks", "count"), ("task_s", "s"),
               ("shuffle_write_bytes", "B"), ("spill_bytes", "B"), ("busy_frac", "ratio")]


def per_layer_units():
    """Every per-layer metric name -> unit, in report order."""
    u = {}
    for name in SPAN_LAYERS:
        u[name + "_s"] = "s"
        for f, unit in SPAN_FIELDS:
            u[f"{name}_{f}"] = unit
    u.update({
        "sources.partitions": "count",
        "pipeline.extract_doc_p50_ms": "ms",
        "encode.rows_per_s": "rows/s",
        "model.tag_rows_per_s_1t": "rows/s",
        "model.tag_rows_per_s_4t": "rows/s",
        "model.rows_per_doc": "rows",
        "functions.decode_rows_per_s": "rows/s",
        "link.surfaces": "count",
        "link.candidate_edges": "count",
        "link.canonical_triples": "count",
        "link.migration_rows": "count",
        "io.files_written": "count",
        "io.bytes_written": "B",
        "streaming.state_files": "count",
        "streaming.state_bytes": "B",
        "streaming.surfaces": "count",
        "streaming.bridges": "count",
    })
    for op in ("minhash", "simhash", "emb"):
        u[f"ops.{op}_candidates"] = "count"
        u[f"ops.{op}_verified"] = "count"
        u[f"ops.{op}_verify_ratio"] = "ratio"
    u["ops.minhash_hot_buckets"] = "count"
    u["ops.simhash_hot_buckets"] = "count"
    u["wall.rows_per_s"] = "rows/s"
    u["wall.batch_p50_s"] = "s"
    u["jvm.jit_cpu_s"] = "s"
    u["jvm.peak_rss_mb"] = "MB"
    u["trace.coverage"] = "ratio"
    u["trace.overhead"] = "ratio"
    return u


END_TO_END = {"setup_s": "s", "rows_per_cpu_s": "rows/cpu_s", "batch_cpu_p50_s": "s"}


def timed(raw, traced=False):
    """(all untraced calls, the calls of the workload's main operation).
    kg_incremental's compaction is in the throughput, not in the per-batch
    distribution."""
    calls = [c for c in raw["calls"] if c["traced"] == traced]
    return calls, [c for c in calls if c["kind"] != "compact"]


def end_to_end(raw):
    """End-to-end metrics from the untraced calls of a run. Times, set-up
    included, are the benchmark JVM's CPU seconds outside the JIT compiler
    threads: on a shared host, wall time measures how much CPU the
    neighbours left. The wall figures are printed beside them."""
    calls, main = timed(raw)
    lat = stats.latencies(main, "cpu_s")
    wall = stats.latencies(main)
    s = raw["setup"]
    for name, v in (("cpu", lat), ("wall", wall)):
        tail, pct, n = stats.tail(v)
        print(f"# batch {name} p50 {stats.median(v):.6g} s, tail {tail:.6g} s at p{pct:.1f} "
              f"of {n} calls")
    print(f"# rows_per_wall_s = {stats.pass_throughput(calls):.6g}")
    print(f"# setup parts {json.dumps(s)}")
    return {
        "setup_s": s["session_s"] + s["generate_s"] + s["warmup_s"],
        "rows_per_cpu_s": stats.pass_throughput(calls, "cpu_s"),
        "batch_cpu_p50_s": stats.median(lat),
    }


def per_layer(raw, spans_out):
    """Per-layer metrics from the spans, the jobs attributed to them and
    the counts the JVM side recorded; writes the enriched spans."""
    spans, cores = raw["spans"], raw["cores"]
    st = stats.self_times(spans)
    jobs = stats.attribute_jobs(spans, raw["jobs"])
    units = per_layer_units()
    m = {k: 0.0 for k in units}
    with open(spans_out, "w") as f:
        for s in spans:
            js = jobs[s["id"]]
            wall = s["t1_s"] - s["t0_s"]
            s["self_s"] = st[s["id"]]
            s["jobs"] = len(js)
            s["tasks"] = sum(j["tasks"] for j in js)
            s["task_s"] = sum(j["task_s"] for j in js)
            s["shuffle_write_bytes"] = sum(j["shuffle_write_bytes"] for j in js)
            s["spill_bytes"] = sum(j["spill_bytes"] for j in js)
            s["busy_frac"] = s["task_s"] / (wall * cores) if wall > 0 else 0.0
            f.write(json.dumps(s) + "\n")
    for name in SPAN_LAYERS:
        ss = [s for s in spans if s["name"] == name]
        if not ss:
            continue
        m[name + "_s"] = stats.median([s["t1_s"] - s["t0_s"] for s in ss])
        for field, _ in SPAN_FIELDS:
            m[f"{name}_{field}"] = stats.median([s[field] for s in ss])

    def attr(span, key):
        vals = [s["attrs"][key] for s in spans if s["name"] == span and key in s["attrs"]]
        return stats.median(vals) if vals else 0.0

    m["sources.partitions"] = attr("sources.read", "partitions")
    m["link.migration_rows"] = attr("link.compact", "migration_rows")
    for op in ("minhash", "simhash", "emb"):
        cand, ver = attr(f"ops.{op}", "candidates"), attr(f"ops.{op}", "verified")
        m[f"ops.{op}_candidates"], m[f"ops.{op}_verified"] = cand, ver
        m[f"ops.{op}_verify_ratio"] = ver / cand if cand > 0 else 0.0
    m["ops.minhash_hot_buckets"] = attr("ops.minhash", "hot_buckets")
    m["ops.simhash_hot_buckets"] = attr("ops.simhash", "hot_buckets")
    for k, v in raw["layer"].items():
        m[k] = v
    calls, main = timed(raw)
    m["wall.rows_per_s"] = stats.pass_throughput(calls)
    m["wall.batch_p50_s"] = stats.median(stats.latencies(main))
    m["jvm.jit_cpu_s"] = stats.median([c["jit_s"] for c in main])
    m["jvm.peak_rss_mb"] = raw["peak_rss_mb"]
    m["trace.coverage"] = stats.coverage(spans)
    roots = [s["t1_s"] - s["t0_s"] for s in spans if s["name"].endswith(".pass")]
    plain = {}
    for c in raw["calls"]:
        if not c["traced"]:
            plain[c["pass"]] = plain.get(c["pass"], 0.0) + c["wall_s"]
    m["trace.overhead"] = stats.median(roots) / stats.median(list(plain.values()))
    return m, units


def java_cmd(classes, work, args, out):
    jars = os.path.join(build.spark_jars(), "*")
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    return (["java", "-Xmx3g", "-Xss8m"] + opens + [
        "-XX:+UnlockDiagnosticVMOptions", "-XX:GCLockerRetryAllocationCount=64",
        # a fixed set of JIT compiler threads: the CPU of one that exited
        # could not be told apart from the program's
        "-XX:-UseDynamicNumberOfCompilerThreads",
        f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Dderby.system.home={tmp}",
        "-cp", f"{classes}{os.pathsep}{jars}", "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", os.path.join(work, "data"), "--out", out])


def main(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    classes = build.build()
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "raw.json")
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_MASTER"}
    t0 = time.monotonic()
    proc = subprocess.Popen(java_cmd(classes, work, args, out), cwd=work, env=env,
                            stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"perfbench: run exceeded {JVM_TIMEOUT_S} s", file=sys.stderr)
        return 2
    if code != 0 or not os.path.exists(out):
        print(f"perfbench: benchmark JVM exited {code} without a result", file=sys.stderr)
        return 2
    with open(out) as f:
        raw = json.load(f)
    shutil.rmtree(work, ignore_errors=True)
    print(f"# {args.workload} seed={args.seed} run {time.monotonic() - t0:.1f} s, "
          f"{len(raw['calls'])} calls")
    spans_out = None
    if args.trace:
        runs = os.path.join(HERE, ".runs")
        os.makedirs(runs, exist_ok=True)
        spans_out = os.path.join(runs, f"{args.workload}-seed{args.seed}.spans.jsonl")
    return report(raw, args.trace, spans_out)


def report(raw, trace, spans_out):
    """Print every metric of the run and the result line; return the exit
    code (0 if no call or check failed, else 1)."""
    for c in raw["checks"]:
        if not c["ok"]:
            print(f"# CHECK FAILED {c['name']}: {c['detail']}")
    for c in raw["calls"]:
        if not c["ok"]:
            print(f"# CALL FAILED {c['kind']} pass {c['pass']}: {c['error']}")
    if trace:
        values, units = per_layer(raw, spans_out)
        print(f"# spans written to {os.path.relpath(spans_out)}")
    else:
        values, units = end_to_end(raw), END_TO_END
    attempted, failed = stats.errors(raw["calls"], raw["checks"])
    for k, u in units.items():
        print(f"# {k} = {values[k]:.6g} {u}")
    print(f"# error_rate = {failed / attempted:.6g} ({failed} of {attempted})")
    # a percentile that lands on a failed call is +inf: JSON has no inf
    metrics = {k: {"value": values[k] if math.isfinite(values[k]) else None, "unit": u}
               for k, u in units.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
