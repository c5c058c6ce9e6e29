#!/usr/bin/env python3
"""Triple-store and registry-analytics benchmark.

Usage (from the repository root):
  python3 perfbench/run.py --workload triple|analytics --seed N \
      --seconds S --trace 0|1

Builds the program and the client (perfbench/build.py), writes the
corpus once, generates the seeded op list, runs it in one JVM with one
closed-loop client (perfbench/src/Harness.scala), checks every op's
result, and prints one JSON object as the last stdout line. With
`--trace 0` it carries the end-to-end metrics of BENCHMARK.json, with
`--trace 1` the per-layer ones. Everything is written under
`.bench_build/` in the current directory.
"""
import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import corpus  # noqa: E402
import ops as opsmod  # noqa: E402

ROOT = Path.cwd()
BUILD = ROOT / ".bench_build"
TRIPLE_SCALE, ANALYTICS_SCALE = 0.1, 0.01
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
JVM_TIMEOUT_S = 160

# Registry families the analytics trace attributes time to.
FAMILIES = {"graph": "graph_", "ops.dedup": "dedup_", "ops.text": "text_",
            "ops.stats": "stats_"}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def run_jvm(args, out_dir, log):
    tmp = out_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java", *[x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")],
           "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-cp", build.classpath(), "perfbench.Harness", *args]
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=out_dir)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"client timed out after {JVM_TIMEOUT_S}s; log in {log}")
    if rc != 0:
        tail = Path(log).read_text(errors="replace").splitlines()[-25:]
        fail(f"client exited {rc}:\n" + "\n".join(tail))


def geomean(xs):
    return math.exp(mean([math.log(x) for x in xs])) if xs else 0.0


def end_to_end(records, summary):
    """Every latency metric is built from per-kind medians, so how many
    ops of a kind a cycle holds sets its sample count, not its weight."""
    done = [r for r in records if r["ok"] and not r["twin"]]
    kinds = sorted({r["kind"] for r in done})
    per_kind = {k: median([r["ms"] for r in done if r["kind"] == k]) for k in kinds}
    # kinds that return rows to the client: every analytics query; the
    # triple lookups, read-your-writes, scans and traversals
    reads = {r["kind"] for r in done if "rows" in r or "count" in r}
    return {
        "setup_s": (median(summary["setup_ms"]) / 1000.0, "s"),
        "read_geomean_ms": (geomean([per_kind[k] for k in sorted(reads)]), "ms"),
        "kind_geomean_ms": (geomean(list(per_kind.values())), "ms"),
        "peak_rss_mb": (summary["peak_rss_mb"], "MB"),
    }, per_kind


def per_layer(workload, records):
    """Per-layer metrics from the traced ops of a traced run."""
    tr = [r for r in records if r["traced"] and "trace" in r]
    twins = [r for r in records if r["twin"] and r["ok"]]
    t = [r["trace"] for r in tr]
    selfs = [x["self_ms"] for x in t]
    total = sum(r["ms"] for r in tr) or 1.0

    def share(*names):
        return sum(s.get(n, 0.0) for s in selfs for n in names) / total

    def per_op(key):
        return mean([x.get(key, 0) for x in t])

    reads = [r for r in tr if "rows" in r or "count" in r]
    returned = sum(r.get("rows", 1) for r in reads)
    kept = [r["buckets_kept"] / opsmod.BUCKETS for r in reads if "buckets_kept" in r]
    hops = [h for r in tr for h in r.get("frontier_rows", [])]
    inserts = [r for r in tr if r["kind"] == "insert"]
    syncs = [r for r in tr if r["kind"] == "sync"]
    compacts = [r for r in tr if r["kind"] == "compact"]
    writes = [r for r in records if "files_total" in r]
    # Tracing overhead: per kind, the median over its ops of traced time
    # over the time of the same op's untraced twin.
    twin_ms = {r["id"]: r["ms"] for r in twins}
    paired = [r for r in tr if r["ok"] and r["id"] in twin_ms]
    ratios = [median([r["ms"] / twin_ms[r["id"]] for r in paired if r["kind"] == k])
              for k in sorted({r["kind"] for r in paired})]
    fam_total = {f: sum(r["ms"] for r in tr if r["kind"].startswith(p))
                 for f, p in FAMILIES.items()}
    m = {
        "engine.parse_share": (share("engine.parse"), "share"),
        "engine.build_share": (share("engine.build"), "share"),
        "expr.compile_share": (share("expr.compile"), "share"),
        "store.query_share": (share("store.query"), "share"),
        "store.insert_share": (share("store.insert"), "share"),
        "store.sync_share": (share("store.sync"), "share"),
        "store.compact_share": (share("store.compact"), "share"),
        "api.build_share": (share("api.build"), "share"),
        "spark.plan_share": (share("spark.plan"), "share"),
        "spark.exec_share": (share("spark.exec"), "share"),
        "client.share": (share("op"), "share"),
        "spark.build_ms": (mean([s.get("engine.build", 0) + s.get("store.query", 0) +
                                 s.get("api.build", 0) for s in selfs]), "ms"),
        "spark.plan_ms": (mean([s.get("spark.plan", 0) for s in selfs]), "ms"),
        "spark.exec_ms": (mean([s.get("spark.exec", 0) for s in selfs]), "ms"),
        "spark.build_jobs": (per_op("build_jobs"), "count"),
        "spark.jobs": (per_op("jobs"), "count"),
        "spark.stages": (per_op("stages"), "count"),
        "spark.tasks": (per_op("tasks"), "count"),
        "spark.driver_gap_ms": (per_op("driver_gap_ms"), "ms"),
        "spark.task_busy_ms": (per_op("task_busy_ms"), "ms"),
        "spark.shuffle_write_bytes": (per_op("shuffle_write_bytes"), "bytes"),
        "spark.shuffle_read_bytes": (per_op("shuffle_read_bytes"), "bytes"),
        "spark.spill_bytes": (per_op("spill_bytes"), "bytes"),
        "spark.gc_ms": (per_op("gc_ms"), "ms"),
        "spark.storage_bytes": (max([x.get("storage_bytes", 0) for x in t] or [0]), "bytes"),
        "spark.files_read": (per_op("files_read"), "count"),
        "spark.rows_read_per_row_returned": (
            sum(r["trace"].get("scan_rows", 0) for r in reads) / returned if returned else 0.0,
            "ratio"),
        "expr.buckets_kept_share": (mean(kept), "share"),
        "engine.frontier_rows": (mean(hops), "count"),
        "store.files_total": (writes[-1]["files_total"] if writes else 0, "count"),
        "store.insert_rows_read": (mean([r["trace"]["records_read"] for r in inserts]), "count"),
        "store.insert_novel_share": (mean([r.get("novel_share", 0) for r in inserts]), "share"),
        "store.sync_jobs": (mean([r["trace"]["jobs"] for r in syncs]), "count"),
        "store.diff_rows": (mean([r.get("synced", 0) for r in syncs]), "count"),
        "store.bloom_bytes": (mean([r.get("bloom_bytes", 0) for r in syncs]), "bytes"),
        "store.compact_files_before": (mean([r.get("files_before", 0) for r in compacts]), "count"),
        "store.compact_files_after": (mean([r.get("files_total", 0) for r in compacts]), "count"),
        "api.load_jobs": (per_op("load_jobs"), "count"),
    }
    for f in FAMILIES:
        m[f"{f}.share"] = (fam_total[f] / total if workload == "analytics" else 0.0, "share")
    m["trace_overhead_share"] = (geomean(ratios) - 1.0 if ratios else 0.0, "share")
    return m


def breakdown(records):
    """Per traced kind: mean op time and mean self time per span name."""
    out = {}
    for k in sorted({r["kind"] for r in records if "trace" in r}):
        rs = [r for r in records if r["kind"] == k and "trace" in r]
        names = sorted({n for r in rs for n in r["trace"]["self_ms"]})
        op_ms = mean([r["ms"] for r in rs])
        selfs = {n: mean([r["trace"]["self_ms"].get(n, 0.0) for r in rs]) for n in names}
        out[k] = {"n": len(rs), "op_ms": op_ms, "self_ms": selfs,
                  "children_share": 1.0 - selfs.get("op", 0.0) / op_ms if op_ms else 0.0,
                  "build_jobs": mean([r["trace"]["build_jobs"] for r in rs]),
                  "jobs": mean([r["trace"]["jobs"] for r in rs])}
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["triple", "analytics"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not (ROOT / "src" / "main" / "scala").is_dir():
        fail("run from the repository root: src/main/scala is missing")
    if not (ROOT / "tools" / "compare.py").is_file():
        fail("tools/compare.py (the oracle comparison rule) is missing")
    sys.path.insert(0, str(ROOT / "tools"))
    import compare  # noqa: E402

    stamp = build.build()
    scale = TRIPLE_SCALE if a.workload == "triple" else ANALYTICS_SCALE
    corpus_dir = corpus.ensure(BUILD / "corpus", scale)
    run_dir = BUILD / "runs" / f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)

    c = None
    if a.workload == "triple":
        c = opsmod.Corpus(corpus_dir, with_triples=True)
        header, op_list = opsmod.generate_triple(c, a.seed)
    else:
        header, op_list = opsmod.generate_analytics(a.seed)
    ops_file = run_dir / "ops.jsonl"
    with open(ops_file, "w") as f:
        for x in [header] + op_list:
            f.write(json.dumps(x) + "\n")
    op_hash = opsmod.op_list_hash(header, op_list)

    cache = BUILD / "cache" / stamp / f"triple-li{opsmod.LI_ORDERS}-d{len(opsmod.PEER_DELTA)}"
    for stale in (BUILD / "cache").glob("*"):
        if stale.is_dir() and stale.name != stamp:
            shutil.rmtree(stale, ignore_errors=True)
    args = ["--workload", a.workload, "--ops", str(ops_file), "--out", str(run_dir),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--corpus", str(corpus_dir), "--cache", str(cache)]
    if a.workload == "triple" and not (cache / "_BUILT").exists():
        run_jvm(args + ["--prepare", "1"], run_dir, run_dir / "prepare.log")
    run_jvm(args, run_dir, run_dir / "client.log")

    summary = json.loads((run_dir / "summary.json").read_text())
    records = [json.loads(l) for l in (run_dir / "ops.out.jsonl").read_text().splitlines()]
    if a.workload == "triple":
        base = opsmod.base_stats(c)
        opsmod.check_triple(c, header, op_list, records, base)
    else:
        opsmod.check_analytics(corpus_dir, run_dir, summary["stamps"]["oracle_sql"],
                               records, compare, BUILD / "cache")
    e2e, per_kind = end_to_end(records, summary)
    metrics = e2e if a.trace == 0 else per_layer(a.workload, records)
    failed = [r for r in records if not r["ok"]]

    stamps = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "op_list_hash": op_hash,
              "ops_run": len(records), "window_s": summary["window_s"],
              "nproc": summary["nproc"], "cpu_steal_share": summary["cpu_steal_share"],
              "spark": summary["spark_version"],
              "jvm": summary["jvm_version"], "build": stamp,
              "corpus": str(corpus_dir.relative_to(ROOT)), "corpus_seed": corpus.CORPUS_SEED,
              **{k: v for k, v in summary["stamps"].items() if k != "oracle_sql"}}
    if a.workload == "triple":  # live triples after the last compaction's check
        stamps["store_triples"] = [r["store_count"] for r in records if "store_count" in r][-1]
    detail = {"stamps": stamps, "setup_ms": summary["setup_ms"],
              "kind_p50_ms": per_kind,
              "kind_counts": {k: sum(1 for r in records if r["kind"] == k and not r["twin"])
                              for k in per_kind},
              "failures": [{"id": r["id"], "kind": r["kind"], "why": r.get("why", "")}
                           for r in failed][:20],
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    if a.trace:
        detail["breakdown"] = breakdown(records)
        if a.workload == "analytics":
            detail["family_pass_s"] = {f: sum(v for k, v in per_kind.items() if k.startswith(p)) / 1e3
                                       for f, p in FAMILIES.items()}
        detail["end_to_end"] = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    (run_dir / "result.json").write_text(json.dumps(detail, indent=1))
    shutil.rmtree(run_dir / "work", ignore_errors=True)
    shutil.rmtree(run_dir / "spark-local", ignore_errors=True)
    shutil.rmtree(run_dir / "tmp", ignore_errors=True)

    print(json.dumps({"stamps": stamps, "kind_p50_ms": per_kind}))
    print(json.dumps({"correct": not failed, "attempted": len(records), "failed": len(failed),
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
