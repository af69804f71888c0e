#!/usr/bin/env python3
"""Smoke self-check: every workload at tiny size names every metric.

    python3 perfbench/smoke.py [workload ...]

Runs each workload (default: all four, including those BENCHMARK.json does
not list) on sf0.001 inputs for one short round, untraced and traced, and
fails unless the result lines carry every end-to-end and per-layer metric of
BENCHMARK.json and the traced artifact carries every per-layer metric that
applies to the workload. Takes a few minutes.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

COMMON = [
    "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
    "catalyst.plans_per_op", "jobs.per_op", "jobs.wall_ms", "jobs.driver_gap_ms", "jobs.tasks",
    "jobs.task_cpu_ms", "jobs.shuffle_read_bytes", "jobs.shuffle_write_bytes",
    "tables.input_bytes", "tables.input_rows", "tables.rows_per_result_row",
    "storage.persisted_rdds", "storage.cached_mb", "storage.tmp_entries_leaked",
    "jvm.gc_ms", "jvm.start_ms", "jvm.session_build_ms", "jvm.warmup_ms", "box.probe_ms", "box.loadavg1",
]
ICELITE = [
    "icelite.load_ms", "icelite.read_plan_ms", "icelite.commit_driver_ms",
    "icelite.files_scanned_per_read", "icelite.output_bytes_per_changed_byte",
    "icelite.version_file_bytes", "icelite.metadata_bytes", "icelite.manifest_chunk_files",
    "icelite.data_files", "icelite.delete_files", "icelite.snapshots", "connector.sql_read_ms",
]
STREAMING = [
    "streaming.add_batch_ms", "streaming.query_planning_ms", "streaming.wal_commit_ms",
    "streaming.latest_offset_ms", "streaming.checkpoint_files_per_epoch",
]
FAMILIES = ["Relational", "Joins", "WindowOps", "VariantOps", "TemporalOps", "SketchOps",
            "BehaviorOps"]
CURATION = ["minhash_dedup", "dedup_components", "dedup_cluster_stats", "bpe_merges",
            "bpe_encode", "cosine_topk", "ann_ivf_topk", "curation_pipeline", "tfidf_topk",
            "doc_fingerprint", "token_counts"]
LAYERS = {
    "olap_read": COMMON + [f"operators.{f}_ms" for f in FAMILIES],
    "curation": COMMON + [f"operators.{q}_ms" for q in CURATION],
    "lakehouse_churn": COMMON + ICELITE + STREAMING,
    "stream_ingest": COMMON + STREAMING + ["icelite.load_ms", "icelite.snapshots"],
}
DETAIL = {
    "olap_read": ["query_p50_ms", "query_p90_ms", "failed_frac"],
    "curation": ["query_p50_ms", "query_p90_ms", "failed_frac"],
    "lakehouse_churn": ["query_p50_ms", "query_p90_ms", "commit_p50_ms", "commit_p90_ms",
                        "failed_frac", "storage_amp"],
    "stream_ingest": ["commit_p50_ms", "commit_p90_ms", "failed_frac", "storage_amp"],
}


def run(workload, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
         "--seconds", "1", "--sf", "0.001", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    if out.returncode != 0:
        raise AssertionError(f"{workload} trace={trace} exited {out.returncode}:\n{out.stderr[-3000:]}")
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = []
    for w in sys.argv[1:] or list(LAYERS):
        art, res = run(w, 0)
        want = [m["name"] for m in spec["end_to_end"]]
        problems += [f"{w}: result lacks {n}" for n in want if n not in res["metrics"]]
        problems += [f"{w}: artifact lacks {n}" for n in DETAIL[w] if n not in art["detail"]]
        if not res["correct"]:
            problems.append(f"{w}: incorrect: {art['errors']}")
        art, res = run(w, 1)
        want = [m["name"] for m in spec["per_layer"]]
        problems += [f"{w}: traced result lacks {n}" for n in want if n not in res["metrics"]]
        problems += [f"{w}: traced artifact lacks {n}" for n in LAYERS[w]
                     if n not in art["per_layer"]]
        if "tracing_overhead" not in art:
            problems.append(f"{w}: no tracing overhead")
        print(f"{w}: checked", flush=True)
    for p in problems:
        print("FAIL", p)
    print("smoke OK" if not problems else f"smoke FAILED ({len(problems)})")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
