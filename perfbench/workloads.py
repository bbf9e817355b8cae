"""Workload definitions, input generation and per-layer metric assembly."""
import os
import statistics

import numpy as np

import gen

# A fixed, family-stratified sample of the registered queries: within
# each family (q, d, e, k, t incl. p1, st, s, m) in name order, the
# queries at the midpoints of k equal slices, plus two consumers of the
# snapshot artifacts SparkEntry.prewarmArtifacts builds (none of the
# midpoints reads one), so that work moved into the prewarm shows in
# the consumers too. Fixed by name, so parent and child commits time the
# same set even when queries are added.
QUERY_SAMPLE = [
    "q_autocorr", "q_events_json", "q_mann_kendall", "q_revenue_by_nation",
    "q_tpch_q12", "q_user_span",
    "d_contamination", "d_minhash_lsh", "d_source_overlap",
    "e_covariance", "e_pca_top2",
    "k20_scd2_changelog",
    "t4b_filter_icontains",
    "st_mix_alert",
    "s6_union_by_name",
    "m_frame_dedup",
    "d_dedup_clusters", "q_link_predict",
]

# pass_s: nominal seconds of one warm pass on a 4-core box; a run makes
# round(--seconds / pass_s) passes (at least one), whatever the speed.
WORKLOADS = {
    # Scale: sf0.01 star schema (60k lineitem rows), 500 documents of which
    # a seeded 5% are injected near-duplicates, 500 embeddings.
    "query_mix": {"kind": "queries", "sf": 0.01, "docs": 500, "vecs": 500,
                  "queries": QUERY_SAMPLE, "heap": "1g", "pass_s": 8},
    # sf0.01 customer/part dimensions; 4 yearly drops of 500 order lines.
    "etl_incremental": {"kind": "etl", "sf": 0.01, "docs": 50, "vecs": 50,
                        "drops": 4, "lines": 500, "heap": "1g", "pass_s": 7},
}

# Self-test scale (perfbench/selftest.py): same code paths, tiny inputs.
SMOKE = {"query_mix": {"sf": 0.001}, "etl_incremental": {"sf": 0.001, "drops": 3, "lines": 100}}

E2E = ["setup_s", "wall_s", "op_p50_s", "op_p90_s", "peak_rss_mb"]

LAYER_UNITS = {
    "plan.build_ms": "ms", "plan.analysis_ms": "ms", "plan.optimize_ms": "ms",
    "plan.physical_ms": "ms",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.sched_delay_ms": "ms", "host.job_floor_ms": "ms",
    "exec.task_cpu_ms": "ms", "exec.task_run_ms": "ms", "exec.gc_ms": "ms",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes",
    "shuffle.spill_bytes": "bytes", "shuffle.skew_ratio": "ratio",
    "expr.graft_nodes": "count", "expr.non_codegen_nodes": "count",
    "sources.call_ms": "ms", "sources.input_bytes": "bytes",
    "sources.input_records": "count",
    "sinks.call_ms": "ms", "sinks.compact_ms": "ms", "sinks.output_bytes": "bytes",
    "sinks.files_written": "count", "out_bytes_per_in_byte": "ratio",
    "etl.table_files": "count", "etl.ingest_op_s.p50": "s", "etl.read_op_s.p50": "s",
    "streaming.batches": "count", "streaming.add_batch_ms": "ms",
    "streaming.planning_ms": "ms", "streaming.wal_commit_ms": "ms",
    "streaming.state_rows": "count", "streaming.state_mem_bytes": "bytes",
    "streaming.overhead_ms": "ms",
    "memo.prewarm_s": "s", "memo.artifact_bytes": "bytes",
    "setup.session_s": "s", "setup.inputs_s": "s", "setup.warmup_s": "s",
    "family.q.sum_s": "s", "family.st.sum_s": "s", "family.t.sum_s": "s",
    "family.s.sum_s": "s", "family.k.sum_s": "s", "family.m.sum_s": "s",
    "family.d.sum_s": "s", "family.e.sum_s": "s",
    "self.build_ms": "ms", "self.exec_ms": "ms", "self.plan_ms": "ms",
    "trace.overhead_ratio": "ratio",
}
PER_LAYER = list(LAYER_UNITS)


def shares(seed: int):
    """Seed-controlled dirt of the inputs, each in a narrow band."""
    r = np.random.default_rng(seed + 17)
    return {"doc_dup": 0.05,
            "row_dup": float(r.uniform(0.02, 0.04)),
            "nulls": float(r.uniform(0.01, 0.03)),
            "variants": float(r.uniform(0.10, 0.30)),
            "updates": 0.05}


def generate(w, seed: int, data: str) -> int:
    """Writes the workload's inputs under `data`; returns the input bytes
    the workload reads (fixture tables, or the drops for the ETL load)."""
    sh = shares(seed)
    total = gen.write_tables(data, seed, w["sf"], w["docs"], w["vecs"], sh["doc_dup"])
    if w["kind"] != "etl":
        return total
    return gen.write_drops(os.path.join(data, "drops"), gen.drops(
        seed, w["drops"], w["lines"], int(150000 * w["sf"]), int(200000 * w["sf"]),
        sh["row_dup"], sh["nulls"], sh["variants"], sh["updates"]))


def family(name: str) -> str:
    p = name.split("_")[0]
    if p == "st":
        return "st"
    return "t" if p.startswith("p") else p[0]


def per_layer(w, r, walls, in_bytes: int, inputs_s: float):
    """Per-layer metrics of a traced run: the JVM's listener/span numbers
    plus set-up, family and ETL breakdowns from the untraced passes."""
    jl = r["per_layer"]
    untraced = [o for o in r["ops"] if not o["traced"] and not o["err"]]
    n_untraced = max(1, sum(1 for p in r["passes"] if not p["traced"]))
    traced_walls = [p["wall_s"] for p in r["passes"] if p["traced"]]
    out = {k: jl[k] for k in jl if k in LAYER_UNITS}
    fam = {f: 0.0 for f in ["q", "st", "t", "s", "k", "m", "d", "e"]}
    if w["kind"] == "queries":
        for o in untraced:
            fam[family(o["name"])] += o["s"] / n_untraced
    for f, v in fam.items():
        out[f"family.{f}.sum_s"] = v

    def kind_p50(kind):
        xs = [o["s"] for o in untraced if o["kind"] == kind]
        return statistics.median(xs) if xs else 0.0
    files = [p["table_files"] for p in r["passes"] if "table_files" in p]
    out["etl.table_files"] = statistics.mean(files) if files else 0.0
    out["etl.ingest_op_s.p50"] = kind_p50("ingest")
    out["etl.read_op_s.p50"] = kind_p50("read")
    out["out_bytes_per_in_byte"] = jl["sinks.output_bytes"] / max(1, in_bytes)
    out["host.job_floor_ms"] = r["job_floor_ms"]
    s = r["setup"]
    out["memo.prewarm_s"] = s["prewarm_s"]
    out["memo.artifact_bytes"] = s["artifact_bytes"]
    out["setup.session_s"] = s["session_s"]
    out["setup.inputs_s"] = inputs_s
    out["setup.warmup_s"] = s["warmup_s"]
    out["trace.overhead_ratio"] = statistics.median(traced_walls) / statistics.median(walls)
    return {k: (float(out[k]), LAYER_UNITS[k]) for k in PER_LAYER}
