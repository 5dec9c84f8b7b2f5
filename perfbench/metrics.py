"""Turn one raw run record into the benchmark's metrics.

The JVM side records facts (the set-up time, per-pass counters, per-op
latencies and check outcomes, spans); every rule that derives a metric
from them lives here, so it can be tested without Spark.
"""
import math
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

# The workloads run.py accepts: the two of BENCHMARK.json, and two more
# that run by hand with the same command (see README.md).
WORKLOADS = ("catalog", "cold-layouts", "pipelines-10x", "stream-replay")

MODULES = [
    "Relational", "TextQueries", "ExtraQueries", "SqlQueries", "PipelineQueries",
    "SurfaceQueries", "CorpusQueries", "AnalyticsQueries", "MixtureQueries",
    "CurationQueries", "LabelQualityQueries", "MultimodalQueries", "SelectionQueries",
    "StructureQueries", "ResolutionQueries", "EvalQueries", "SeriesQueries",
    "ExperimentQueries", "RankingQueries", "AgreementQueries", "MlOracleQueries",
    "CausalQueries", "LinkPredQueries", "GovernanceQueries", "DiagnosticsQueries"]
NAMED_QUERIES = [
    "q191_incremental_triangles", "q199_association_rules", "q174_rrf_fusion", "q222_hits",
    "q232_bfs_hops", "q103_recursive_chain", "q210_mutual_info", "q284_corpus_funnel",
    "q83_ann_join"]
LAYOUTS = [
    "bucketed_tables", "partitioned_events", "zorder_linear", "zorder_zordered", "shingles",
    "duplicated_spans", "yesterday_grams", "jaccard_pairs", "dedup_components",
    "yesterday_components", "graph_edges", "graph_edge_degrees", "graph_nodes",
    "copurchase_pairs", "copurchase_yesterday_pairs", "copurchase_yesterday_triangles",
    "embedding_exact_pairs", "embedding_exact_components", "embedding_lsh_components",
    "ivf_index"]

END_TO_END = {
    "setup_s": "s", "wall_s": "s", "spark_jobs": "count",
    "shuffle_bytes": "bytes", "task_cpu_s": "s"}


def per_layer_units():
    u = {"queries.build_s": "s", "queries.build_jobs": "count", "queries.exec_s": "s",
         "queries.exec_jobs": "count"}
    u.update({f"queries.{m}.wall_s": "s" for m in MODULES})
    u.update({f"queries.{q}.wall_s": "s" for q in NAMED_QUERIES})
    u.update({"spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
              "spark.tasks_per_job": "ratio", "spark.core_busy_ratio": "ratio",
              "spark.scheduler_wait_s": "s", "spark.job_span_s": "s",
              "spark.driver_gap_s": "s", "spark.planning_ms": "ms",
              "spark.codegen_compiles": "count", "spark.shuffle_write_bytes": "bytes",
              "spark.shuffle_read_bytes": "bytes", "spark.spill_bytes": "bytes",
              "spark.gc_s": "s", "spark.task_cpu_s": "s"})
    u.update({f"sources.build_s.{x}": "s" for x in LAYOUTS})
    u.update({f"sources.bytes.{x}": "bytes" for x in LAYOUTS})
    u.update({"sources.warm_s": "s", "sources.consumers_wall_s": "s",
              "etl.dedup_s": "s", "etl.pivot_s": "s", "etl.lag_s": "s",
              "ml.cluster_ensemble_s": "s", "ml.ar_fit_s": "s", "ml.forecast_s": "s",
              "ml.mse_s": "s", "ml.jobs": "count", "text.build_s": "s", "text.exec_s": "s",
              "text.jobs": "count", "streaming.trigger_ms": "ms",
              "streaming.add_batch_ms": "ms", "streaming.wal_commit_ms": "ms",
              "streaming.query_planning_ms": "ms", "streaming.state_rows": "count",
              "streaming.state_bytes": "bytes", "streaming.state_commit_ms": "ms",
              "streaming.checkpoint_bytes": "bytes", "streaming.rows_per_s": "1/s",
              "trace.overhead_ratio": "ratio", "fail_ratio": "ratio",
              "stored_bytes_ratio": "ratio", "peak_rss_mb": "MB"})
    return u


PER_LAYER = per_layer_units()


def fail_ratio(ops):
    """Ops that threw or failed their output check, over ops attempted."""
    return sum(o["status"] in ("error", "wrong") for o in ops) / len(ops) if ops else 0.0


def union_length(intervals):
    total, end = 0.0, -math.inf
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_times(spans):
    """Each span with its self time: duration minus the part of it that
    its children cover (children may nest and overlap)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = []
    for s in spans:
        cover = [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                 for c in kids.get(s["id"], [])]
        covered = union_length([(a, b) for a, b in cover if b > a])
        out.append(dict(s, self_s=(s["end"] - s["start"]) - covered))
    return out


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(raw):
    passes = [p for p in raw["passes"] if not p["traced"]]
    return {
        "setup_s": raw["setup_s"],
        "wall_s": _median([p["wall_s"] for p in passes]),
        "spark_jobs": _median([p["jobs"] for p in passes]),
        "shuffle_bytes": _median([p["shuffle_write_bytes"] for p in passes]),
        "task_cpu_s": _median([p["task_cpu_s"] for p in passes]),
    }


def per_layer(workload, raw):
    traced = [p for p in raw["passes"] if p["traced"]]
    n = max(len(traced), 1)
    spans = raw["spans"]
    ops = [o for o in raw["ops"] if o["traced"]]
    layer = raw.get("layer", {})
    v = {k: 0.0 for k in PER_LAYER}

    def span_sum(pred, key="dur", within=spans):
        return sum((s["end"] - s["start"]) if key == "dur" else s[key]
                   for s in within if pred(s["name"])) / n

    # ops a traced run adds after its pass feed their own per-op metrics
    # only; the query layer's split covers the pass, like spark.*
    in_pass = {o["run"] for o in ops if o["pass"] in {p["pass"] for p in traced}}
    pass_spans = [s for s in spans if s["run"] in in_pass]
    for k in ("build", "exec"):
        v[f"queries.{k}_s"] = span_sum(lambda x, k=k: x == f"queries.{k}", within=pass_spans)
        v[f"queries.{k}_jobs"] = span_sum(lambda x, k=k: x == f"queries.{k}", "jobs", pass_spans)
    for o in ops:
        if o["status"] not in ("ok", "unoracled"):
            continue
        if o["group"].startswith("queries."):
            v[f"{o['group']}.wall_s"] = v.get(f"{o['group']}.wall_s", 0.0) + o["seconds"] / n
        if o["name"] in NAMED_QUERIES:
            v[f"queries.{o['name']}.wall_s"] += o["seconds"] / n
        if o["group"] == "sources.build":
            v[f"sources.build_s.{o['name']}"] += o["seconds"] / n
        if o["group"] == "sources.consumer":
            v["sources.consumers_wall_s"] += o["seconds"] / n

    def mean(key):
        return sum(p[key] for p in traced) / n

    for k in ("jobs", "stages", "tasks", "scheduler_wait_s", "job_span_s", "planning_ms",
              "codegen_compiles", "shuffle_write_bytes", "shuffle_read_bytes",
              "spill_bytes", "gc_s", "task_cpu_s"):
        v[f"spark.{k}"] = mean(k)
    wall = mean("wall_s")
    v["spark.tasks_per_job"] = v["spark.tasks"] / max(v["spark.jobs"], 1)
    v["spark.core_busy_ratio"] = v["spark.task_cpu_s"] / (wall * raw["env"]["nproc"]) if wall else 0.0
    v["spark.driver_gap_s"] = wall - v["spark.job_span_s"]

    for x, b in layer.get("layout_bytes", {}).items():
        v[f"sources.bytes.{x}"] = float(b)
    v["sources.warm_s"] = (layer.get("warm_s", 0.0) if workload == "catalog" else
                           sum(v[f"sources.build_s.{x}"] for x in LAYOUTS))

    for k in ("etl.dedup", "etl.pivot", "etl.lag", "ml.cluster_ensemble", "ml.ar_fit",
              "ml.forecast", "ml.mse", "text.build", "text.exec"):
        v[f"{k}_s"] = span_sum(lambda x, k=k: x == k)
    v["ml.jobs"] = span_sum(lambda x: x.startswith("ml."), "jobs")
    v["text.jobs"] = span_sum(lambda x: x.startswith("text."), "jobs")

    for k in ("trigger_ms", "add_batch_ms", "wal_commit_ms", "query_planning_ms",
              "state_commit_ms", "state_rows", "state_bytes"):
        v[f"streaming.{k}"] = layer.get(k, 0.0) / n
    v["streaming.checkpoint_bytes"] = layer.get("checkpoint_bytes", 0.0)
    trig = layer.get("trigger_ms", 0.0)
    v["streaming.rows_per_s"] = layer.get("rows", 0.0) / (trig / 1e3) if trig else 0.0

    # against the median pass wall of the untraced runs made before this
    # one in the same checkout; 0 when there are none
    untraced = raw.get("untraced_wall")
    v["trace.overhead_ratio"] = _median([p["wall_s"] for p in traced]) / untraced if untraced else 0.0
    v["fail_ratio"] = fail_ratio(raw["ops"])
    v["stored_bytes_ratio"] = stored_bytes_ratio(raw)
    v["peak_rss_mb"] = raw["vm_hwm_kb"] / 1024
    return v


def stored_bytes_ratio(raw):
    """Bytes the run leaves on disk (layout root, stream checkpoints and
    sink) over fixture bytes read."""
    layer = raw.get("layer", {})
    stored = layer.get("stored_bytes", 0.0) + layer.get("checkpoint_bytes", 0.0)
    return stored / raw["input_bytes"] if raw.get("input_bytes") else 0.0


def summarize(workload, raw, trace):
    values = per_layer(workload, raw) if trace else end_to_end(raw)
    units = PER_LAYER if trace else END_TO_END
    ops = raw["ops"]
    bad = [o for o in ops if o["status"] in ("error", "wrong")]
    named = [f"{o['name']} pass {o['pass']}: {o['status']} {o['detail']}" for o in bad]
    named += sorted({f"{o['name']}: unoracled ({o['detail']})"
                     for o in ops if o["status"] == "unoracled"})
    line = {"correct": not bad, "attempted": len(ops), "failed": len(bad),
            "metrics": {k: {"value": values[k], "unit": units[k]} for k in units}}
    return {"line": line, "named_failures": named}
