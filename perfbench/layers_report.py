"""Module-level breakdown of a traced run, named after the package's layers
(``layers.raw.wall_s``, ``registry.dedup.latency_s``,
``curation.near_dedup.shingle_mat_s`` ...). Values are medians over the
traced passes of each pass's per-span-name sums; written as one JSON file
beside the run's JSONL spans. README.md maps each name to the end-to-end
metric it should move.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict
from pathlib import Path

LAYER_STATS = ("wall_s", "jobs", "stages", "tasks", "executor_cpu_s", "shuffle_write_bytes", "bytes_written")

# funnel-hook key → (reported stage name, funnel_report stage whose n_docs it outputs)
CURATION_STAGES = {
    "corpus_write": "corpus",
    "quality_gate": "quality_kept",
    "sample_gate": "sampled",
    "exact_dedup": "deduped",
    "near_dedup": "near_deduped",
    "packing": "packed",
}
NEAR_DEDUP_SEAMS = {
    "shingle_mat_sec": "shingle_mat_s",
    "advisory_estimate_sec": "advisory_estimate_s",
    "edges_checkpoint_sec": "edges_checkpoint_s",
    "labeling_sec": "labeling_s",
    "anti_join_write_sec": "anti_join_write_s",
}


def _per_pass(spans: list[dict]) -> list[dict[str, dict[str, float]]]:
    """For each traced pass: span name → summed statistics."""
    passes: dict[str, dict] = defaultdict(lambda: defaultdict(lambda: defaultdict(float)))
    for s in spans:
        tid = s["trace_id"]
        if not tid.startswith("pass-"):
            continue  # setup
        acc = passes[tid.split("-")[1]][s["name"]]
        acc["calls"] += 1
        for k in ("wall_s", "jobs", "stages", "tasks", "executor_cpu_s",
                  "shuffle_read_bytes", "shuffle_write_bytes", "bytes_written"):
            acc[k] += s[k]
    return [passes[k] for k in sorted(passes, key=int)]


def _median(passes, name: str, stat: str) -> float:
    return statistics.median(p.get(name, {}).get(stat, 0.0) for p in passes)


def medallion(wl, passes) -> dict:
    out = {}
    for layer in ("raw", "analytics", "features", "dashboard"):
        for stat in LAYER_STATS:
            out[f"layers.{layer}.{stat}"] = _median(passes, f"layers.{layer}", stat)
    sinks = ("upsert_partitions", "overwrite_table", "export_json")
    for sink in sinks:
        out[f"sinks.{sink}.wall_s"] = _median(passes, f"sinks.{sink}", "wall_s")
    out["sinks.overwrite_table.curation_wall_s"] = _median(passes, "curation.overwrite_table", "wall_s")
    out["sinks.files_written"] = wl.files_written()
    written = statistics.median(
        sum(p.get(f"sinks.{s}", {}).get("bytes_written", 0.0) for s in sinks) for p in passes
    )
    out["sinks.bytes_written_per_input_byte"] = written / wl.input_bytes()
    return out


def registry(wl, passes, spans) -> dict:
    out = {}
    built = list(wl.build_s)
    for family in sorted(set(wl.family[n] for n in built)):
        name = f"registry.{family}"
        out[f"{name}.latency_s"] = _median(passes, name, "wall_s")
        out[f"{name}.plan_build_s"] = sum(wl.build_s[q] for q in built if wl.family[q] == family)
        out[f"{name}.stages"] = _median(passes, name, "stages")
        out[f"{name}.shuffle_bytes"] = statistics.median(
            p.get(name, {}).get("shuffle_read_bytes", 0.0) + p.get(name, {}).get("shuffle_write_bytes", 0.0)
            for p in passes
        )
    # fits run once, at plan build; only the outermost fit span counts
    # (ivfpq_fit calls kmeans_fit and pq_fit)
    by_id = {s["span_id"]: s for s in spans}
    for fit in ("kmeans_fit", "pq_fit", "ivfpq_fit"):
        top = [
            s for s in spans
            if s["name"] == f"fit.{fit}" and s["trace_id"] == "setup"
            and not (s["parent"] and by_id[s["parent"]]["name"].startswith("fit."))
        ]
        out[f"fit.{fit}.wall_s"] = sum(s["wall_s"] for s in top)
        out[f"fit.{fit}.jobs"] = sum(s["jobs"] for s in top)
    return out


def curation(wl, passes) -> dict:
    from . import checks

    out = {}
    stage_walls = [h[0] for h in wl.hooks]
    seam_walls = [h[1] for h in wl.hooks]
    rows = {stage: n for stage, n, _ in checks.funnel(wl.base)}
    for key, stage in CURATION_STAGES.items():
        out[f"curation.{key}.wall_s"] = statistics.median(w.get(key, 0.0) for w in stage_walls)
        out[f"curation.{key}.rows_out"] = rows[stage]
    for key, name in NEAR_DEDUP_SEAMS.items():
        out[f"curation.near_dedup.{name}"] = statistics.median(w.get(key, 0.0) for w in seam_walls)
    for stat in ("jobs", "stages", "executor_cpu_s"):
        out[f"curation.{stat}"] = _median(passes, "curation.run_curation", stat)
    return out


def write(path: Path, workload: str, wl, spans: list[dict], *, session_s: float, overhead_s: float) -> None:
    passes = _per_pass(spans)
    report = {"session.start_s": session_s, "trace.overhead_s": overhead_s}
    if workload == "registry":
        report.update(registry(wl, passes, spans))
    else:
        report.update(medallion(wl, passes))
        report.update(curation(wl, passes))
    path.write_text(json.dumps(report, indent=1, sort_keys=True) + "\n")
