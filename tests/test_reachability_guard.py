"""Every top-level function and class of the package is reached from a
root, or an allowlist entry names it with its reason, so code that only
tests run cannot accumulate again.

Reachability is by name, over the AST only (no Spark, no imports). The
roots are every package module's top-level code (which includes the
registries ``QUERIES`` and ``ORACLES``), and the whole of
``__spark_entry__.py``, ``bench.py``, ``perfbench/`` and ``tools/``. A
reached unit's body reaches every unit whose name it mentions, in any
module. Identifier-like string constants count as mentions, split at
dots, because perfbench's trace targets name the functions they patch as
strings (``(layers, "run_raw_layer", ...)``). Matching by bare name can
only over-count what is reached: two units that share a name are both
reached when either is, so the guard can miss dead code but never flags
live code.

An allowlisted unit is kept on purpose although no root runs it. Its body
is a root too, so the helpers it calls need no entries of their own.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

from .conftest import REPO

PACKAGE = "wnba_data_pipeline_spark"
ROOT_FILES = ("__spark_entry__.py", "bench.py")
ROOT_DIRS = ("perfbench", "tools")

_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*(?:\.[A-Za-z_][A-Za-z0-9_]*)*")
_UNIT = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)

# unit ("module.name", module relative to the package) -> why it stays
ALLOWLIST: dict[str, str] = {
    # the reference's ingest adapters; every fetcher needs the network, so
    # no offline root can run them (tests/test_ingest.py stubs the fetchers)
    "sources.ingest.scoreboard_source": "SURVEY §2 A1 REST scoreboard source",
    "sources.ingest.boxscore_fanout": "SURVEY §2 A2 per-game box-score fan-out",
    "sources.ingest.literal_source": "SURVEY §2 A3 literal in-memory source",
    # off-registry queries whose shape no registered query has
    "operators.relational.q_seeded_noise": (
        "SURVEY §2 H8 seeded noise column; tests/test_offregistry_parity.py"
    ),
    "operators.similarity.q_embedding_quantize_int8": (
        "SURVEY §8 embedding quantization (per-vector int8 codes); tests/test_contamination.py"
    ),
    "operators.similarity.q_embedding_spectrum": (
        "SURVEY §8 embedding spectrum (per-label top eigenvalue); tests/test_contamination.py"
    ),
    "operators.multimodal.q_payload_resize": (
        "SURVEY §8 multimodal resize step; tests/test_contamination.py"
    ),
    "operators.text.q_repetition_stats": (
        "SURVEY §8 text analysis, most-repeated-trigram share; tests/test_contamination.py"
    ),
    # kept with their tests until a later deletion (ROADMAP item 5): the
    # off-registry queries that repeat a registered shape, and units no
    # root runs, each named with what covers it and the test that checks it
    "operators.relational.q_ratio_derive": (
        "repeats advanced_metrics' guarded ratios; tests/test_offregistry_parity.py"
    ),
    "operators.relational.q_rank_global_marts": (
        "repeats award_mart's E4 mart ranks; tests/test_offregistry_parity.py"
    ),
    "operators.relational.q_union_tagged": (
        "repeats award_mart's tagged unpivot; tests/test_offregistry_parity.py"
    ),
    "operators.relational.q_count_distinct_groups": (
        "repeats tumbling_daily's exact distinct; tests/test_offregistry_parity.py"
    ),
    "operators.relational.q_argmax_leader": (
        "repeats advanced_metrics' ordered-first; tests/test_offregistry_parity.py"
    ),
    "operators.relational.q_json_extract_events": (
        "repeats scalar_funcs' H10 JSON; tests/test_offregistry_parity.py"
    ),
    "operators.relational.q_freshness_now": (
        "repeats scalar_funcs' H4/H7 intervals; tests/test_offregistry_parity.py"
    ),
    "operators.relational.q_kpi_json": (
        "repeats scalar_funcs' H10 JSON; tests/test_offregistry_parity.py"
    ),
    "operators.relational.q_count_distinct_approx": (
        "HLL variant of count_distinct_groups; tests/test_approx.py"
    ),
    "operators.relational.q_dispersion_approx": (
        "approximate dispersion_stats; tests/test_approx.py"
    ),
    "operators.dedup.q_simhash_fingerprint": (
        "repeats hamming_rerank's packed-sign Hamming; tests/test_offregistry_parity.py"
    ),
    "operators.text.q_doc_fingerprint": "repeats doc_winnow; tests/test_offregistry_parity.py",
    "operators.text.q_lang_id_agreement": (
        "repeats text_stats' token aggregation; tests/test_offregistry_parity.py"
    ),
    "operators.text.q_bigram_topk": (
        "repeats text_stats' token aggregation; tests/test_offregistry_parity.py"
    ),
    "operators.text.q_text_corpus_rollup": (
        "repeats text_stats + tfidf_top_terms; tests/test_offregistry_parity.py"
    ),
    "operators.text.q_url_domains": (
        "repeats text_stats' token aggregation; tests/test_offregistry_parity.py"
    ),
    "operators.text.q_corpus_sample": (
        "repeats mixture_sample's hash gate; tests/test_offregistry_parity.py"
    ),
    "operators.text._oracle_corpus_sample": (
        "DuckDB twin of q_corpus_sample; tests/test_offregistry_parity.py"
    ),
    "operators.text._oracle_lang_id": (
        "DuckDB twin of q_lang_id_agreement; tests/test_offregistry_parity.py"
    ),
    "operators.text.mixture_rate_gate": (
        "zero-shuffle variant of mixture_sample; tests/test_contamination.py"
    ),
    "operators.text.domain_blocklist_filter": "URL blocklist filter; tests/test_contamination.py",
    "operators.multimodal.q_frame_sample": (
        "repeats chunk_docs' 1→N explode; tests/test_offregistry_parity.py"
    ),
    "operators.multimodal.image_features": (
        "PPM decode + pixel features; tests/test_multimodal_decode.py"
    ),
    "operators.multimodal.encode_ppm": (
        "PPM payload builder for the decode tests; tests/test_multimodal_decode.py"
    ),
    "operators.temporal.range_join": "bin-bucketed two-table range join; tests/test_temporal.py",
    "operators.temporal.range_agg_binjoin": (
        "repeats range_join_bins' rows; tests/test_offregistry_parity.py"
    ),
    "operators.sketches.daily_user_sketches": (
        "stored per-day DataSketches HLL; tests/test_sketches.py"
    ),
    "operators.sketches.distinct_users_over": (
        "union of stored day sketches; tests/test_sketches.py"
    ),
    "operators.spans.strip_dup_spans": (
        "ExactSubstr rewrite of substring_spans; tests/test_spans.py"
    ),
    "operators.pq.pq_decode_col": "PQ reconstruction for error audits; tests/test_pq.py",
    "operators.ml.save_artifacts": "model + metrics artifact sink; tests/test_ml.py",
    "plans.catalog.register_catalog": "layer tables as catalog tables; tests/test_catalog.py",
    "sources.sinks.write_clustered": "range-clustered layout write; tests/test_layout.py",
    "sources.sinks.write_zordered": "Z-order layout write; tests/test_layout.py",
    # DuckDB twins and test references of reached units
    "operators.pq.pq_encode_sql": "DuckDB twin of pq.pq_encode; tests/test_pq.py",
    "operators.pq.pq_adc_topk_sql": "DuckDB twin of pq.pq_adc_topk; tests/test_pq.py",
    "operators.similarity.hard_negatives_exact": (
        "exact reference for hard_negatives_bucketed; tests/test_similarity_bucketed.py"
    ),
    "operators.text.winnow_fingerprints": (
        "property-test reference for doc_winnow; tests/test_properties.py"
    ),
    "operators.text._bigram_stream": (
        "reference bigram stream for the CMS counts; tests/test_cms.py"
    ),
    "operators.ml.leakage_safe_split": (
        "md5 train/test gate that ROADMAP item 6 puts under ml_rf_metrics; "
        "tests/test_leakage_split.py"
    ),
}


def _mentions(nodes) -> set[str]:
    """Names, attribute names and identifier-like string parts in ``nodes``."""
    out: set[str] = set()
    for top in nodes:
        for node in ast.walk(top):
            if isinstance(node, ast.Name):
                out.add(node.id)
            elif isinstance(node, ast.Attribute):
                out.add(node.attr)
            elif isinstance(node, ast.Constant) and isinstance(node.value, str):
                if _IDENT.fullmatch(node.value):
                    out.update(node.value.split("."))
    return out


def _module_name(path: Path, base: Path) -> str:
    parts = path.relative_to(base).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def package_units(base: Path = REPO / PACKAGE) -> dict[str, ast.AST]:
    """``"module.name"`` -> the top-level def or class node."""
    units = {}
    for path in sorted(base.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        mod = _module_name(path, base)
        for node in tree.body:
            if isinstance(node, _UNIT):
                units[f"{mod}.{node.name}" if mod else node.name] = node
    return units


def _root_mentions(repo: Path) -> set[str]:
    found: set[str] = set()
    for path in sorted((repo / PACKAGE).rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        found |= _mentions(n for n in tree.body if not isinstance(n, _UNIT))
    paths = [repo / f for f in ROOT_FILES]
    paths += [p for d in ROOT_DIRS for p in sorted((repo / d).rglob("*.py"))]
    for path in paths:
        found |= _mentions([ast.parse(path.read_text(), str(path))])
    return found


def reached(units: dict[str, ast.AST], seeds: set[str]) -> set[str]:
    """Units whose bare name is mentioned by ``seeds`` or, transitively, by
    a reached unit's body."""
    by_name: dict[str, list[str]] = {}
    for key, node in units.items():
        by_name.setdefault(node.name, []).append(key)
    done: set[str] = set()
    names, frontier = set(), set(seeds)
    while frontier:
        names |= frontier
        new = {k for n in frontier for k in by_name.get(n, ()) if k not in done}
        done |= new
        frontier = _mentions(units[k] for k in new) - names
    return done


def audit(repo: Path = REPO, allowlist: dict[str, str] = ALLOWLIST) -> list[str]:
    """Everything wrong with the package against ``allowlist``, as messages."""
    units = package_units(repo / PACKAGE)
    live = reached(units, _root_mentions(repo))
    kept = reached(units, _mentions(units[k] for k in allowlist if k in units))
    errors = []
    for key, why in sorted(allowlist.items()):
        if not why.strip():
            errors.append(f"{key}: allowlist entry without a reason")
        if key not in units:
            errors.append(f"{key}: allowlisted but not a top-level unit")
        elif key in live:
            errors.append(f"{key}: allowlisted but a root reaches it")
    for key in sorted(units.keys() - live - kept - allowlist.keys()):
        errors.append(f"{key}: no root reaches it and no allowlist entry names it")
    return errors


def test_every_unit_is_reached_or_allowlisted():
    assert len(package_units()) > 100
    assert audit() == []
