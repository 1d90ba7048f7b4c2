"""Public-surface ratchet: every top-level public function or class in
the package is reached from somewhere other than the tests, or is named
here with the reason it stays.

A name counts as reached when code in a non-test ``.py`` file (the
package, ``tools/``, ``bench.py``, ``perfbench/``, ``dags/`` or
``__spark_entry__.py``) refers to it: a bare name, an attribute or an
import. A mention in a docstring, comment or string does not count.
Registry queries (``q_*``) are reached through the registry and are
not counted. A new function that only a test calls fails this test;
wiring an allow-listed one in fails it too, until its entry is removed.
"""

from __future__ import annotations

import ast
import pathlib

import pos_api_pipeline_spark

_LAKE = "COVERAGE lake layout with no registered query"
_STREAM = "COVERAGE streaming feature; no batch query can drive a stream"
_MEDIA = "COVERAGE multimodal feature with no registered query"
_CURATION = "COVERAGE training-set curation driver with no registered query"
_FIXTURE = "synthetic asset generator used as a test fixture"
_REFERENCE = "readable per-row form; a test pins the fast path to it"

ALLOWED = {
    # reference sinks and sources
    "fetch_all_historical": "reference S1 full-history extract",
    "save_raw_json": "reference S4 raw JSON sink",
    "load_items_json": "reference items JSON source",
    "write_csv": "reference S7 CSV export",
    "write_single_parquet": "reference S8 single-file parquet export",
    "recover_partitions": "reference S13 partition recovery",
    "send_report_by_email": "reference S17 delivery; the DAG has no delivery setting yet",
    "pct_change": "reference C14 KPI percent-change label for the report text",
    "analyze_combo_choices": "reference A14 combo choice counter",
    "backfill": "reference Airflow backfill analog over the daily tick",
    "PosApiDataSource": "COVERAGE Python data source; callers register it with Spark",
    # lake layouts
    "write_zordered": _LAKE,
    "write_with_bloom": _LAKE,
    "write_bucketed": _LAKE,
    "write_orc": _LAKE,
    "write_sorted": _LAKE,
    "read_orc": _LAKE,
    "read_lake_evolved": _LAKE,
    # ingest-side features
    "load_json_with_quarantine": "COVERAGE bad-record quarantine on JSON ingest",
    "enrich_with_items": "COVERAGE item-catalog enrichment join",
    # streaming
    "read_event_stream": _STREAM,
    "hourly_windowed_counts": _STREAM,
    "sliding_windowed_counts": _STREAM,
    "dedup_within_watermark": _STREAM,
    "session_windows": _STREAM,
    "purchase_attribution": _STREAM,
    "run_to_memory_sink": _STREAM,
    "enrich_stream_with_dim": _STREAM,
    "stream_receipts_to_lake": _STREAM,
    "maintain_daily_metrics": _STREAM,
    "stream_dedupe_documents": _STREAM,
    "tws_closed_sessions": _STREAM,
    "running_user_totals": _STREAM,
    "use_rocksdb_state": "COVERAGE streaming state-store setting; no batch query runs a stream",
    # multimodal
    "audio_spectral_features": _MEDIA,
    "image_near_dups": _MEDIA,
    "resample_audio": _MEDIA,
    "extract_features": _MEDIA,
    "resize_images": _MEDIA,
    # LLM-data operators with no registered query
    "dedupe_corpus_cc": "ROADMAP standing decision: entity-resolution semantics use it",
    "decontaminate": "COVERAGE document-level benchmark decontamination",
    "build_band_index": "COVERAGE standing MinHash band index for incremental dedup",
    "planes_for_corpus": "LSH plane-count sizing rule for callers who know the corpus size",
    # per-row references
    "simhash": _REFERENCE,
    "word_shingles": _REFERENCE,
    # training-set curation
    "run_corpus_curation_tick": _CURATION,
    "materialize_training_set": _CURATION,
    "training_set_stats": _CURATION,
    # fixtures
    "synthetic_assets": _FIXTURE,
    "synthetic_wav_assets": _FIXTURE,
    "synthetic_avi_assets": _FIXTURE,
}


def _sources(repo: pathlib.Path) -> list[pathlib.Path]:
    files = [repo / "bench.py", repo / "__spark_entry__.py"]
    for d in ("pos_api_pipeline_spark", "tools", "perfbench", "dags"):
        files += sorted((repo / d).rglob("*.py"))
    return [p for p in files if not p.name.startswith("test_")]


def _referenced_names(paths: list[pathlib.Path]) -> set[str]:
    names = set()
    for path in paths:
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Name):
                names.add(node.id)
            elif isinstance(node, ast.Attribute):
                names.add(node.attr)
            elif isinstance(node, ast.alias):
                names.add(node.name.rpartition(".")[2])
    return names


def test_test_only_public_surface_is_allow_listed():
    pkg = pathlib.Path(pos_api_pipeline_spark.__file__).parent
    referenced = _referenced_names(_sources(pkg.parent))
    public = {
        node.name
        for path in pkg.rglob("*.py")
        for node in ast.parse(path.read_text()).body
        if isinstance(node, (ast.FunctionDef, ast.ClassDef))
        and not node.name.startswith(("_", "q_"))
    }
    unreached = public - referenced
    assert unreached == set(ALLOWED)
