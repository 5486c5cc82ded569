"""Names and units of every metric the benchmark prints.

``BENCHMARK.json`` at the repository root lists the same names; the
benchmark's tests hold the two together.
"""

from __future__ import annotations

from ledger import EVENTLOG_METRICS, LAYERS
from pipeline import INPUT_KINDS

WORKLOADS = ("mixed_job", "geotag_dense")

END_TO_END = {
    "docs_per_s": "docs/s",
    "cpu_s_per_kdoc": "s/kdoc",
    "peak_rss_mb": "MB",
    "setup_s": "s",
    "resume_s": "s",
}

_EVENTLOG_UNITS = {"executor_run_s": "s", "executor_cpu_s": "s",
                   "shuffle_write_bytes": "bytes", "spill_bytes": "bytes"}


def _per_layer() -> dict[str, str]:
    m = {
        "runtime.resumable_stage.s": "s",
        "runtime.split_mega_docs.s": "s",
        "runtime.mega_chunks": "count",
        "runtime.bytes_written": "bytes",
        "runtime.manifest_rows": "count",
        "runtime.resume_todo_parts": "count",
        "extract.stage.s": "s",
        "extract.docs_in": "count",
        "extract.spans_in": "count",
        "extract.spans_out": "count",
    }
    for kind in INPUT_KINDS:
        m[f"extract.kernel.{kind}.s"] = "s"
        m[f"extract.kernel.{kind}.spans_out"] = "count"
        m[f"extract.kernel.{kind}.empty_share"] = "ratio"
    m.update({
        "geotag.doc_texts.s": "s",
        "geotag.tokens": "count",
        "geotag.candidate_mentions.s": "s",
        "geotag.candidates": "count",
        "geotag.probe_hit_ratio": "ratio",
        "geotag.resolve_mentions.s": "s",
        "geotag.resolved": "count",
        "geotag.select_primary.s": "s",
        "geotag.entities": "count",
        "geotag.stage.s": "s",
        "geotag.build_surface_forms.s": "s",
        "geotag.surfaces": "count",
        "geotag.plan_s": "s",
    })
    for layer in LAYERS:
        for name in EVENTLOG_METRICS:
            m[f"{layer}.{name}"] = _EVENTLOG_UNITS[name]
    m.update({
        "trace.docs_per_s": "docs/s",
        "trace.untraced_docs_per_s": "docs/s",
        "trace.overhead": "ratio",
    })
    return m


PER_LAYER = _per_layer()

# rates and the useful share of probes are better high; times, bytes,
# waste and the work counts a layer does for a fixed corpus, low
PER_LAYER_BETTER = {
    name: "higher" if name.endswith(("docs_per_s", "probe_hit_ratio")) else "lower"
    for name in PER_LAYER
}

# span name -> per-layer time metric
SPAN_METRICS = {
    "runtime.resumable_stage": "runtime.resumable_stage.s",
    "runtime.split_mega_docs": "runtime.split_mega_docs.s",
    "extract.stage": "extract.stage.s",
    "geotag.doc_texts": "geotag.doc_texts.s",
    "geotag.candidate_mentions": "geotag.candidate_mentions.s",
    "geotag.resolve_mentions": "geotag.resolve_mentions.s",
    "geotag.select_primary": "geotag.select_primary.s",
    "geotag.stage": "geotag.stage.s",
    "geotag.build_surface_forms": "geotag.build_surface_forms.s",
    "geotag.plan": "geotag.plan_s",
}
