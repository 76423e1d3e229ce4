"""The benchmark's workloads: fixed sets of registry query names.

A query's layer is the subpackage that defines its function
(`QUERIES[name].fn.__module__`), derived here, never kept by hand.
"""

from __future__ import annotations

import json
import os

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
GOLDEN_PATH = os.path.join(HERE, "golden.json")
#: A byte-identical copy of the sf0.01 test tables (TESTDATA.md), kept
#: with the benchmark so a run reads only inside its checkout. The golden
#: records are made from it.
DATA_DIR = os.path.join(HERE, "data", "sf0.01")

WORKLOADS: dict[str, tuple[str, ...]] = {
    # The paper's own surface: time slicing, a raster smoothing whose
    # NumPy tile runs in a Python/Arrow operator, and array ingest.
    "mesh_analysis": (
        "timeslice_events",
        "gaussian_smooth_grid",
        "array_ingest_roundtrip",
    ),
    # The cold pass trains the PQ codebooks and persists them to the
    # index cache; warm passes read them back. Plus exact dedup, text
    # metrics and binary asset features.
    "llm_curation": (
        "dedup_exact",
        "text_stats",
        "pq_codes",
        "multimodal_features",
    ),
}

#: Registry queries left out of `llm_curation`, and why.
EXCLUDED: dict[str, str] = {
    "bpe_tokenize": "its DuckDB oracle runs out of memory, so no golden digest",
    "bpe_heldout_coverage": "its DuckDB oracle runs out of memory, so no golden digest",
}

LAYERS = (
    "operators",
    "sources",
    "dedup",
    "functions",
    "similarity",
    "multimodal",
)


def layer_of(name: str) -> str:
    """Subpackage of `data_framework_spark` that defines query `name`."""
    from data_framework_spark.registry import QUERIES

    return QUERIES[name].fn.__module__.split(".")[1]


def golden() -> dict[str, dict]:
    with open(GOLDEN_PATH) as f:
        return json.load(f)
