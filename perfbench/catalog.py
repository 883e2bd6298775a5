"""The spans and fields the worker fills, and the declared metrics.

BENCHMARK.json is the one list of metric names and units; ``declared``
reads it. The lists below say which spans and fields the worker
measures, and so how it fills each declared per-layer value.
"""

from __future__ import annotations

import json
import os

BENCHMARK_JSON = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json"
)

QUERIES = [
    "images_phash_pairs", "knox_stat", "pip_join", "pip_unique_owner",
    "lsh_candidate_pairs", "co_visitation", "knn_join", "embedding_topk",
    "minhash_signatures",
]

# the work between wrapped layers: the joins and projections that the
# pipeline does around its layer calls
ENRICH_SPAN = "pipeline.enrich"

PIPELINE_SPANS = [
    "pipeline.scan",
    "imagecodec.decode_verify",
    "tiling.assign_tiles",
    "pip_join.pip_join",
    "knn.knn_join",
    "tiling.salted_repartition",
    "snapshots.write_partitioned",
    ENRICH_SPAN,
]

PIPELINE_FIELDS = [
    "wall_s", "exec_run_s", "exec_cpu_s", "py_io_mb",
    "shuffle_write_mb", "spill_mb", "tasks", "task_max_s",
]
QUERY_FIELDS = PIPELINE_FIELDS[:6]


def declared(kind: str) -> dict[str, str]:
    """{name: unit} of the ``end_to_end`` or ``per_layer`` metrics."""
    with open(BENCHMARK_JSON) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}
