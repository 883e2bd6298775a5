"""Benchmark inputs, generated outside every timed region.

* ``synth_tier`` writes one synth tier (images, polygons, features,
  wikidata) with ``datagen``'s own generators and the same row counts,
  schemas and row-group layout as ``datagen.ensure_dataset``; only the
  seed differs. Seed 42 reproduces the repo's own fixtures.
* ``registry_images`` writes the image tier the registry's image query
  reads in the benchmark: ``datagen.ensure_dataset("sf0.001")``, the
  repo's own seed-42 fixture.
* ``REGISTRY_TABLES`` is the fixed test-table set the registry queries
  read, checked in under ``perfbench/testdata/sf0.1``.

Everything generated lands under the directory the caller passes, never
in the repo's ``data/``.
"""

from __future__ import annotations

import json
import os

from langtoolsosm_spark import datagen

REGISTRY_TABLES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "testdata", "sf0.1")


def synth_tier(root: str, tier: str, seed: int) -> str:
    """Write ``<root>/synth_<tier>`` for ``seed``; return the directory."""
    n = datagen.TIER_ROWS[tier]
    out = os.path.join(root, f"synth_{tier}")
    os.makedirs(out, exist_ok=True)
    datagen._write(
        datagen.synth_images(n, seed=seed), datagen._IMG_SCHEMA,
        os.path.join(out, "images.parquet"),
    )
    datagen._write(
        datagen.synth_polygons(), datagen._POLY_SCHEMA,
        os.path.join(out, "polygons.parquet"),
    )
    datagen._write(
        datagen.synth_features(max(500, n // 20), seed=seed), datagen._FEAT_SCHEMA,
        os.path.join(out, "features.parquet"),
    )
    datagen._write(
        datagen.synth_wikidata(seed=seed), datagen._WD_SCHEMA,
        os.path.join(out, "wikidata.parquet"),
    )
    with open(os.path.join(out, "_meta.json"), "w") as f:
        json.dump({"tier": tier, "rows": n, "seed": seed}, f)
    open(os.path.join(out, "_SUCCESS"), "w").close()
    return out


def registry_images(root: str) -> str:
    """Write the registry's image tier under ``root``; return the directory."""
    return datagen.ensure_dataset("sf0.001", root=root)
