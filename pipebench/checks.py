"""Output checks run on every pass.

- ``digest``: an order-insensitive digest of a DataFrame's rows,
  collected by an ``Observation`` during the pass's own write, so the
  check adds no Spark job. Each row hashes to two 31-bit values
  (xxhash64 and murmur3); the digest is (rows, Σ h1, Σ h2). A sum,
  unlike an XOR, still sees a row that appears twice.
- ``oracle_slice``: ~150 urls of the generated input (plus chosen ones) run
  through the pipeline and through the independent driver-side oracle
  (``tests/oracle.py`` + ``_reconstruct_core.reconstruct_feature``).
"""

from __future__ import annotations

import json

from pyspark.sql import Observation
from pyspark.sql import functions as F

TILE_COLS = ("z", "x", "y", "element_type", "id", "feature_json")
RECON_COLS = (
    "element_type", "id", "version", "minor_version", "valid_since",
    "valid_until", "changeset", "uid", "user", "geometry",
)


def _digest_exprs(cols):
    return (
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.pmod(F.xxhash64(*cols), F.lit(2**31))).alias("h1"),
        F.sum(F.pmod(F.hash(*cols), F.lit(2**31))).alias("h2"),
    )


def observe_digest(df, kind: str, name: str):
    """→ (df with the digest observation attached, Observation).
    ``kind`` is "tiles" (the tile row) or "recon" (a reconstructed
    version; tags enter as sorted entries, the typed ``coords`` twin
    of ``geometry`` is left out so lazy and staged outputs compare)."""
    if kind == "tiles":
        cols = [F.col(c) for c in TILE_COLS]
    else:
        cols = [F.col(c) for c in RECON_COLS] + [
            F.array_sort(F.map_entries("tags"))
        ]
    obs = Observation(name)
    return df.observe(obs, *_digest_exprs(cols)), obs


def digest_of(obs: Observation) -> list[int]:
    m = obs.get
    return [int(m["rows"]), int(m["h1"] or 0), int(m["h2"] or 0)]


def oracle_slice(spark, pages, modulus: int, extra_urls: tuple[str, ...] = ()):
    """Pipeline vs oracle on the urls with ``xxhash64(url) % modulus ==
    0`` (plus ``extra_urls``). → (features compared, mismatched keys)."""
    from osm_wayback_spark import pipeline
    from osm_wayback_spark.operators._reconstruct_core import reconstruct_feature
    from osm_wayback_spark.sources.extract import extract_island
    from tests.oracle import (
        add_history_oracle,
        build_index,
        node_locations_oracle,
    )

    pick = F.pmod(F.xxhash64("url"), F.lit(modulus)) == 0
    if extra_urls:
        pick = pick | F.col("url").isin(list(extra_urls))
    sliced = pages.filter(pick)
    html = [r.html for r in sliced.select("html").collect()]
    versions, locs, features = build_index([extract_island(h) for h in html])
    histories = add_history_oracle(versions, features)
    nested = node_locations_oracle(histories, features, locs)
    expected = {}
    for key, feat in features.items():
        feats = reconstruct_feature(
            key[0], key[1], feat.get("geometry"), histories.get(key) or [],
            nested.get(key),
        )
        if feats:
            expected[key] = sorted(
                json.dumps(f, separators=(",", ":"), sort_keys=True) for f in feats
            )
    got: dict[tuple, list[str]] = {}
    rows = pipeline.reconstruction_pipeline(sliced, with_feature_json=True).select(
        "element_type", "id", "feature_json"
    ).collect()
    for r in rows:
        got.setdefault((r.element_type, r.id), []).append(r.feature_json)
    got = {k: sorted(v) for k, v in got.items()}
    bad = sorted(k for k in set(expected) | set(got) if expected.get(k) != got.get(k))
    return len(expected), bad
