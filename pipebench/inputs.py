"""Seeded page inputs, generated in Spark's Python workers and cached per
(workload, seed) under ``pipebench/.cache/``.

The program only ever sees the generated pages table. Two sources:

- the uniform synthetic corpus of ``osm_wayback_spark.synth`` at a
  scale factor. ``synth.SEED`` is a module constant memoised by
  ``lru_cache``s and read inside the ``mapInPandas`` workers, so the
  seed is set (and the caches cleared) in the worker before it
  generates — setting it on the driver alone would silently leave the
  workers on the default seed;
- hot node urls: a few node entities with thousands of versions each,
  in the same page format (FIXTURES.md §1 JSON island). Their ids lie
  outside the synthetic node pool, so no synthetic way references them;
  each hot way has companion nodes of its own.
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import random
import shutil
import time
from collections.abc import Iterator

import pandas as pd

PAGE_COLS = ["url", "warc_ts", "html", "text", "lang"]
HOT_ID_BASE = 900_000_000
_HOT_CHUNK = 256  # versions per work item
_BASE_TS = 1_500_000_000
GEN_KEYS = ("sf", "hot_urls", "hot_versions", "hot_ways", "hot_way_window")


def use_seed(seed: int) -> None:
    """Point ``synth`` at ``seed`` in this process. Called inside each
    Python worker: setting the constant on the driver alone leaves the
    workers on the default seed."""
    from osm_wayback_spark import synth

    if synth.SEED != seed:
        synth.SEED = seed
        for fn in (
            synth.node_n_versions,
            synth.node_base_lonlat,
            synth.node_version_ts,
            synth.node_version_info,
        ):
            fn.cache_clear()


def _hot_tags(rnd: random.Random) -> dict:
    from osm_wayback_spark import synth

    keys = rnd.sample(synth._TAG_KEYS, 2 + rnd.randrange(3))
    return {k: rnd.choice(synth._TAG_VALS[k]) for k in keys}


def hot_page(seed: int, k: int, v: int, n_versions: int) -> dict:
    """Page of version ``v`` of hot node ``k``: a pure function of its
    arguments, so chunks of one entity generate on different tasks.
    Timestamps step 900-1199 s per version (strictly increasing); tags
    change every 4 versions (equal-map versions in between); ~2% of
    middle versions are deletions."""
    eid = HOT_ID_BASE + k
    base = random.Random(f"{seed}|hot|{k}")
    lon0, lat0 = base.uniform(-170.0, 170.0), base.uniform(-80.0, 80.0)
    rnd = random.Random(f"{seed}|hot|{k}|{v}")
    ts = _BASE_TS + k * 100_000_000 + v * 900 + rnd.randrange(300)
    deleted = 1 < v < n_versions and rnd.random() < 0.02
    lonlat = None if deleted else [
        round(lon0 + rnd.uniform(0, 1e-3), 7),
        round(lat0 + rnd.uniform(0, 1e-3), 7),
    ]
    island = {
        "element_type": "node",
        "id": eid,
        "version": v,
        "ts": ts,
        "changeset": ts // 600,
        "uid": 1 + rnd.randrange(500),
        "user": rnd.choice(["alice", "bob", "carol", "dave"]),
        "visible": not deleted,
        "deleted": deleted,
        "tags": _hot_tags(random.Random(f"{seed}|hottags|{k}|{v // 4}")),
        "lonlat": lonlat,
    }
    if v == n_versions:
        island["geometry"] = {"type": "Point", "coordinates": lonlat}
    text = f"node {eid} version {v}: hot entity " + " ".join(
        rnd.choice(["map", "edit", "node", "survey", "trace"]) for _ in range(12)
    )
    return _page(island, text, ts)


def _page(island: dict, text: str, ts: int) -> dict:
    kind, eid, v = island["element_type"], island["id"], island["version"]
    payload = json.dumps(island, separators=(",", ":"), sort_keys=True)
    html = (
        f"<html><head><title>{kind}/{eid} v{v}</title></head><body>"
        f"<p>{text}</p>"
        f'<script type="application/osm+json">{payload}</script>'
        "</body></html>"
    )
    return {
        "url": f"https://osm.example.test/{kind}/{eid}",
        "warc_ts": _dt.datetime.fromtimestamp(ts, _dt.timezone.utc).replace(tzinfo=None),
        "html": html.encode("utf-8"),
        "text": text,
        "lang": "en",
    }


def hot_way_id(k: int, j: int) -> int:
    return HOT_ID_BASE + 1000 + 16 * k + j


def hot_way_pages(seed: int, k: int, j: int, window: int) -> list[dict]:
    """Way j on hot node k, with three companion nodes of its own:
    version 1 at the node's version 1 references the hot node and two
    companions, version 2 half a ``window`` of node versions later,
    version 3 (re-routed off the hot node onto the three companions) a
    full window later. While a way version references the hot node,
    every node edit in its validity interval is a minor version of the
    way, and the kernel's minor-version search is quadratic in that
    count — so the window bounds the work. The companions have one
    version, older than the way, so every ref resolves and the way's
    work (and tile rows) is the same for every seed."""
    rnd = random.Random(f"{seed}|hotway|{k}|{j}")
    base = random.Random(f"{seed}|hot|{k}")
    lon0, lat0 = base.uniform(-170.0, 170.0), base.uniform(-80.0, 80.0)
    t0 = _BASE_TS + k * 100_000_000
    comps = [HOT_ID_BASE + 2000 + 64 * k + 4 * j + i for i in range(3)]
    pages = []
    for i, cid in enumerate(comps):
        ts = t0 + 100 + i
        # half a degree apart: the way's bbox is past assign_tiles' bbox
        # cover cap, so each version gets exactly its vertex tiles
        lonlat = [round(lon0 + 0.5 * (i + 1), 7), round(lat0 + 0.5 * (i % 2), 7)]
        island = {
            "element_type": "node", "id": cid, "version": 1, "ts": ts,
            "changeset": ts // 600, "uid": 1 + rnd.randrange(500),
            "user": rnd.choice(["alice", "bob", "carol", "dave"]),
            "visible": True, "deleted": False, "tags": {"highway": "crossing"},
            "lonlat": lonlat, "geometry": {"type": "Point", "coordinates": lonlat},
        }
        pages.append(_page(island, f"node {cid} version 1: hot way companion", ts))
    node = HOT_ID_BASE + k
    for v, at in ((1, 1), (2, 1 + window // 2), (3, 1 + window)):
        ts = t0 + at * 900 + 450 + j
        refs = comps if v == 3 else [node, *comps[:2]]
        island = {
            "element_type": "way",
            "id": hot_way_id(k, j),
            "version": v,
            "ts": ts,
            "changeset": ts // 600,
            "uid": 1 + rnd.randrange(500),
            "user": rnd.choice(["alice", "bob", "carol", "dave"]),
            "visible": True,
            "deleted": False,
            "tags": {"highway": "residential", "name": f"hot {k}.{j} v{v}"},
            "node_refs": refs,
        }
        if v == 3:
            island["geometry"] = {"type": "LineString",
                                  "coordinates": [[0.0, 0.0], [0.001, 0.001]]}
        pages.append(_page(island, f"way {island['id']} version {v}: hot way", ts))
    return pages


def part_rows(seed: int, item: tuple) -> list[dict]:
    """Page rows of one work item, generated in the calling process
    under ``seed``: ("uniform", sf, i) is url i of the synthetic corpus
    at scale ``sf``; ("hot", k, lo, hi, n) is versions lo..hi-1 of hot
    node k (of n versions); ("hotway", k, j, window) is way j on hot
    node k and its companion nodes."""
    from osm_wayback_spark import synth

    use_seed(seed)
    if item[0] == "uniform":
        _, sf, i = item
        return synth.pages_for_url(i, synth.scale_counts(sf)[1])
    if item[0] == "hotway":
        _, k, j, window = item
        return hot_way_pages(seed, k, j, window)
    _, k, lo, hi, n = item
    return [hot_page(seed, k, v, n) for v in range(lo, hi)]


def work_items(params: dict) -> tuple[list[tuple], int]:
    """→ (work items, distinct urls) of a workload's input."""
    from osm_wayback_spark import synth

    sf = params["sf"]
    items = [("uniform", sf, i) for i in range(synth.scale_counts(sf)[0])]
    n = params.get("hot_versions", 0)
    n_hot, n_ways = params.get("hot_urls", 0), params.get("hot_ways", 0)
    for k in range(n_hot):
        items += [("hot", k, lo, min(lo + _HOT_CHUNK, n + 1), n)
                  for lo in range(1, n + 1, _HOT_CHUNK)]
        items += [("hotway", k, j, params["hot_way_window"]) for j in range(n_ways)]
    # each hot way comes with three companion nodes
    return items, synth.scale_counts(sf)[0] + n_hot * (1 + 4 * n_ways)


def generate(spark, params: dict, seed: int):
    """The workload's pages as a DataFrame, generated in ``mapInPandas``
    workers; each worker applies ``seed`` itself (``part_rows``)."""
    from osm_wayback_spark.schemas import PAGES

    items, _ = work_items(params)
    # a fixed interleave: hot versions spread over every file, as a
    # crawl would spread them
    random.Random(0).shuffle(items)
    blob = spark.createDataFrame(
        spark.sparkContext.parallelize([(json.dumps(it),) for it in items], 8),
        "item string",
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [r for it in pdf["item"] for r in part_rows(seed, tuple(json.loads(it)))]
            yield pd.DataFrame(rows, columns=PAGE_COLS)

    return blob.mapInPandas(gen, schema=PAGES)


def cached_input(spark, cache_root: str, workload: str, params: dict, seed: int):
    """→ (parquet path, meta, gen_s) of (workload, seed). Generates on
    a miss; a cached input whose parameters differ is regenerated."""
    from pyspark.sql import functions as F

    path = os.path.join(cache_root, f"{workload}-seed{seed}")
    data, meta_path = os.path.join(path, "pages"), os.path.join(path, "meta.json")
    gen_params = {k: params[k] for k in GEN_KEYS if k in params}
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            meta = json.load(fh)
        if meta["params"] == gen_params and meta["seed"] == seed:
            return data, meta, 0.0
    shutil.rmtree(path, ignore_errors=True)
    t0 = time.perf_counter()
    generate(spark, params, seed).write.parquet(data + ".tmp")
    os.rename(data + ".tmp", data)
    gen_s = time.perf_counter() - t0
    row = spark.read.parquet(data).agg(
        F.count(F.lit(1)).alias("pages"),
        F.sum(F.length("html")).alias("html_bytes"),
        F.countDistinct("url").alias("urls"),
    ).first()
    meta = {"seed": seed, "params": gen_params, **row.asDict()}
    with open(meta_path, "w") as fh:
        json.dump(meta, fh)
    return data, meta, gen_s
