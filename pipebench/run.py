#!/usr/bin/env python3
"""Benchmark of the paper's pipeline: pages → extract + dedup → history
→ node locations → reconstruct (Arrow kernel) → z15 tiles.

Run from the repository root:

    python3 pipebench/run.py --workload lazy_sf0.01 --seed 1 --seconds 5 --trace 0
    python3 pipebench/run.py --workload all --seed 1 --seconds 5

One run is one closed loop: this driver process runs one pass at a time
on local[4] until ``--seconds`` of passes and at least three have
been measured. Every pass is checked (tile and reconstruct digests), and one
slice of the input is checked against the driver-side oracle. The last
stdout line is one JSON object ``{correct, attempted, failed,
metrics}``: with ``--trace 0`` the end-to-end metrics of
BENCHMARK.json, with ``--trace 1`` its per-layer metrics (traced
prefix runs, span and Spark counters; the 1→4 scaling run on the
workloads that carry it). ``--workload all`` runs every workload with
``--trace 1`` and prints every metric of each, end-to-end ones included.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pipebench import common  # noqa: E402
from pipebench.common import log, median  # noqa: E402
from pipebench.trace import PREFIXES  # noqa: E402

# workload definitions; the self-tests point this at a tiny spec of their own
SPEC = os.environ.get("PIPEBENCH_SPEC", os.path.join(common.HERE, "spec.json"))
DIGESTS = os.path.join(common.HERE, "digests.json")
CORES = 4
SETUP_REPS = 3
MIN_PASSES = 3  # timed passes of an untraced run, however long they take
RUN_LIMIT_S = 172  # a run must end within 180 s; the scaling pair yields to it


def load_json(path: str, default=None):
    if not os.path.exists(path):
        return default
    with open(path) as fh:
        return json.load(fh)


class Bench:
    def __init__(self, name: str, params: dict, seed: int, seconds: float, traced: bool):
        from pipebench.trace import RssSampler, Tracer

        self.name, self.params, self.seed = name, params, seed
        self.seconds, self.traced = seconds, traced
        self.tracer, self.rss = Tracer(), RssSampler()
        self.t_start = time.perf_counter()
        self.run_dir = os.path.join(common.WORK, f"run-{os.getpid()}")
        self.cache_dir = os.path.join(common.CACHE, f"{name}-seed{seed}")
        self.extra_checks: list[bool] = []  # staged section, scaling pair
        self.info: dict = {}  # human-readable extras (not gated)
        self.layer: dict = {}  # per-layer metrics of a traced run

    # -- set-up ---------------------------------------------------------------
    def set_up(self):
        """Three set-ups (one in a traced run, which reports no
        ``setup_s``); the first starts the JVM and runs the cold
        warm-up, the others open a new SparkSession on the running
        context. Each: session start + input read + a lazy pass over a
        warm-up slice. Input generation is timed apart (``gen_s``)."""
        from pipebench.inputs import cached_input

        t0 = time.perf_counter()
        spark = common.start_session(CORES)
        session_s = time.perf_counter() - t0
        path, self.meta, gen_s = cached_input(
            spark, common.CACHE, self.name, self.params, self.seed
        )
        self.info["gen_s"] = gen_s
        self.info["session_s"] = session_s
        setups = []
        for rep in range(1 if self.traced else SETUP_REPS):
            t0 = time.perf_counter()
            if rep:
                spark = spark.newSession()
            pages = spark.read.parquet(path)
            pages.write.format("noop").mode("overwrite").save()
            common.lazy_pass(common.warm_slice(pages))
            spark.catalog.clearCache()
            setups.append(time.perf_counter() - t0 + (session_s if rep == 0 else 0.0))
        self.info["setup_reps_s"] = setups
        return spark, pages, median(setups)

    # -- correctness ----------------------------------------------------------
    def reference(self) -> dict | None:
        """Digest every pass must reproduce: the committed one for
        (workload, seed), else the one recorded in the input cache by
        the first pass that saw this input."""
        committed = load_json(DIGESTS, {}).get(f"{self.name}/{self.seed}")
        recorded = load_json(os.path.join(self.cache_dir, "digest.json"))
        if committed and recorded and committed != recorded:
            log("recorded digest differs from the committed one", recorded, committed)
        return committed or recorded

    def record(self, digest: dict) -> None:
        with open(os.path.join(self.cache_dir, "digest.json"), "w") as fh:
            json.dump(digest, fh)

    def oracle(self, spark, pages) -> bool:
        from pipebench import checks, inputs

        extra = []  # the first hot node and a way on it, when there are any
        if self.params.get("hot_urls"):
            extra.append(f"https://osm.example.test/node/{inputs.HOT_ID_BASE}")
        if self.params.get("hot_ways"):
            extra.append(f"https://osm.example.test/way/{inputs.hot_way_id(0, 0)}")
        modulus = max(1, self.meta["urls"] // 150)
        n, bad = checks.oracle_slice(spark, pages, modulus, tuple(extra))
        spark.catalog.clearCache()
        self.info["oracle_features"] = n
        if bad:
            log(f"oracle mismatch on {len(bad)} of {n} features; first: {bad[:3]}")
        return not bad and n > 0

    # -- measured passes --------------------------------------------------------
    def passes(self, spark, pages, ref: dict | None, oracle_ok: bool) -> list[dict]:
        """Timed passes until ``--seconds`` of them and at least
        ``MIN_PASSES`` are measured; their median is ``e2e_s``, so the
        first pass, still warming the JVM up, rarely sets it. A traced
        run times one pass and spends the rest of its time on the
        decomposition. Every pass is checked."""
        from pipebench.trace import job_counts, next_execution_id, persisted_rdds, python_bytes

        sc = spark.sparkContext
        done, elapsed, i = [], 0.0, 0
        self.rss.active = True
        try:
            while i < (1 if self.traced else MIN_PASSES) or (
                not self.traced and elapsed < self.seconds
            ):
                spark.catalog.clearCache()
                self.tracer.pass_id = i
                group = f"pipebench-pass-{i}"
                sc.setJobGroup(group, f"{self.name} pass {i}")
                first_exec = next_execution_id(spark)
                rec = {"ok": False}
                t0 = time.perf_counter()
                try:
                    rec["digest"] = common.lazy_pass(pages)
                    rec["wall"] = time.perf_counter() - t0
                    rec["persisted_after"] = persisted_rdds(sc)
                    if ref is None:
                        ref = rec["digest"]
                        self.record(ref)
                    rec["ok"] = oracle_ok and rec["digest"] == ref
                    if not rec["ok"]:
                        log(f"pass {i}: output check failed", rec["digest"], ref)
                except Exception:  # noqa: BLE001 — a failed pass is counted, the loop goes on
                    traceback.print_exc(file=sys.stderr)
                elapsed += time.perf_counter() - t0
                rec["jobs"] = job_counts(sc, group)
                if self.traced and i == 0:
                    rec["py_bytes"] = python_bytes(spark, first_exec)
                done.append(rec)
                i += 1
        finally:
            self.rss.active = False
            sc.setLocalProperty("spark.jobGroup.id", None)
        return done

    # -- traced decomposition ---------------------------------------------------
    def prefixes(self, spark, pages) -> dict:
        """Cumulative prefixes of the lazy DAG, each a noop write with
        the cache cleared before it; a layer's self time is its prefix
        wall minus the previous prefix's. They follow two full passes
        (the one giving ``tiles.max_per_feature``, then the untraced one):
        the JVM is still warming up, which biases the differences
        towards the later layers, less so the warmer it is. Counters
        come from Observations attached to each layer's output (read
        after the full prefix)."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from osm_wayback_spark import pipeline
        from osm_wayback_spark.operators.tiles import assign_tiles
        from pipebench import trace

        out, walls, obs = {}, {}, {}
        for prefix in trace.PREFIXES:
            spark.catalog.clearCache()
            with trace.capture_layers() as got:
                po, tio, too = Observation("pages_in"), Observation("tiles_in"), Observation("tiles_out")
                obs_pages = pages.observe(
                    po, F.count(F.lit(1)).alias("rows"), F.sum(F.length("html")).alias("bytes")
                )
                recon = pipeline.reconstruction_pipeline(obs_pages)
                tiles_in = recon.filter(F.col("geometry").isNotNull()).observe(
                    tio, F.count(F.lit(1)).alias("rows")
                )
                tiles = assign_tiles(tiles_in).observe(too, F.count(F.lit(1)).alias("rows"))
                handle = trace.prefix_handle(got, prefix, tiles)
            with self.tracer.span(f"prefix.{prefix}") as span:
                handle.write.format("noop").mode("overwrite").save()
            walls[prefix] = span["end"] - span["start"]
            if prefix == "tiles":
                obs = {k: v[1].get for k, v in got.items()}
                obs.update(pages=po.get, tiles_in=tio.get, tiles_out=too.get)
        spark.catalog.clearCache()
        prev = 0.0
        for prefix in trace.PREFIXES:
            out[f"{prefix}.self_s"] = walls[prefix] - prev
            prev = walls[prefix]
        out.update({
            "extract.rows_in": obs["pages"]["rows"],
            "extract.bytes_in": obs["pages"]["bytes"],
            "extract.rows_out": obs["extract"]["rows"],
            "dedup.kept_ratio": obs["dedup"]["rows"] / max(1, obs["extract"]["rows"]),
            "history.rows_out": obs["history"]["rows"],
            "history.records": obs["history"]["records"],
            "history.lookup_fail": obs["history"]["lookup_fail"],
            "history.max_records_per_key": obs["history"]["max_records"],
            "locations.refs": obs["locations"]["refs"],
            "locations.unresolved_refs": obs["locations"]["refs"] - obs["locations"]["resolved"],
            "reconstruct.rows_in": obs["locations"]["rows"],
            "reconstruct.rows_out": obs["reconstruct"]["rows"],
            "reconstruct.fanout": obs["reconstruct"]["rows"] / max(1, obs["locations"]["rows"]),
            "reconstruct.null_geom": obs["reconstruct"]["null_geom"],
            "tiles.rows_in": obs["tiles_in"]["rows"],
            "tiles.rows_out": obs["tiles_out"]["rows"],
            "tiles.per_feature": obs["tiles_out"]["rows"] / max(1, obs["tiles_in"]["rows"]),
        })
        return out

    # -- the staged path (traced runs) -------------------------------------------
    def staged_section(self, spark, pages) -> dict:
        """``staged_pipeline`` into a fresh plain-path checkpoint root
        + ``write_tiles``, then a resume over the committed root, on a
        1/``staged_slice`` slice of the input. Both tile and reconstruct
        digests must equal the lazy path's over the same slice.
        Lineage stage writes and checksum passes get their own spans."""
        from pyspark.sql import functions as F

        from pipebench.trace import trace_lineage

        k = self.params["staged_slice"]
        sliced = pages.filter(F.pmod(F.xxhash64("url"), F.lit(k)) == 0)
        html_bytes = sliced.agg(F.sum(F.length("html"))).first()[0]
        lazy = common.lazy_pass(sliced)
        spark.catalog.clearCache()
        root = os.path.join(self.run_dir, "ckpt")
        tiles = os.path.join(self.run_dir, "tiles")
        t = self.tracer
        t.pass_id = "staged"
        with trace_lineage(t):
            with t.span("staged.cold"):
                cold = common.staged_pass(spark, sliced, root, tiles)
            bytes_written = common.du(root)
            spark.catalog.clearCache()
            with t.span("staged.resume"):
                resumed = common.staged_pass(spark, sliced, root, tiles + "-resume")
        self.extra_checks.append(cold == lazy and resumed == lazy)
        if not self.extra_checks[-1]:
            log("staged and lazy digests differ", cold, resumed, lazy)
        stages = ("versions", "history_geom", "versions_out")
        out = {f"lineage.{s}.write_s": t.self_time(f"lineage.{s}") for s in stages}
        out.update({
            "lineage.checksum_s": t.total("lineage.checksum"),
            "lineage.bytes_written": bytes_written,
            "lineage.write_amp": bytes_written / html_bytes,
            "staged.e2e_s": t.total("staged.cold"),
            "staged.resume_s": t.total("staged.resume"),
            # the cold pass minus its three stage writes: assign_tiles +
            # the partitioned tile write
            "tiles.write_s": t.self_time("staged.cold"),
        })
        return out

    # -- the run --------------------------------------------------------------
    def run(self) -> dict:
        os.makedirs(self.run_dir, exist_ok=True)
        try:
            spark, pages, setup_s = self.set_up()
            t0 = time.perf_counter()
            ref = self.reference()
            oracle_ok = self.oracle(spark, pages)
            self.info["check_s"] = time.perf_counter() - t0
            if self.traced:  # its warm-up: a full pass with a per-feature count
                self.layer["tiles.max_per_feature"] = max_per_feature(common.lazy_tiles(pages)[0])
            done = self.passes(spark, pages, ref, oracle_ok)
            if self.traced:
                self.layer.update(self.prefixes(spark, pages))
                if self.params.get("staged_slice"):
                    self.layer.update(self.staged_section(spark, pages))
            common.shutdown(spark)
            if self.traced and self.params.get("scaling"):
                budget = RUN_LIMIT_S - (time.perf_counter() - self.t_start)
                self.info["scaling_budget_s"] = budget
                metrics, same = scaling(os.path.join(self.cache_dir, "pages"), budget)
                self.layer.update(metrics)
                self.extra_checks.append(same)
        finally:
            self.rss.close()
            os.makedirs(os.path.join(common.WORK, "traces"), exist_ok=True)
            self.tracer.dump(os.path.join(
                common.WORK, "traces", f"{self.name}-seed{self.seed}-{os.getpid()}.json"
            ))
            shutil.rmtree(self.run_dir, ignore_errors=True)
        return self.summarise(done, setup_s)

    def summarise(self, done: list[dict], setup_s: float) -> dict:
        ok = [r for r in done if r["ok"]]
        e2e = median([r["wall"] for r in ok])
        tile_rows = ok[0]["digest"]["tiles"][0] if ok else 0
        e2e_metrics = {
            "e2e_s": e2e,
            "pages_per_s": self.meta["pages"] / e2e if e2e else None,
            "tiles_per_s": tile_rows / e2e if e2e else None,
            "setup_s": setup_s,
            "peak_rss_mb": self.rss.peak / 2**20,
        }
        self.info.update(
            fail_frac=(len(done) - len(ok)) / len(done),
            pass_walls_s=[r.get("wall") for r in done],
            pages=self.meta["pages"],
            tile_rows=tile_rows,
        )
        first = done[0]
        layer = dict(self.layer)
        if self.traced:
            layer.update({f"spark.{k}": v for k, v in first["jobs"].items()})
            layer["pipeline.persisted_after"] = first.get("persisted_after", 0)
            sent, recv = first.get("py_bytes", (0.0, 0.0))
            layer["reconstruct.py_bytes_in"], layer["reconstruct.py_bytes_out"] = sent, recv
            layer["trace.e2e_s"] = e2e
            layer["trace.self_sum_s"] = sum(
                layer.get(f"{p}.self_s", 0.0) for p in PREFIXES
            )
            layer["trace.gap_s"] = layer["trace.self_sum_s"] - (e2e or 0.0)
        return {"ok": len(ok) + sum(self.extra_checks),
                "done": len(done) + len(self.extra_checks),
                "e2e": e2e_metrics, "layer": layer}


def max_per_feature(tiles) -> int:
    """Most tile rows of one reconstructed geometry (tile rows carry
    element_type, id and the geometry string, not the version)."""
    from pyspark.sql import functions as F

    return tiles.groupBy("element_type", "id", "feature_json").count().agg(
        F.max("count")
    ).first()[0] or 0


def scaling(input_path: str, budget_s: float) -> tuple[dict, bool]:
    """1→4 scaling on an eighth of the input's urls: the local[1] and
    local[4] sides each run in a fresh process bound by taskset to 1
    and 4 cores, one after the other. Labelled 1→4; not comparable
    with bench.py's 2→8 pairs. → (metrics, digests agree). When the
    run's time budget runs out the pair is abandoned and no scaling
    metric is reported."""
    cpus = sorted(os.sched_getaffinity(0))
    if len(cpus) < 4:
        log(f"scaling skipped: {len(cpus)} usable cores")
        return {}, True
    deadline = time.perf_counter() + budget_s
    side = {}
    for n in (1, 4):
        cmd = ["taskset", "-c", ",".join(map(str, cpus[:n])), sys.executable,
               os.path.join(common.HERE, "scaling.py"), "--cores", str(n),
               "--input", input_path]
        try:
            out = common.run_child(cmd, max(1.0, deadline - time.perf_counter()))
        except subprocess.TimeoutExpired:
            log(f"scaling abandoned: local[{n}] side exceeded the run's time budget")
            return {}, True
        side[n] = json.loads(out.strip().splitlines()[-1])
        log(f"scaling local[{n}]:", side[n])
    same = side[1]["digest"] == side[4]["digest"]
    if not same:
        log("scaling: local[1] and local[4] digests differ", side[1]["digest"], side[4]["digest"])
    pps = {n: side[n]["pages"] / side[n]["wall"] for n in side}
    return {
        "scaling.pages_per_s_1": pps[1],
        "scaling.pages_per_s_4": pps[4],
        "scaling.eff_1to4": pps[4] / pps[1] / 4,
    }, same


def emit(result: dict, traced: bool, benchmark: dict, info: dict) -> None:
    section = benchmark["per_layer"] if traced else benchmark["end_to_end"]
    values = result["layer"] if traced else result["e2e"]
    metrics = {}
    for m in section:
        v = values.get(m["name"], 0 if traced else None)
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    for m in benchmark["end_to_end"] + benchmark["per_layer"]:
        v = result["e2e"].get(m["name"], result["layer"].get(m["name"]))
        if v is not None:
            print(f"{m['name']:32s} {v!r:>24} {m['unit']}")
    for k, v in info.items():
        print(f"{k:32s} {v!r:>24}")
    print(json.dumps({
        "correct": result["ok"] == result["done"],
        "attempted": result["done"],
        "failed": result["done"] - result["ok"],
        "metrics": metrics,
    }))


def run_all(args, spec) -> int:
    """Every workload with --trace 1: prints every end-to-end and
    per-layer metric per workload."""
    summary = {}
    for name in spec["workloads"]:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "1"]
        print(f"== {name}", flush=True)
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=True)
        lines = proc.stdout.strip().splitlines()
        print("\n".join(lines[:-1]), flush=True)
        summary[name] = json.loads(lines[-1])
    print(json.dumps(summary))
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    common.prepare_env()
    spec = load_json(SPEC)
    if args.workload == "all":
        return run_all(args, spec)
    params = spec["workloads"][args.workload]
    benchmark = load_json(os.path.join(common.ROOT, "BENCHMARK.json"))
    bench = Bench(args.workload, params, args.seed, args.seconds, bool(args.trace))
    t0 = time.perf_counter()
    result = bench.run()
    bench.info["run_wall_s"] = time.perf_counter() - t0
    emit(result, bool(args.trace), benchmark, bench.info)
    return 0


if __name__ == "__main__":
    sys.exit(main())
