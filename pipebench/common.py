"""Process set-up shared by the benchmark's entry points: environment
confined to the checkout, Spark session start and full shutdown, and
the pass bodies of the lazy and staged paths."""

from __future__ import annotations

import os
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CACHE = os.path.join(HERE, ".cache")
DRIVER_MEM = "3g"


def log(*parts) -> None:
    print("[pipebench]", *parts, file=sys.stderr, flush=True)


def prepare_env() -> None:
    """Keep every file Spark, the JVM and the Python workers write
    inside ``pipebench/.work``; make the checkout importable by the
    workers; pin the knobs the program reads from the environment."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(CACHE, exist_ok=True)
    env = os.environ
    env["TMPDIR"] = tmp
    env["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH")) if p
    )
    env["PYSPARK_PYTHON"] = env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    env["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # no hsperfdata files: HotSpot writes them under /tmp, whatever
    # java.io.tmpdir says (launcher JVM and driver JVM)
    env["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    env["SPARK_GRAFT_DRIVER_JAVA_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    for k in ("SPARK_GRAFT_SHUFFLE_PARTITIONS", "SPARK_GRAFT_CPUS"):
        env.pop(k, None)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_session(cores: int):
    from osm_wayback_spark.session import get_spark

    spark = get_spark(
        app_name="pipebench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark) -> None:
    """Stop Spark, end the JVM and wait until every process this run
    started (JVM, Python workers) has exited."""
    from pyspark import SparkContext

    from .trace import descendants

    pids = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.monotonic() + 20
    while pids and time.monotonic() < deadline:
        pids = [p for p in pids if _alive(p)]
        time.sleep(0.1)
    _kill_and_wait(pids)


def run_child(cmd: list[str], timeout: float) -> str:
    """Run ``cmd`` → its stdout. On timeout kill it and every process
    it started (its JVM, Python workers), wait for them, and re-raise
    ``subprocess.TimeoutExpired``; a non-zero exit raises
    ``subprocess.CalledProcessError``."""
    from .trace import descendants

    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        _kill_and_wait([*descendants(proc.pid), proc.pid])
        proc.communicate()
        raise
    if proc.returncode:
        raise subprocess.CalledProcessError(proc.returncode, cmd)
    return out


def _kill_and_wait(pids: list[int]) -> None:
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 20
    while pids and time.monotonic() < deadline:
        pids = [p for p in pids if _alive(p)]
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().split(")")[-1].split()[0] != "Z"
    except OSError:
        return False


def du(path: str) -> int:
    """Bytes of the regular files under ``path``."""
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


def median(xs):
    return statistics.median(xs) if xs else None


def warm_slice(pages):
    """~6% of the urls (whole entities), for warm-up passes."""
    from pyspark.sql import functions as F

    return pages.filter(F.pmod(F.xxhash64("url"), F.lit(16)) == 0)


def lazy_tiles(pages):
    """The benched product path: lazy reconstruction + z15 tiles, both
    outputs carrying a digest observation. → (tiles, recon obs, tile obs)."""
    from pyspark.sql import functions as F

    from osm_wayback_spark import pipeline
    from osm_wayback_spark.operators.tiles import assign_tiles

    from .checks import observe_digest

    recon, ro = observe_digest(pipeline.reconstruction_pipeline(pages), "recon", "recon_digest")
    tiles, to = observe_digest(
        assign_tiles(recon.filter(F.col("geometry").isNotNull())), "tiles", "tiles_digest"
    )
    return tiles, ro, to


def lazy_pass(pages) -> dict:
    """One lazy pass ending in a noop write of the full tile rows
    (``count()`` would let the optimizer prune the tile payload)."""
    from .checks import digest_of

    tiles, ro, to = lazy_tiles(pages)
    tiles.write.format("noop").mode("overwrite").save()
    return {"tiles": digest_of(to), "recon": digest_of(ro)}


def staged_pass(spark, pages, root: str, tiles_path: str) -> dict:
    """``staged_pipeline`` into ``root`` (cold, or resumed when every
    stage is committed), then ``write_tiles`` — the spark-submit path."""
    from pyspark.sql import functions as F

    from osm_wayback_spark import pipeline
    from osm_wayback_spark.operators.tiles import assign_tiles, write_tiles

    from .checks import digest_of, observe_digest

    recon, ro = observe_digest(
        pipeline.staged_pipeline(spark, pages, root), "recon", "recon_digest"
    )
    tiles, to = observe_digest(
        assign_tiles(recon.filter(F.col("geometry").isNotNull())), "tiles", "tiles_digest"
    )
    write_tiles(tiles, tiles_path)
    return {"tiles": digest_of(to), "recon": digest_of(ro)}
