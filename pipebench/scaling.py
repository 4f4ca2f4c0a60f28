#!/usr/bin/env python3
"""One side of the 1→4 scaling run: a fresh process on local[N] (bound
to N cores by the caller's taskset) runs a warm-up pass over 1/64 of
the urls, then one timed lazy pass over an eighth of them. Prints one JSON
line: pages, wall, digests.

    taskset -c 0 python3 pipebench/scaling.py --cores 1 --input <pages parquet>
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pipebench import common  # noqa: E402


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--cores", type=int, required=True)
    p.add_argument("--input", required=True)
    args = p.parse_args(argv)
    common.prepare_env()
    spark = common.start_session(args.cores)
    try:
        from pyspark.sql import functions as F

        pages = spark.read.parquet(args.input)
        common.lazy_pass(pages.filter(F.pmod(F.xxhash64("url"), F.lit(64)) == 0))
        pages = pages.filter(F.pmod(F.xxhash64("url"), F.lit(8)) == 1)
        n_pages = pages.count()
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        digest = common.lazy_pass(pages)
        wall = time.perf_counter() - t0
    finally:
        common.shutdown(spark)
    print(json.dumps({"cores": args.cores, "pages": n_pages, "wall": wall, "digest": digest}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
