#!/usr/bin/env python
"""N× split-replication scale-point harness (SURVEY §6 "Scale-out evidence").

Builds replicated copies of a scale-factor directory — each FACT table's
single parquet file becomes a directory of N identical copies, dimension
tables stay 1× so join keys don't artificially duplicate on both sides —
then times the named queries best-of-R at each replication factor.  This
is the harness behind the 5×/25× tables in BASELINE.md: wall-clock ratio
vs row ratio is the "would this survive a 100× scale-up" measurement the
charter asks for (pair-producing dedup queries are expected to grow
OUTPUT super-linearly — candidates must track true pairs, never n²).

Usage:
    python scale_point.py [--sf-dir D] [--reps R] [--factors 1,5,25] q1 q2 ...

Prints one JSON line per (query, factor) with wall seconds, output rows,
and (for the cluster-based queries) the connected-components round count.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from mapreduceplusplus_spark import registry  # noqa: E402
from mapreduceplusplus_spark.session import get_spark  # noqa: E402
from mapreduceplusplus_spark.sources.tables import TABLES  # noqa: E402

#: tables replicated N× (facts); the rest are linked 1× (dims)
FACTS = {"lineitem", "orders", "events", "documents", "embeddings"}


def build_fixture(sf_dir: str, factor: int, root: str) -> str:
    """Materialize the N× fixture under ``root``: facts become
    directories of ``factor`` hard-linked copies of the original file
    (hard links: no data copy, the parquet reader just sees N splits),
    dims are linked once."""
    out = os.path.join(root, f"x{factor}")
    marker = os.path.join(out, ".complete")
    # reuse only a COMPLETE fixture built from the SAME source dir AND
    # the same source file versions — the marker fingerprints every
    # source parquet's (mtime_ns, size) so regenerating sf_dir can't
    # leave hard links pointing at stale inodes (review r9 + ADVICE
    # r9); a crash mid-build or a prior --keep run against a different
    # sf-dir must not be silently timed against either
    stamp = json.dumps(
        {
            "src": sf_dir,
            "files": sorted(
                (t, os.stat(os.path.join(sf_dir, f"{t}.parquet")).st_mtime_ns,
                 os.stat(os.path.join(sf_dir, f"{t}.parquet")).st_size)
                for t in TABLES
            ),
        }
    )
    if os.path.isdir(out):
        if os.path.isfile(marker) and open(marker).read() == stamp:
            return out
        shutil.rmtree(out)
    os.makedirs(out)

    def _link(a: str, b: str) -> None:
        try:
            os.link(a, b)
        except OSError:  # cross-device root (e.g. tmpfs): fall back
            shutil.copyfile(a, b)

    for t in TABLES:
        src = os.path.join(sf_dir, f"{t}.parquet")
        n = factor if t in FACTS else 1
        if n == 1:
            _link(src, os.path.join(out, f"{t}.parquet"))
        else:
            d = os.path.join(out, f"{t}.parquet")
            os.makedirs(d)
            for i in range(n):
                _link(src, os.path.join(d, f"part-{i:05d}.parquet"))
    with open(marker, "w") as f:
        f.write(stamp)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--factors", default="1,5,25")
    ap.add_argument("--root", default="/tmp/scale_fixture")
    ap.add_argument("--keep", action="store_true", help="keep fixture dirs")
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    factors = [int(f) for f in args.factors.split(",")]
    spark = get_spark(app_name="scale-point")
    registry.load_all()
    qs = registry.queries()
    from mapreduceplusplus_spark.fixpoint import last_rounds

    try:
        for factor in factors:
            fdir = build_fixture(args.sf_dir, factor, args.root)
            for name in args.queries:
                walls = []
                rows = None
                for _ in range(args.reps):
                    spark.catalog.clearCache()
                    # reset so a PRIOR query's round count can never be
                    # misattributed to this record
                    last_rounds.clear()
                    t0 = time.perf_counter()
                    rows = qs[name](spark, fdir).count()
                    walls.append(time.perf_counter() - t0)
                rec = {
                    "query": name,
                    "factor": factor,
                    "wall_sec": round(min(walls), 2),
                    "rows": rows,
                }
                if "cc_two_phase" in last_rounds:
                    rec["cc_rounds"] = last_rounds["cc_two_phase"]
                print(json.dumps(rec), flush=True)
    finally:
        if not args.keep:
            shutil.rmtree(args.root, ignore_errors=True)


if __name__ == "__main__":
    main()
