"""Dump .explain('formatted') for registry queries to plans/r13/<name>_<tag>.txt.

Usage: python tools/dump_plans.py <tag> [name ...]
Defaults to the bench HEADLINE set when no names are given.

plans/ is git-ignored; the committed r12/r13 dumps live in git history at
281f973.

doc_curation returns CurationResult.audit, which is eager: building it
runs about 7 driver count() actions over the whole pipeline, so dumping
its plan executes the curation first and prints the plan of a 1-row
local relation.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from financial_big_data_spark.cache import release_tracked  # noqa: E402
from financial_big_data_spark.queries import REGISTRY  # noqa: E402
from financial_big_data_spark.session import build_session  # noqa: E402


def main() -> None:
    tag = sys.argv[1]
    names = sys.argv[2:]
    if not names:
        import bench

        names = list(bench.HEADLINE)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = build_session("dump_plans", cpus=cpus, shuffle_partitions=cpus)
    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r13")
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        fn, _ = REGISTRY[name]
        release_tracked()
        spark.catalog.clearCache()
        df = fn(spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(buf.getvalue())
        print(f"wrote {path} ({buf.getvalue().count('Exchange')} Exchange mentions)")
    release_tracked()
    spark.stop()


if __name__ == "__main__":
    main()
