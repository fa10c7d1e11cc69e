"""Dump the ONE-ITERATION physical plan of the PageRank/PPR loop.

The registry query's final plan is just `Scan ExistingRDD` (the
checkpointed state), so plan evidence for the loop itself must be taken
from the frame the loop hands to `_ckpt`. This intercepts the first
`_ckpt` call and explains its input — exactly one iteration's subtree
over the cached edge frame and the initial rank state.

Usage: python tools/dump_pagerank_iter.py <tag>   (writes plans/r13/)

plans/ is git-ignored; the committed r12/r13 dumps live in git history at
281f973.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from financial_big_data_spark.cache import release_tracked  # noqa: E402
from financial_big_data_spark.ml import graph as G  # noqa: E402
from financial_big_data_spark.ml.graph import cooccurrence_pairs  # noqa: E402
from financial_big_data_spark.queries import _events  # noqa: E402
from financial_big_data_spark.session import build_session  # noqa: E402


def main() -> None:
    tag = sys.argv[1]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = build_session("dump_pagerank_iter", cpus=cpus, shuffle_partitions=cpus)
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r13"
    )
    os.makedirs(out_dir, exist_ok=True)

    from financial_big_data_spark.cache import tracked_persist

    ev = _events(spark, sf_dir)
    pairs = tracked_persist(cooccurrence_pairs(
        ev.select(
            "user_id", "event_type", F.date_trunc("hour", F.col("ts")).alias("hr")
        ),
        node="user_id",
        keys=["event_type", "hr"],
        min_shared=3,
    ))
    # mirror queries.py's one-scan explode symmetrize
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("src"), F.col("dst")),
                F.struct(F.col("dst").alias("src"), F.col("src").alias("dst")),
            )
        ).alias("_e")
    ).select("_e.src", "_e.dst")
    seeds = (
        edges.select(F.col("src").alias("node")).where(F.col("node") < 50).distinct()
    )

    real_ckpt = G._ckpt

    for name, kwargs in (
        ("ev_pagerank_iter", {}),
        ("ev_ppr_iter", {"reset": seeds}),
    ):
        captured: list = []

        def grab(df, *a, **kw):
            if not captured:
                captured.append(df)
            return real_ckpt(df, *a, **kw)

        G._ckpt = grab
        try:
            # checkpoint_interval=1 so the captured frame is EXACTLY one
            # iteration over the cached edges + initial state
            G.pagerank(edges, n_iter=1, damping=0.85,
                       checkpoint_interval=1, **kwargs)
        finally:
            G._ckpt = real_ckpt
        buf = io.StringIO()
        with redirect_stdout(buf):
            captured[0].explain("formatted")
        text = buf.getvalue()
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(text)
        print(f"wrote {path} ({text.count('Exchange')} Exchange mentions)")
        release_tracked()
        spark.catalog.clearCache()
    spark.stop()


if __name__ == "__main__":
    main()
