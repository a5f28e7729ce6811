"""10x smoke for the ANN density dial (round-8 verdict item 4).

SF1.md measured the cell-partitioned ANN tier super-linear at 10x
data (semdedup 3.5x, cosine_topk_ivf_pq 4.4x) because n_cells was
pinned while the corpus grew: cell size, and the quadratic contained
per cell, grow with N. The dial is now code
(operators/similarity.py scaled_n_cells; semdedup n_cells=None;
ivf_index_build k=None); this smoke EXECUTES the comparison the fix
claims: each operator at sf0.1 (2,000 vectors) and on the
deterministic 10x corpus (tools/scale_smoke.py generate_embeddings,
20,000 vectors), once with the historically pinned cell count and
once with the scaled default. Expected: the pinned arm reproduces
the SF1.md super-linear ratios; the scaled arm stays ~linear
(cells grow ~N/target, per-cell work constant).

Usage: python tools/dial_smoke.py [--dir /tmp/spark_graft_sf1]
Paste the printed table into SCALE.md's round-9 section.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_on_weather_dataset_spark.operators.caching import release_all  # noqa: E402
from etl_on_weather_dataset_spark.session import get_spark  # noqa: E402

SMALL = "/root/testdata/sf0.1/embeddings.parquet"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dir", default="/tmp/spark_graft_sf1")
    args = ap.parse_args()

    from scale_smoke import generate_embeddings

    from etl_on_weather_dataset_spark.operators.similarity import (
        ivf_pq_topk,
        ivf_topk,
        scaled_n_cells,
        semdedup,
    )

    spark = get_spark(app_name="dial-smoke", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(args.dir, exist_ok=True)
    big = generate_embeddings(spark, args.dir)

    def load(p):
        return spark.read.parquet(p)

    # (label, fn(df, n_cells) -> rowcount, pinned cell count)
    arms = [
        # SemDeDup at the attested paper regime; pinned 32 is the
        # SF1.md 3.5x configuration
        ("semdedup@0.9",
         lambda df, c: semdedup(df, 0.9, n_cells=c).count(), 32),
        # every-row-as-query IVF top-k -- the quadratic-pressure
        # shape cosine_topk_ivf/ivf_pq attest; pinned 16 is the
        # registered constant
        ("ivf_topk_all",
         lambda df, c: ivf_topk(df, k=5, n_cells=c, n_probe=2).count(),
         16),
        # the IVF-PQ serving shape: scaled cells, fixed probes,
        # rerank 32 -- pinned 16 is the cosine_topk_ivf_pq constant
        ("ivf_pq_all",
         lambda df, c: ivf_pq_topk(
             df, k=5, n_cells=c, n_probe=2, rerank=32).count(),
         16),
    ]
    print(f"{'operator':<16} {'config':<12} {'sf0.1':>8} {'10x':>8} "
          f"{'ratio':>6} {'cells s/b':>10}", flush=True)
    for label, fn, pinned in arms:
        n_small = load(SMALL).count()
        n_big = load(big).count()
        for config in ("pinned", "scaled"):
            cs = pinned if config == "pinned" else scaled_n_cells(n_small)
            cb = pinned if config == "pinned" else scaled_n_cells(n_big)
            fn(load(SMALL), cs)  # warm plan+JIT
            release_all()
            t0 = time.time()
            fn(load(SMALL), cs)
            release_all()
            t_small = time.time() - t0
            t0 = time.time()
            fn(load(big), cb)
            release_all()
            t_big = time.time() - t0
            print(
                f"{label:<16} {config:<12} {t_small:>7.1f}s "
                f"{t_big:>7.1f}s {t_big / t_small:>5.1f}x "
                f"{cs:>4}/{cb:<5}",
                flush=True,
            )


if __name__ == "__main__":
    main()
