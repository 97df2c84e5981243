"""Per-stage breakdown of the minhash_lsh headline query (r5 verdict #5:
attribute the r3->r5 wall wobble to host vs plan).

Times each stage best-of-N to the noop sink at the bench sf:

  * signature  — Arrow sketch (hashed shingles + permutation minima) ->
                 band keys (operators/dedup.py minhash_bands)
  * band_join  — + groupBy(band,key) -> capped pair explode -> distinct
                 (minhash_lsh_candidates; the query's only wide exchange)
  * verify     — + semi-join-pruned shingle sets + exact Jaccard filter
                 (verify_pairs on a localCheckpointed pair set, like the query)

Stage costs overlap (each includes its predecessors), so deltas are the
per-stage attribution. Usage: python tools/minhash_stages.py [sf_dir] [reps]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from auto_archiver_spark import queries as Q  # noqa: E402
from auto_archiver_spark.functions.hashing import shingle_minhash_arrow  # noqa: E402
from auto_archiver_spark.operators.dedup import minhash_bands, minhash_lsh_candidates  # noqa: E402
from auto_archiver_spark.session import get_spark  # noqa: E402


def best_of(fn, reps):
    best = float("inf")
    for _ in range(reps):
        t0 = time.monotonic()
        fn()
        best = min(best, time.monotonic() - t0)
    return round(best, 3)


def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(app="aas-minhash-stages", cores=cores)
    spark.sparkContext.setLogLevel("ERROR")
    d = Q.load(spark, sf, "documents")

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    # warmup: python workers, codegen, scan caches — otherwise the first
    # stage timed eats the cold-start and the deltas go negative
    noop(Q.QUERIES["minhash_lsh"](spark, sf))
    # the sketch stage runs fanned like the query
    hashed = shingle_minhash_arrow(Q._fan(spark, d.select("doc_id", "text"), "doc_id"))
    sig = best_of(lambda: noop(minhash_bands(hashed)), reps)
    band = best_of(lambda: noop(minhash_lsh_candidates(hashed)), reps)
    full = best_of(lambda: noop(Q.QUERIES["minhash_lsh"](spark, sf)), reps)
    print(
        json.dumps(
            {
                "sf": sf,
                "reps": reps,
                "signature_sec": sig,
                "band_join_sec": band,
                "full_sec": full,
                "delta_band_join": round(band - sig, 3),
                "delta_verify": round(full - band, 3),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
