"""The queries workload: the five headline gate queries the crawl never
reaches, over the repo's sf0.01 test tables, in a fixed order, in passes.

They are the half of ``bench.py``'s HEADLINE set that reads ``lineitem``,
``documents`` and ``embeddings``: an aggregation, exact-text dedup and the
n-gram, cosine and MinHash sketch kernels. The other half (frontier
admission, frontier anti-join, URL canonicalization, best-quality rewrite,
first-per-key dedup) runs the operators the crawl workload already times,
and a cold pass over all ten outlasts a run's share of the benchmark's time
budget on a 4-core host.

``data/sf0.01`` holds byte-identical copies of the three sf0.01 tables the
queries read, so the benchmark reads its inputs from its own directory; the
seed does not change them. One operation is one pass over the queries, each
collected to the
driver as a pandas frame, as the oracle gate reads them. After the timed
section the output check compares each collected frame's order-insensitive
value hash with its DuckDB oracle (``queries.ORACLE``) on the same files,
using ``tools/check_oracle``'s ``normalize``.
"""

from __future__ import annotations

import os
import sys
import time
from contextlib import nullcontext

from auto_archiver_spark import queries as Q

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
# pinned here so the workload cannot drift with bench.py's HEADLINE
HEADLINE = ("pricing_summary", "dedup_exact_text", "ngram_jaccard", "cosine_topk", "minhash_lsh")


def run_pass(spark, data_dir: str, tracer=None) -> tuple[dict[str, float], dict]:
    """One pass: every headline query in order, collected. Returns the
    seconds per query and, per query, its frame or the exception it raised."""
    times, frames = {}, {}
    for name in HEADLINE:
        t0 = time.monotonic()
        with tracer.span(f"query:{name}") if tracer else nullcontext():
            try:
                frames[name] = Q.QUERIES[name](spark, data_dir).toPandas()
            except Exception as ex:  # noqa: BLE001 - a raising query is a failed one
                frames[name] = ex
        times[name] = time.monotonic() - t0
    return times, frames


def check(frames: dict, data_dir: str, repo_root: str) -> dict[str, str]:
    """Headline queries whose collected frame differs from the DuckDB
    oracle's in value hash, row count or columns, or that raised, each with
    the reason."""
    import duckdb

    sys.path.insert(0, os.path.join(repo_root, "tools"))
    from check_oracle import normalize

    con = duckdb.connect()
    for t in ("lineitem", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    bad = {}
    for name in HEADLINE:
        sdf = frames[name]
        if isinstance(sdf, Exception):
            bad[name] = f"raised {type(sdf).__name__}: {str(sdf)[:200]}"
            continue
        odf = con.execute(Q.ORACLE[name]).df()
        got, want = normalize(sdf), normalize(odf)
        if got != want or sorted(sdf.columns) != sorted(odf.columns):
            bad[name] = f"spark {got} {sorted(sdf.columns)} duckdb {want} {sorted(odf.columns)}"
    con.close()
    return bad
