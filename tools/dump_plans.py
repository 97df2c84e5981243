"""Dump .explain('formatted') physical plans of the key operators to PLANS.md
so plan shape (pushdown, broadcast, codegen spans, exchange count) is
reviewable without running Spark."""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from auto_archiver_spark import queries as Q  # noqa: E402
from auto_archiver_spark.operators.frontier import (  # noqa: E402
    anti_join_seen,
    canonicalize,
    dedup_in_wave,
    politeness_admission,
    salted_fetch_repartition,
    seed_filter,
)
from auto_archiver_spark.plans.tableio import local_df  # noqa: E402
from auto_archiver_spark.plans.wave import URL_SEEN_SCHEMA, read_images  # noqa: E402
from auto_archiver_spark.session import get_spark  # noqa: E402
from auto_archiver_spark.sources.fixture import (  # noqa: E402
    frontier_seed_df,
    host_policy_df,
)
from tests.test_images import plant_two_wave_root  # noqa: E402

SF = "/root/testdata/sf0.001"


def plan_of(df, mode="formatted"):
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


def main():
    spark = get_spark(cores=8)
    spark.sparkContext.setLogLevel("ERROR")
    sections = []

    fr = canonicalize(seed_filter(frontier_seed_df(spark, 500)))
    sections.append(("frontier canonicalize (P1+north-rule, pure codegen)", plan_of(fr)))

    cand = dedup_in_wave(fr)
    # wave 0: url_seen is absent, read as an empty relation
    # (TableIO.read_or_empty), and the join against it is pruned
    seen = local_df(spark, URL_SEEN_SCHEMA)
    sections.append(("in-wave dedup + anti-join vs url_seen (J1/J6) at wave 0: "
                     "the join against the absent url_seen is pruned",
                     plan_of(anti_join_seen(cand, seen))))

    adm = politeness_admission(cand, host_policy_df(spark))
    sections.append(("politeness admission (O2 window + J5 broadcast)", plan_of(adm)))

    sections.append(("salted fetch repartition (host-skew kill)",
                     plan_of(salted_fetch_repartition(cand, 16))))

    with tempfile.TemporaryDirectory() as root:
        images = read_images(spark, plant_two_wave_root(spark, root))
        sections.append(("images as the fold of a two-wave fetch log (A1+A2: first "
                         "success row per sha256 by (wave, url_hash), picked over the "
                         "skinny keys; the payload rows are never exchanged)",
                         plan_of(images)))

    for name in ("pricing_summary", "url_canonicalize", "frontier_admission",
                 "cosine_topk", "minhash_lsh", "media_explode", "twitter_parse",
                 "ivf_topk", "simhash_portable", "timestamp_req",
                 "gdrive_folders", "robots_parse", "sequence_pack",
                 "aspect_buckets"):
        sections.append((f"catalog query: {name}", plan_of(Q.QUERIES[name](spark, SF))))

    out = ["# PLANS — physical plans of the key operators",
           "",
           "Generated by `python tools/dump_plans.py` (Spark "
           f"{spark.version}, AQE on). Things to check: `PushedFilters`/"
           "`ReadSchema` on scans, `BroadcastHashJoin` for dim joins, "
           "`Exchange` count per operator, and that no `ArrowEvalPython`/"
           "`BatchEvalPython` appears outside the fetch/sketch UDF stages.",
           ""]
    for title, plan in sections:
        out += [f"## {title}", "", "```", plan.strip(), "```", ""]
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                           "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("PLANS.md written,", len(sections), "sections")
    spark.stop()


if __name__ == "__main__":
    main()
