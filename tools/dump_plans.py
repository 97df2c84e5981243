"""Dump .explain('formatted') physical plans of the key operators to PLANS.md
so plan shape (pushdown, broadcast, codegen spans, exchange count) is
reviewable without running Spark."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from auto_archiver_spark import queries as Q  # noqa: E402
from auto_archiver_spark.operators.dedup import content_dedup, content_winners  # noqa: E402
from auto_archiver_spark.operators.frontier import (  # noqa: E402
    anti_join_seen,
    canonicalize,
    dedup_in_wave,
    politeness_admission,
    salted_fetch_repartition,
    seed_filter,
)
from auto_archiver_spark.plans.tableio import local_df  # noqa: E402
from auto_archiver_spark.plans.wave import URL_SEEN_SCHEMA  # noqa: E402
from auto_archiver_spark.session import get_spark  # noqa: E402
from auto_archiver_spark.sources.fixture import (  # noqa: E402
    frontier_seed_df,
    host_policy_df,
    images_df,
)

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
    # wave 0: url_seen and sha_seen are absent, read as empty relations
    # (TableIO.read_or_empty), and the joins against them are pruned
    seen = local_df(spark, URL_SEEN_SCHEMA)
    sections.append(("in-wave dedup + anti-join vs url_seen (J1/J6) at wave 0: "
                     "the join against the absent url_seen is pruned",
                     plan_of(anti_join_seen(cand, seen))))

    adm = politeness_admission(cand, host_policy_df(spark))
    sections.append(("politeness admission (O2 window + J5 broadcast)", plan_of(adm)))

    sections.append(("salted fetch repartition (host-skew kill)",
                     plan_of(salted_fetch_repartition(cand, 16))))

    imgs = images_df(spark, 40, partitions=2).withColumn(
        "sha256", F.sha2(F.col("bytes"), 256)).withColumn("url_hash", F.xxhash64("image_id"))
    sha_seen = local_df(spark, "sha256 string")
    _, drops = content_dedup(imgs, sha_seen)
    sections.append(("payload content dedup at wave 0 (A1+A2 winners: skinny "
                     "HashAggregate, bytes never shuffle; the anti-join against "
                     "the absent sha_seen is pruned)",
                     plan_of(content_winners(imgs.select("url_hash", "sha256"), sha_seen))))
    sections.append(("payload content dedup (A2 delete keys vs the materialized winners)",
                     plan_of(drops)))

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
