"""Result-merge operators — the reference's Metadata.merge semantics as
DataFrame aggregations (SURVEY.md §2.5 A4/A5, §2.3 X3).

Reference rules (core/metadata.py:37-64): on key conflict scalars overwrite
(later wins), lists concatenate, media lists extend; status is overwritten
only by a non-empty status (metadata.py:52-55 via :95-96). choose_most_complete
(metadata.py:221-235) = argmax by (len(media), len(metadata)).

Spark mapping: one shuffle (groupBy url_hash) with native aggregations only —
map later-wins conflict via ``map_zip_with`` + ``map_contains_key`` (policy-
independent: no reliance on the session's mapKeyDedupPolicy), ordered media
concat via sort-then-flatten, status via max_by over (non-emptiness, order).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dedup_keep_order(items: list) -> list:
    """A11 (orchestrator.py:168): config-list dedup preserving first-seen
    order — ``list(dict.fromkeys(...))``. Driver-side (module configs are
    driver state, never a DataFrame)."""
    return list(dict.fromkeys(items))


def merge_extractor_results(df: DataFrame, order_col: str = "attempt") -> DataFrame:
    """A4: merge multiple per-extractor results for the same url_hash.

    Expects columns: url_hash, <order_col>, status, title, media (array),
    metadata (map). Later attempts overwrite scalars; media concatenates in
    attempt order; empty statuses never overwrite non-empty ones.
    """
    o = F.col(order_col)
    nonempty_status = F.trim(F.col("status")) != ""
    nonempty_title = F.col("title").isNotNull() & (F.trim(F.col("title")) != "")

    def by_order(left, right):
        # maps aren't orderable, so structs holding them need an explicit
        # comparator on the attempt key
        return F.when(left["o"] < right["o"], -1).when(left["o"] > right["o"], 1).otherwise(0)

    merged = df.groupBy("url_hash").agg(
        F.max_by("status", F.struct(nonempty_status.cast("int"), o)).alias("status"),
        F.max_by("title", F.struct(nonempty_title.cast("int"), o)).alias("title"),
        F.flatten(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(o.alias("o"), F.col("media").alias("m"))), by_order
                ),
                lambda s: s["m"],
            )
        ).alias("media"),
        F.aggregate(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(o.alias("o"), F.col("metadata").alias("md"))),
                    by_order,
                ),
                lambda s: s["md"],
            ),
            F.create_map().cast("map<string,string>"),
            # later-wins overwrite WITHOUT depending on the session's
            # mapKeyDedupPolicy (round-2 ADVICE: no ambient-config reliance):
            # keys union via map_zip_with; a key present in the later map
            # takes its value (even an explicit null), else keeps the old
            lambda acc, m: F.map_zip_with(
                acc, m,
                lambda k, v1, v2: F.when(F.map_contains_key(m, k), v2).otherwise(v1),
            ),
        ).alias("metadata"),
    )
    return merged


def first_success(df: DataFrame, order_col: str = "attempt") -> DataFrame:
    """X3: per url_hash keep the first result in attempt order whose status
    contains 'success' (orchestrator.py:632-640 first-success-wins loop);
    fall back to the last attempt when none succeeded."""
    is_success = F.col("status").contains("success")
    pick = F.struct(
        is_success.cast("int").alias("ok"),
        F.when(is_success, -F.col(order_col)).otherwise(F.col(order_col)).alias("o"),
    )
    agg = df.groupBy("url_hash").agg(
        F.max_by(F.struct(*[F.col(c) for c in df.columns if c != "url_hash"]), pick).alias("r")
    )
    return agg.select("url_hash", "r.*")


def choose_most_complete(df: DataFrame) -> DataFrame:
    """A5 (metadata.py:221-235): per url_hash the result with the most media,
    then the most metadata keys; on a tie the earliest attempt, as the
    reference's ``max()`` keeps the first maximal element."""
    score = F.struct(
        F.size("media").alias("n_media"),
        F.size(F.map_keys("metadata")).alias("n_meta"),
        (-F.col("attempt")).alias("first"),
    )
    agg = df.groupBy("url_hash").agg(
        F.max_by(F.struct(*[F.col(c) for c in df.columns if c != "url_hash"]), score).alias("r")
    )
    return agg.select("url_hash", "r.*")
