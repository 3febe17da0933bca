"""Per-claim logical views: the distributed analog of the reference's
ClaimLogicalView accumulator (reference claimskg/generator/__init__.py:
60-83) — one row per claim with the aggregates reconciliation (J7/J8) and
statistics (A1) consume.

Everything except the keyword-winner part is within-row array expressions
(no shuffle).  The keyword-winner entity/category lists replicate the
order-dependent memo exactly as operators/keywords.py does: only mentions
from each keyword's first matching row count as claim entities.
"""

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from claimskg_generator_spark.functions.cleaning import PY_STRIP_REGEX
from claimskg_generator_spark.operators.keywords import (
    exploded_keywords,
    keyword_winners,
)


def _empty_str_array():
    return F.array().cast("array<string>")


def _above_threshold(col, threshold):
    return F.filter(
        F.coalesce(col, F.array().cast("array<struct<begin:bigint,end:bigint,"
                                       "text:string,entity:string,score:string,"
                                       "categories:array<string>>>")),
        lambda m: m["score"].try_cast("double") > F.lit(threshold),
    )


def _mention_entities(col, threshold):
    return F.transform(
        _above_threshold(col, threshold),
        lambda m: F.replace(m["entity"], F.lit(" "), F.lit("_")),
    )


def _mention_categories(col, threshold):
    return F.flatten(
        F.transform(
            _above_threshold(col, threshold),
            lambda m: F.when(
                F.size(m["categories"]) > 0,
                F.split(F.element_at(m["categories"], 1), ","),
            ).otherwise(_empty_str_array()),
        )
    )


def _keywords_array(tags_col):
    kw_list = F.when(
        F.contains(tags_col, F.lit(";")), F.split(tags_col, ";")
    ).otherwise(F.split(tags_col, ","))
    stripped = F.transform(kw_list, lambda k: F.regexp_replace(k, PY_STRIP_REGEX, ""))
    return F.when(
        tags_col.isNotNull() & (F.length(tags_col) > 0),
        F.array_distinct(stripped),
    ).otherwise(_empty_str_array())


def keyword_winner_mentions(claims: DataFrame, model_uri: str,
                            ex: DataFrame = None) -> DataFrame:
    """Per claim row: the keyword mentions this row actually attaches under
    the first-writer-wins memo (any row may win several keywords)."""
    if ex is None:
        ex = exploded_keywords(claims, model_uri)
    winners = keyword_winners(ex)
    return (
        ex
        # a keyword repeated in one row's tag list is processed once (the
        # memo is set at the first occurrence) -> dedupe before attaching
        .dropDuplicates(["ord", "kw_uri"])
        .join(
            F.broadcast(winners),
            (F.col("kw_uri") == F.col("w_kw_uri")) & (F.col("ord") == F.col("win_ord")),
        )
        .select("ord", "kw_uri", "keyword", "matched")
    )


def logical_views(claims: DataFrame, model_uri: str, threshold: float,
                  ex: DataFrame = None) -> DataFrame:
    """One row per claim: ord, cw_uri, creative_work_author, claim_date,
    review_date, keywords, links, entities, categories (+ stat flags).

    entities = keyword-winner mentions ++ body mentions (claim side) and
    review mentions kept separately; the reference concatenates
    claim+review for scoring (reconciler/__init__.py:154-155), which we do
    here so the reconcile operator gets one ``entities`` list."""
    kw_part = (
        keyword_winner_mentions(claims, model_uri, ex)
        .select(
            "ord",
            _mention_entities(F.col("matched"), threshold).alias("e"),
            _mention_categories(F.col("matched"), threshold).alias("c"),
        )
        .groupBy("ord")
        .agg(
            F.flatten(F.collect_list("e")).alias("kw_entities"),
            F.flatten(F.collect_list("c")).alias("kw_categories"),
        )
    )

    base = claims.select(
        "ord",
        "cw_uri",
        "claim_review_url",
        "source",
        "fragments",
        F.col("cw_author").alias("creative_work_author"),
        F.when(F.length(F.coalesce("claim_date", F.lit(""))) > 0,
               F.try_to_date(F.col("claim_date"), "yyyy-MM-dd")).alias("claim_date"),
        F.when(F.length(F.coalesce("review_date", F.lit(""))) > 0,
               F.try_to_date(F.col("review_date"), "yyyy-MM-dd")).alias("review_date"),
        _keywords_array(F.col("tags")).alias("keywords"),
        F.transform(F.coalesce("citations",
                               F.array().cast("array<struct<cleaned:string,uri:string>>")),
                    lambda x: x["cleaned"]).alias("links"),
        _mention_entities(F.col("m_review"), threshold).alias("review_entities"),
        _mention_categories(F.col("m_review"), threshold).alias("review_categories"),
        _mention_entities(F.col("m_body"), threshold).alias("body_entities"),
        _mention_categories(F.col("m_body"), threshold).alias("body_categories"),
        (F.length("body") > 0).alias("has_body"),
        (F.length("headline") > 0).alias("has_headline"),
        F.col("claim_text").alias("title"),
        "norm_rating_name",
    )

    joined = base.join(kw_part, "ord", "left")
    kw_e = F.coalesce("kw_entities", _empty_str_array())
    kw_c = F.coalesce("kw_categories", _empty_str_array())
    # claim-side lists: keyword-winner mentions come first (the reference
    # appends them during _create_creative_work, before body mentions)
    return (
        joined.withColumn("claim_entities", F.concat(kw_e, F.col("body_entities")))
        .withColumn("claim_categories", F.concat(kw_c, F.col("body_categories")))
        .withColumn("entities", F.concat(F.col("claim_entities"),
                                         F.col("review_entities")))
        .withColumn("categories", F.concat(F.col("review_categories"),
                                           F.col("claim_categories")))
        .drop("kw_entities", "kw_categories")
    )
