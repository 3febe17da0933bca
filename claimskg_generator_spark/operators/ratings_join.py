"""J1: normalized-rating broadcast join.

The reference does a dict lookup ``normalization_dictionary[source][
standardize(label)]`` with KeyError -> OTHER (reference ratings.py:118-129).
Here the verbatim table becomes a tiny dimension DataFrame, broadcast-left-
joined on ``(lower(source), standardize(lower(label)))``; misses coalesce
to OTHER / -1.  The dimension keeps original-case keys so the reference's
never-matching mixed-case entries stay unmatchable (SURVEY.md J1 quirk).
"""

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from claimskg_generator_spark.constants.ratings import (
    NORMALIZED_RATING_VALUES,
    RATING_NORMALIZATION_ROWS,
)
from claimskg_generator_spark.functions.cleaning import PY_STRIP_REGEX
from claimskg_generator_spark.functions.frames import local_frame


def ratings_dim(spark: SparkSession) -> DataFrame:
    rows = [
        (src, key, name, NORMALIZED_RATING_VALUES[name])
        for src, key, name in RATING_NORMALIZATION_ROWS
    ]
    return local_frame(
        spark, rows,
        "r_source string, r_label string, norm_name string, norm_value int",
    )


def standardize_label_col(col) -> "F.Column":
    """strip -> drop '!'/':' -> '-' to ' ' (reference ratings.py:114-115);
    input arrives pre-lowercased like the reference's probe."""
    stripped = F.regexp_replace(col, PY_STRIP_REGEX, "")
    return F.replace(F.translate(stripped, "!:", ""), F.lit("-"), F.lit(" "))


def with_normalized_rating(claims: DataFrame, spark: SparkSession,
                           model_uri: str) -> DataFrame:
    dim = F.broadcast(ratings_dim(spark))
    probe = standardize_label_col(F.col("rating_alt_lower"))
    joined = (
        claims.withColumn("rating_probe", probe)
        .join(
            dim,
            (F.col("source_lower") == F.col("r_source"))
            & (F.col("rating_probe") == F.col("r_label")),
            "left",
        )
        .drop("r_source", "r_label", "rating_probe")
    )
    norm_name = F.coalesce(F.col("norm_name"), F.lit("OTHER"))
    return (
        joined.withColumn("norm_rating_name", norm_name)
        .withColumn(
            "norm_rating_value", F.coalesce(F.col("norm_value"), F.lit(-1))
        )
        .withColumn(
            "normalized_rating_uri",
            F.concat(F.lit(model_uri + "rating/normalized/claimskg_"), norm_name),
        )
        .drop("norm_name", "norm_value")
    )
