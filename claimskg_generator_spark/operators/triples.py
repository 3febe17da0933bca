"""Triple-emission building blocks: one wide row -> many (subj, pred, obj,
okind) rows, as a single-pass ``explode(array_compact(...))`` projection —
column-wise re-expression of the reference's per-row graph.add() sequences
(SURVEY.md EP2).  The per-claim families themselves live in
operators/row_triples.py; this module keeps the shared struct/okind helpers
and duplicate alignment (a self-join, so not row-local).
"""

from typing import List, Optional, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from claimskg_generator_spark.constants.namespaces import NS
from claimskg_generator_spark.functions.cleaning import PY_STRIP_REGEX

OKIND_URI = "uri"
OKIND_PLAIN = ""
OKIND_LANG_EN = "@en"


def _c(x) -> Column:
    return x if isinstance(x, Column) else F.lit(x)


def triple_struct(s, p, o, okind) -> Column:
    return F.struct(
        _c(s).alias("subj"), _c(p).alias("pred"),
        _c(o).alias("obj"), _c(okind).alias("okind"),
    )


Family = Tuple[Optional[Column], object, object, object, object]


def emit(df: DataFrame, families: List[Family]) -> DataFrame:
    """families: (condition_or_None, s, p, o, okind) -> exploded triples."""
    entries = []
    for cond, s, p, o, okind in families:
        t = triple_struct(s, p, o, okind)
        entries.append(t if cond is None else F.when(cond, t))
    return (
        df.select(F.explode(F.array_compact(F.array(*entries))).alias("t"))
        .select("t.*")
    )


def align_duplicated_triples(claims: DataFrame) -> DataFrame:
    """J6: owl:sameAs between creative works whose normalized titles match,
    oriented by processing order (reference :779-799).  Expressed as an
    equi-self-join on the normalized title — the blocking key — instead of
    the reference's O(n^2) loop; AQE skew-join handles hot titles."""
    # strip -> lower -> drop quotes, in the reference's exact order (:798-799);
    # strip must match Python str.strip() (Unicode whitespace)
    norm_title = F.translate(
        F.regexp_replace(F.lower(F.col("claim_text")), PY_STRIP_REGEX, ""), "\"'", ""
    )
    d = claims.select(norm_title.alias("nt"), "ord", "cw_uri")
    a, b = d.alias("a"), d.alias("b")
    return (
        a.join(b, (F.col("a.nt") == F.col("b.nt")) & (F.col("a.ord") < F.col("b.ord")))
        .select(
            F.col("a.cw_uri").alias("subj"),
            F.lit(NS.OWL_SAME_AS).alias("pred"),
            F.col("b.cw_uri").alias("obj"),
            F.lit(OKIND_URI).alias("okind"),
        )
    )
