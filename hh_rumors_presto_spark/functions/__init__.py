"""Scalar Column->Column function library (SURVEY.md §2.A rows 3-23).

Pure column expressions wherever possible (JVM-side, whole-stage codegen);
pandas UDFs only for the two operations Spark built-ins cannot express
(NFD diacritic folding in ``slugify``, HTML sanitizing in ``sanitize_html``).
"""

from hh_rumors_presto_spark.functions.strings import (
    body_already_has_source,
    clean,
    dedup_key,
    html_escape,
    slugify,
    slugify_expr_ascii,
)
from hh_rumors_presto_spark.functions.dates import (
    extract_iso_date,
    fmt_month_abbrev,
)
from hh_rumors_presto_spark.functions.vectors import (
    cosine_similarity,
    cosine_sql,
    dot,
    l2_norm,
)

__all__ = [
    "body_already_has_source",
    "clean",
    "cosine_similarity",
    "cosine_sql",
    "dedup_key",
    "dot",
    "extract_iso_date",
    "fmt_month_abbrev",
    "html_escape",
    "l2_norm",
    "slugify",
    "slugify_expr_ascii",
]
