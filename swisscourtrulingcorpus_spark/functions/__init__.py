"""Scalar/column function layer (SURVEY.md §2.7) + text-analysis functions."""

from swisscourtrulingcorpus_spark.functions.text import (  # noqa: F401
    token_count_ws,
    token_count_bpe,
    quality_features_sql,
    language_id_score,
    STOPWORDS,
)
from swisscourtrulingcorpus_spark.functions.domain import (  # noqa: F401
    chamber_to_court,
    chamber_to_canton,
    canton_to_region,
    normalize_binary_judgment,
    year_of,
)
