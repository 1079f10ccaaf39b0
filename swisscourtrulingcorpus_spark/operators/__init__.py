"""Relational operator layer (SURVEY.md §2.2–2.6) + LLM-pipeline operators."""

from swisscourtrulingcorpus_spark.operators.relational import (  # noqa: F401
    map_join,
    asof_join,
    top_k_per_group_sql,
    date_stratified_split,
    cutoff_filter,
    value_counts_with_pct,
)
from swisscourtrulingcorpus_spark.operators.dedup import (  # noqa: F401
    exact_dedup,
    minhash_signatures,
    minhash_lsh_candidates,
    simhash64,
)
from swisscourtrulingcorpus_spark.operators.similarity import (  # noqa: F401
    cosine_topk_bruteforce,
    lsh_bucketed_topk,
)
