"""Domain extraction layer (SURVEY.md §2.8, E1–E11).

The reference implements these as per-row Python functions dispatched by
spider (`scrc/preprocessors/extractors/abstract_extractor.py:147-183`);
here each extractor is a per-row function (``*_py``) whose Spark surface
is one Arrow-batched pandas UDF built by ``_row_udf.row_udf``, with
marker dictionaries and regex tables carried as plain data
(broadcastable), and one-row→many-rows extractors returning
``ArrayType(StructType)`` for a built-in ``explode``.  The corpus build
runs the section extractors inside ONE document pass
(``plans/domain_pipeline.py::run_extraction_pipeline``), not through
these UDFs.

Nothing here is copied from the reference: the semantics (state-machine
section splitting, first-match-wins judgment outcomes, citation
validity filtering, deterministic UUIDv5 ids) are re-implemented from
the behavioral description in SURVEY.md with fresh code and fresh
marker data.
"""

from swisscourtrulingcorpus_spark.extraction.cleaning import (  # noqa: F401
    clean_text_udf,
)
from swisscourtrulingcorpus_spark.extraction.sections import (  # noqa: F401
    SECTION_MARKERS,
    SECTION_ORDER,
    split_sections_udf,
)
from swisscourtrulingcorpus_spark.extraction.judgments import (  # noqa: F401
    JUDGMENT_MARKERS,
    extract_judgments_udf,
)
from swisscourtrulingcorpus_spark.extraction.citations import (  # noqa: F401
    extract_citations_udf,
)
from swisscourtrulingcorpus_spark.extraction.composition import (  # noqa: F401
    extract_composition_udf,
)
from swisscourtrulingcorpus_spark.extraction.ids import (  # noqa: F401
    uuid5_col,
)
from swisscourtrulingcorpus_spark.extraction.lower_court import (  # noqa: F401
    extract_lower_court_udf,
)
from swisscourtrulingcorpus_spark.extraction.participation import (  # noqa: F401
    extract_participation_udf,
)
from swisscourtrulingcorpus_spark.extraction.gender import (  # noqa: F401
    enrich_gender,
)
