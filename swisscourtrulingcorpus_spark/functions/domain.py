"""Domain scalar functions (SURVEY.md §2.7 F4–F9).

The reference encodes Swiss-court domain logic as Python helpers and SQL
CASE chains; here they are column expressions over broadcastable literal
maps — zero UDFs, so they fold into whole-stage codegen and never block
predicate pushdown.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from itertools import chain

# F7 canton -> 1-of-8 Swiss region (`scrc/utils/sql_select_utils.py:414-440`).
CANTON_REGION = {
    "ZH": "Zurich",
    "BE": "Espace_Mittelland", "SO": "Espace_Mittelland", "FR": "Espace_Mittelland",
    "NE": "Espace_Mittelland", "JU": "Espace_Mittelland",
    "AG": "Northwestern_Switzerland", "BS": "Northwestern_Switzerland",
    "BL": "Northwestern_Switzerland",
    "GE": "Region_Lemanique", "VD": "Region_Lemanique", "VS": "Region_Lemanique",
    "SG": "Eastern_Switzerland", "TG": "Eastern_Switzerland", "AI": "Eastern_Switzerland",
    "AR": "Eastern_Switzerland", "GL": "Eastern_Switzerland", "SH": "Eastern_Switzerland",
    "GR": "Eastern_Switzerland",
    "LU": "Central_Switzerland", "OW": "Central_Switzerland", "NW": "Central_Switzerland",
    "SZ": "Central_Switzerland", "UR": "Central_Switzerland", "ZG": "Central_Switzerland",
    "TI": "Ticino",
    "CH": "Federation",
}


def chamber_to_court(col: Column | str) -> Column:
    """F4: `"_".join(chamber.split("_")[:2])` (`main_utils.py:91-96`)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.substring_index(c, "_", 2)


def chamber_to_canton(col: Column | str) -> Column:
    """F4: `chamber.split("_")[0]` (`main_utils.py:98-100`)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.substring_index(c, "_", 1)


def canton_to_region(col: Column | str) -> Column:
    """F7 literal map join (no shuffle — a create_map constant)."""
    c = F.col(col) if isinstance(col, str) else col
    mapping = F.create_map(
        *list(chain.from_iterable((F.lit(k), F.lit(v)) for k, v in CANTON_REGION.items()))
    )
    return mapping[c]


def year_of(col: Column | str) -> Column:
    """F5: `extract(year from date)` (`dataset_creator.py:552`)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.year(c)


def normalize_binary_judgment(judgments: str) -> Column:
    """F9 ``convert_to_binary_judgments`` (`sql_select_utils.py:361-410`)
    over an ``array<string>`` of judgment outcomes:

    - strip the ``partial_`` prefix (partial approval counts as approval);
    - drop procedural outcomes (write_off / unification / inadmissible)
      when they co-occur with a substantive one;
    - approval + dismissal in the same decision -> NULL (irreducible);
    - a single surviving substantive label -> that label;
    - nothing substantive left -> NULL.

    Pure array expressions: transform -> array_distinct -> array_remove,
    then a CASE on the surviving set.  This is the highest-value oracle
    target per SURVEY.md §7.2 step 4 (subtle set semantics).

    Body: :func:`normalize_binary_judgment_sql` — parsed SQL text is
    one py4j call per construction (r12 session 2).
    """
    return F.expr(normalize_binary_judgment_sql(f"`{judgments}`"))


def normalize_binary_judgment_sql(expr: str) -> str:
    """SQL text of :func:`normalize_binary_judgment` over an expression
    string.  The ``substantive`` subtree repeats at each reference;
    the plans that use it are pinned in
    tests/fixtures/plan_fingerprints.json."""
    stripped = (
        f"array_distinct(transform({expr}, "
        f"x -> regexp_replace(x, '^partial_', '')))"
    )
    substantive = (
        f"array_remove(array_remove(array_remove({stripped}, "
        f"'write_off'), 'unification'), 'inadmissible')"
    )
    return (
        f"CASE WHEN (({expr} IS NULL) OR (size({expr}) = 0))"
        " THEN cast(null as string)"
        f" WHEN (array_contains({substantive}, 'approval')"
        f" AND array_contains({substantive}, 'dismissal'))"
        " THEN cast(null as string)"
        f" WHEN (size({substantive}) = 1) THEN element_at({substantive}, 1)"
        f" WHEN (size({substantive}) = 0) THEN cast(null as string)"
        " ELSE cast(null as string) END"
    )


# first digit of a Rechtsgebiete law code -> top-level law area
# (`chamber_areas_from_law_codes.py:8-13`)
_CODE_AREAS: dict[str, str] = {
    "1": "civil_law",
    "2": "public_law",
    "3": "penal_law",
    "4": "social_law",
}


def law_codes_to_area(codes: Column | str) -> Column:
    """Chamber law-area consensus (`chamber_areas_from_law_codes.py:
    29-42` ``codes_to_area``) over an ``array<string>`` of law codes
    ('1.4.', '2.1.', ...): empty/blank lists → NULL, mixed first
    digits → NULL (no unanimous area), otherwise the area of the
    single shared first digit (unknown digit → NULL, as the Python
    ``areas.get`` → nan).  Pure array expressions."""
    c = F.col(codes) if isinstance(codes, str) else codes
    nonempty = F.filter(c, lambda x: F.length(x) > 0)
    firsts = F.array_distinct(F.transform(nonempty, lambda x: F.substring(x, 1, 1)))
    from itertools import chain

    area_map = F.create_map(
        *list(chain.from_iterable((F.lit(k), F.lit(v)) for k, v in _CODE_AREAS.items()))
    )
    return F.when(F.size(firsts) == 1, area_map[F.element_at(firsts, 1)]).otherwise(
        F.lit(None).cast("string")
    )


# ---------------------------------------------------------------------------
# Court processability lists (`scrc/utils/court_names.py:1-42`): the
# reference maintains per-failure-mode lists of courts whose dataset
# creation is known to fail (empty sections / empty judgments / empty
# labels) and skips them in the per-court creator loop.  Kept here as a
# broadcast-able exclusion dim; the semantics — get_error_courts(index)
# concatenates the three error categories, get_empty_courts() the
# judgments-empty list — are preserved so a reference user's skip
# behavior carries over.
# ---------------------------------------------------------------------------

# section loading fails (StopIteration, `court_names.py:7-9`)
COURT_ERROR_SECTIONS: list[str] = [
    "CH_VB", "OW_OG", "OW_VG", "OW_VB", "TG_OG", "TI_CRP", "TI_GIAR",
    "TI_PP", "UR_REB", "ZG_UPL", "BE_UPL", "FR_UPL", "VD_UPL", "ZH_UPL",
    "LU_UPL",
]
# judgments parse empty (`court_names.py:11-12`)
COURT_ERROR_JUDGMENTS: list[str] = [
    "AG_OSB", "VD_SR", "AG_AK", "AG_LWRK", "AG_PRG", "AG_SKBG", "AG_SRG",
]
# label column empty (`court_names.py:14-16`)
COURT_ERROR_LABELS: list[str] = ["VS_AG", "ZH_SOBE"]
# judgments_df empty (`court_names.py:18-24`)
COURT_EMPTY: list[str] = [
    "AG_XX", "AI_BZG", "AR_RR", "AR_SRK", "AR_VB", "AR_XX", "BE_XX",
    "BL_XX", "BS_XX", "CH_XX", "FR_TAMA", "FR_XX", "GE_XX", "GL_XX",
    "GR_XX", "JU_XX", "LU_RSH", "LU_XX", "NE_XX", "NW_XX", "OW_XX",
    "SG_XX", "SH_XX", "SO_XX", "SZ_XX", "TG_XX", "TI_GPC", "TI_XX",
    "UR_XX", "VD_XX", "VS_XX", "ZG_XX", "ZH_XX", "CH_UPL", "AG_UPL",
    "AG_RR", "AG_JL", "AI_UPL", "AR_UPL", "BL_UPL", "BS_UPL", "GE_UPL",
    "GL_UPL", "GR_UPL", "JU_UPL", "NE_UPL", "NW_UPL", "OW_UPL", "SG_UPL",
    "SH_UPL", "SO_UPL", "SZ_UPL", "TI_UPL", "TG_UPL", "UR_UPL", "VS_UPL",
    "UR_OG", "AI_KG", "BE_AK", "BE_OG", "CH_EDÖB",
]


def get_error_courts(index: int = -1) -> list[str]:
    """`court_names.py:28-36`: index -1 concatenates all three error
    categories, 0/1/2 select one."""
    cats = [COURT_ERROR_SECTIONS, COURT_ERROR_JUDGMENTS, COURT_ERROR_LABELS]
    if index == -1:
        return cats[0] + cats[1] + cats[2]
    return cats[index]


def get_empty_courts() -> list[str]:
    """`court_names.py:39-42`."""
    return COURT_EMPTY


def filter_processable_courts(df, court_col: str = "court"):
    """Drop rows for courts the reference skips (error + empty lists).
    A literal isin against ~80 strings — constant-folded by Catalyst,
    no join, no shuffle."""
    from pyspark.sql import functions as F

    excluded = set(get_error_courts() + get_empty_courts())
    return df.where(~F.col(court_col).isin(*sorted(excluded)))
