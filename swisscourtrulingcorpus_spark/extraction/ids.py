"""Deterministic decision ids (SURVEY.md §1.2).

The reference derives decision_id as
``uuid.uuid5(uuid.UUID(int=0), file_name)``
(`scrc/utils/sql_select_utils.py:168`) so re-ingesting the same file
yields the same id.  Kept bit-identical here — and computed entirely
JVM-side (r11 optimization, guide §4.1): RFC 4122 §4.3 defines UUIDv5
as sha1(namespace_bytes || name_utf8) truncated to 16 octets with the
version nibble forced to 5 and the variant's top two bits to ``10``,
all of which are plain string/int expressions over Spark's ``sha1``.
The former pandas_udf added a whole ArrowEvalPython stage to every
ingest (and to the pipeline's cached base) for work codegen does in
nanoseconds per row.  Bit-identity with the stdlib is pinned two ways:
``tests`` property-check against :func:`uuid5_py`, and the
``uuid5_document_ids`` gate value-checks 5 000 ids against a frozen
fixture generated by ``uuid.uuid5`` itself.
"""

from __future__ import annotations

import uuid

from pyspark.sql import Column
from pyspark.sql import functions as F

_NAMESPACE = uuid.UUID(int=0)


def uuid5_py(name: str | None) -> str | None:
    if name is None:
        return None
    return str(uuid.uuid5(_NAMESPACE, name))


def uuid5_col(name: str) -> Column:
    """UUIDv5(namespace=UUID(int=0), name) over column ``name`` as a
    JVM-side expression (body: :func:`uuid5_sql`)."""
    return F.expr(uuid5_sql(f"`{name}`"))


def uuid5_sql(expr: str) -> str:
    """SQL text of UUIDv5(namespace=UUID(int=0), ``expr``).

    ``sha1`` emits 40 lowercase hex chars; the uuid is hex octets 0-15
    hyphenated 8-4-4-4-12, with hex char 13 (octet 6's high nibble)
    replaced by the version ``5`` and hex char 17 (octet 8's high
    nibble) re-coded to ``(nibble & 0x3) | 0x8`` — the RFC 4122
    variant-10 marker.  ``concat`` (not ``concat_ws``) so a NULL name
    yields a NULL id, matching :func:`uuid5_py`.  Parsed SQL text is
    one py4j call per construction (r12, session 2).  The sha1 text
    repeats per reference; codegen CSE evaluates it once per row.  The
    pipeline plans that use it are pinned in
    tests/fixtures/plan_fingerprints.json."""
    h = f"sha1(concat(X'{'00' * 16}', encode({expr}, 'UTF-8')))"
    variant_nibble = (
        f"lower(conv(cast(((cast(conv(substring({h}, 17, 1), 16, 10) as int)"
        f" & 3) + 8) as string), 10, 16))"
    )
    return (
        f"concat(substring({h}, 1, 8), '-', substring({h}, 9, 4), '-', '5', "
        f"substring({h}, 14, 3), '-', {variant_nibble}, "
        f"substring({h}, 18, 3), '-', substring({h}, 21, 12))"
    )
