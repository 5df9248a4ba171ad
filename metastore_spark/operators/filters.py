"""Filter algebra: visibility, term/match predicates, AND/OR combinators.

All of these return plain ``Column`` boolean expressions, so Catalyst
sees ordinary predicates: they fold into the parquet scan as
PushedFilters, participate in partition pruning, and stay inside
whole-stage codegen. Nothing here ever materializes a row in Python.

Reference semantics being reproduced:
- visibility (row-level security): ``findability == 'published' OR
  owner == userid`` (metastore/models.py:58-79; pinned by
  tests/test_controllers.py:416-438)
- residual-param filters: AND across fields, OR within a field's value
  list (metastore/models.py:97-105)
- ``term`` = exact keyword equality (events kind, metastore/models.py:97;
  tests/test_controllers.py:601-609); ``match`` = analyzed equality on
  text fields (dataset kind — case/tokenization tolerant,
  tests/test_controllers.py:319-331)
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, MapType, StructType

from metastore_spark.search.analysis import analyze_terms_column


def visibility_predicate(
    findability_col: str,
    owner_col: str | None,
    userid: str | None,
    published_value: str = "published",
) -> Column:
    """Row-level security: public rows, plus the caller's own rows.

    Anonymous (userid=None) sees exactly the published set; an
    authenticated caller additionally sees every row they own,
    regardless of findability.
    """
    pred = F.col(findability_col) == F.lit(published_value)
    if userid is not None and owner_col is not None:
        pred = pred | (F.col(owner_col) == F.lit(userid))
    return pred


def term_predicate(field: str, value: object) -> Column:
    """Exact equality — no analysis (events-kind filters).

    Cross-type comparisons follow SQL coercion (Spark's binary-
    comparison rules, pinned by tests/test_filter_properties.py):
    bool↔number via int cast (False≡0), string↔number via numeric
    cast of the string, string↔bool via boolean cast of the string.
    The reference leaves these corners unpinned (its term filters are
    keyword-typed); SQL semantics is this engine's documented choice.
    """
    return F.col(field) == F.lit(value)


def match_predicate(field: str, value: object) -> Column:
    """Analyzed equality for text fields (dataset-kind filters).

    ES ``match`` analyzes BOTH sides with the same analyzer and
    requires every query token to appear in the field. The query side
    uses ``analyze(stem=False)`` — the exact Python counterpart of the
    column-side ``analyze_terms_column`` (same split, same stop-word
    set, no possessive strip), so a stop word in the value drops out
    on both sides instead of silently never matching. Numbers and
    booleans coerce through their string form
    (tests/test_controllers.py:319-331). A value that analyzes to no
    tokens matches nothing (ES zero_terms_query: none).
    """
    from metastore_spark.search.analysis import analyze

    if isinstance(value, bool):
        text = "true" if value else "false"
    else:
        text = str(value)
    tokens = analyze(text, stem=False)
    if not tokens:
        return F.lit(False)
    field_tokens = analyze_terms_column(F.col(field).cast("string"))
    conds = [F.array_contains(field_tokens, t) for t in tokens]
    return reduce(lambda a, b: a & b, conds)


def filters_predicate(
    filters: dict[str, list[object]],
    mode: str = "term",
) -> Column | None:
    """AND across fields, OR within each field's value list.

    ``mode`` selects term (exact) vs match (analyzed) per-value
    semantics, mirroring the per-kind switch at metastore/models.py:97.
    """
    make = term_predicate if mode == "term" else match_predicate
    per_field: list[Column] = []
    for field, values in filters.items():
        if not values:
            continue
        ors = [make(field, v) for v in values]
        per_field.append(reduce(lambda a, b: a | b, ors))
    if not per_field:
        return None
    return reduce(lambda a, b: a & b, per_field)


def apply_filters(
    df: DataFrame,
    filters: dict[str, list[object]],
    mode: str = "term",
) -> DataFrame:
    pred = filters_predicate(filters, mode)
    return df.filter(pred) if pred is not None else df


def resolves_field(df: DataFrame, dotted: str) -> bool:
    """Whether ``col(dotted)`` resolves on ``df``.

    Walks the schema directly: one pass over a StructType, where asking
    the analyzer would cost a Catalyst analysis and an exception per
    miss. Mirrors Spark resolution under the SESSION'S resolver mode
    (``spark.sql.caseSensitive``, default insensitive — pinned against
    the real analyzer by tests/test_filter_properties.py): struct
    members matched per the mode, arrays traversed to their element,
    map access valid for any key.
    """
    case_sensitive = (
        df.sparkSession.conf.get("spark.sql.caseSensitive", "false").lower()
        == "true"
    )

    def names_match(a: str, b: str) -> bool:
        return a == b if case_sensitive else a.lower() == b.lower()

    dt = df.schema
    for part in dotted.split("."):
        while isinstance(dt, ArrayType):
            dt = dt.elementType
        if isinstance(dt, MapType):
            dt = dt.valueType  # any key is addressable
            continue
        if not isinstance(dt, StructType):
            return False
        match = next((f for f in dt.fields if names_match(f.name, part)), None)
        if match is None:
            return False
        dt = match.dataType
    return True
