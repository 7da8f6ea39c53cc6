"""Reference-parity transform library (SURVEY.md §2A rows 7-15, 10, 23;
§7 Phase 2).

Everything here is a pure DataFrame→DataFrame transform — metadata-only
ops (renames, reorders) compile to Catalyst projections and cost nothing
at scale; the only transform that can shuffle is nothing in this module
(union is narrow, null-fill is a projection). All are composable with
``DataFrame.transform``.

Reference behaviors re-expressed (file:line cites into /root/reference):

- ``normalize_columns``  <- Test_census_tract.py:352 (``c.replace('-','_')
  .upper().strip()`` over df.columns)
- ``build_mapping`` / ``apply_mapping`` <- Test_census_tract.py:47-54, 354
  (Excel code→label dict, ``df.rename(columns=lambda c: m.get(c, c))``)
- ``align_schema`` <- Test_census_tract.py:171-175 (NULL-fill missing
  requested columns + expected-first reorder)
- ``union_all`` <- Test_census_tract.py:396-398 (``pd.concat`` name-based
  union with NaN fill)
- ``cast_clean`` <- COPY ``EMPTYASNULL BLANKSASNULL`` semantics
  (Test_census_tract.py:277) + the engine's explicit typed tier
  (SURVEY.md §1.2) incl. ACS sentinel → NULL
- ``unmapped_columns`` <- Test_census_tract.py:356-359 set-difference
  diagnostic

``clean_projection`` applies normalize → mapping → align → cast_clean as
one projection of SQL text, with the same rules as the four transforms.
"""

from __future__ import annotations

from functools import reduce
from collections.abc import Iterable, Mapping

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from clean_census_acs_data_spark.functions import ACS_SENTINELS, sql_ident, sql_literal


def _norm(name: str) -> str:
    """replace('-','_').upper().strip() — Test_census_tract.py:352."""
    return name.replace("-", "_").upper().strip()


def normalize_columns(df: DataFrame) -> DataFrame:
    """Normalize every column name. Idempotent (norm∘norm = norm)."""
    return df.toDF(*[_norm(c) for c in df.columns])


class MappingCollisionError(ValueError):
    """Two api codes map to the same label, or one code appears twice
    with different labels. The reference's ``dict(zip(...))`` silently
    last-wins (Test_census_tract.py:49-54); the engine fails loudly
    (SURVEY.md §7 risk register) unless ``allow_last_wins=True``."""


def build_mapping(
    pairs: Iterable[tuple[str, str]],
    *,
    allow_last_wins: bool = False,
) -> dict[str, str]:
    """code→label dict with key cleanup (upper+strip,
    Test_census_tract.py:48) and collision detection."""
    out: dict[str, str] = {}
    seen_labels: dict[str, str] = {}
    for code, label in pairs:
        key = code.upper().strip()
        if not allow_last_wins:
            if key in out and out[key] != label:
                raise MappingCollisionError(
                    f"code {key!r} maps to both {out[key]!r} and {label!r}"
                )
            if label in seen_labels and seen_labels[label] != key:
                raise MappingCollisionError(
                    f"label {label!r} assigned to both {seen_labels[label]!r} and {key!r}"
                )
        out[key] = label
        seen_labels[label] = key
    return out


def apply_mapping(df: DataFrame, mapping: Mapping[str, str]) -> DataFrame:
    """Metadata-driven rename with identity fallback on unknown names —
    ``df.rename(columns=lambda c: mapping.get(c, c))``
    (Test_census_tract.py:354). Pure projection; zero runtime cost."""
    return df.select([F.col(c).alias(mapping.get(c, c)) for c in df.columns])


def apply_mapping_join(
    df: DataFrame,
    mapping_df: DataFrame,
    code_col: str,
    *,
    key_col: str = "api_code",
    label_col: str = "label",
    out_col: str | None = None,
) -> DataFrame:
    """The *data-level* form of the code→label lookup: broadcast hash
    join against the (unpivoted) mapping dim (SURVEY.md §2B joins). At
    100 TB the fact side never shuffles — the 62-row dim ships to every
    executor."""
    out_col = out_col or f"{code_col}_label"
    dim = mapping_df.select(
        F.upper(F.trim(F.col(key_col))).alias("__map_key"),
        F.col(label_col).alias(out_col),
    )
    joined = df.join(
        F.broadcast(dim),
        F.upper(F.trim(F.col(code_col))) == F.col("__map_key"),
        "left",
    ).drop("__map_key")
    # identity fallback: unknown codes keep their own name (row 8 semantics)
    return joined.withColumn(out_col, F.coalesce(F.col(out_col), F.col(code_col)))


def align_schema(
    df: DataFrame,
    expected: list[str],
    *,
    fill_type: str = "string",
) -> DataFrame:
    """NULL-fill requested-but-missing columns, then project expected
    columns first and extras after (Test_census_tract.py:171-175).
    Column order is pinned explicitly because unionByName realigns
    (SURVEY.md §7 risk register)."""
    present = set(df.columns)
    return df.selectExpr(*(
        sql_ident(c) if c in present else f"{_null_of(fill_type)} AS {sql_ident(c)}"
        for c in _aligned(df.columns, expected)
    ))


def _aligned(columns: list[str], expected: list[str]) -> list[str]:
    """align_schema's output names: ``expected``, then the other
    ``columns`` in their order."""
    wanted = set(expected)
    return [*expected, *(c for c in columns if c not in wanted)]


def _null_of(fill_type: str) -> str:
    return f"CAST(NULL AS {fill_type})"


def union_all(dfs: Iterable[DataFrame]) -> DataFrame:
    """Name-aligned vertical union with missing-column NULL fill —
    ``pd.concat(all_data, ignore_index=True)`` (Test_census_tract.py:398).
    Narrow op: no shuffle; at scale each input keeps its partitioning."""
    dfs = list(dfs)
    if not dfs:
        raise ValueError("union_all of empty list")
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), dfs)


def cast_clean(
    df: DataFrame,
    casts: Mapping[str, str],
    *,
    sentinels: tuple[str, ...] = ACS_SENTINELS,
) -> DataFrame:
    """The engine's typed tier over all-string ingest (SURVEY.md §1.2):
    blank/empty → NULL (COPY EMPTYASNULL BLANKSASNULL,
    Test_census_tract.py:277), ACS sentinel codes → NULL, then cast.
    ``casts`` maps column → target type name; unlisted columns pass
    through untouched."""
    return df.selectExpr(*(
        f"{_cast_clean_sql(sql_ident(c), casts[c], sentinels)} AS {sql_ident(c)}"
        if c in casts else sql_ident(c)
        for c in df.columns
    ))


def _cast_clean_sql(value: str, to: str, sentinels: tuple[str, ...]) -> str:
    """cast_clean's rule for one value (SQL text) as SQL text."""
    cleaned = f"nullif(trim(CAST({value} AS STRING)), '')"
    if sentinels:
        listed = ", ".join(sql_literal(v) for v in sentinels)
        cleaned = f"CASE WHEN {cleaned} IN ({listed}) THEN NULL ELSE {cleaned} END"
    return f"CAST({cleaned} AS {to})"


def clean_projection(
    columns: list[str],
    mapping: Mapping[str, str],
    expected: list[str],
    casts: Mapping[str, str],
) -> list[str]:
    """``normalize_columns`` → ``apply_mapping`` → ``align_schema`` →
    ``cast_clean`` over a frame whose columns are ``columns``, as SQL
    select expressions for one ``selectExpr``. The names are worked out
    in Python with the same rules; the four transforms would cost
    several py4j calls per column and four projections."""
    source: dict[str, str] = {}
    for c in columns:
        label = mapping.get(_norm(c), _norm(c))
        if label in source:
            raise ValueError(f"columns {source[label]} and {sql_ident(c)} both become {label!r}")
        source[label] = sql_ident(c)
    out = []
    for label in _aligned(list(source), expected):
        value = source.get(label) or _null_of("string")
        if label in casts:
            value = _cast_clean_sql(value, casts[label], ACS_SENTINELS)
        out.append(f"{value} AS {sql_ident(label)}")
    return out


def unmapped_columns(
    df: DataFrame,
    mapping: Mapping[str, str],
    *,
    allowlist: frozenset[str] = frozenset({"TRACT", "COUNTY", "STATE", "STATE_FIPS", "NAME"}),
) -> set[str]:
    """Set-difference diagnostic: columns with no mapping entry, minus the
    geo allowlist (Test_census_tract.py:356-359). Driver-side metadata op."""
    return set(df.columns) - set(mapping.keys()) - set(mapping.values()) - allowlist
