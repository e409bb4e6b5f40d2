"""The cleaning-transform core: T1-T12 from SURVEY.md §2.7, re-expressed as
native Column expressions (whole-stage codegen; no Python UDFs anywhere).

Reference semantics source: `/root/reference/CigEolHostingIngestionLogic.py`
(exact call order at lines 32-41: T5 default-missing, T6 nullable-int, T7
sci-notation, T9 not-nullable scrub, T8 timestamp truncation, T10
nvarchar(max) cap, T11 odd columns) and
`/root/reference/ParquetFileInsertion.py:59-75` (T12 NULL materialization).

Deliberate reference quirks are reproduced and unit-tested (FIXTURES.md F7):
- T6 removes *all* ``.0`` substrings when the value ends with ``.0``
  ("1.014.0" -> "114");
- T4 replaces whole cells only ("nanarnia" untouched) while T9 replaces
  substrings ("NoneSuch" -> "Such");
- T1 implements the *intent* of the reference's latent bug
  (`environment.length` would raise; the working duplicate is
  `main_mailbox.py:56`).

Scale notes: every step is a projection — zero shuffles for the whole
pipeline; a 100 TB ingest is scan -> map -> sink. T7/T8 are the only
two-pass steps (a column-stat aggregate gates a rewrite). ``clean_pipeline``
computes both gates in one shared gate job, whose results fold into the
plan as literals exactly like the reference's pandas pre-scan, then
applies T1-T11 + P1 as a single projection; the gate scan reads only the
gated columns.
"""

from __future__ import annotations

from datetime import date

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from ..catalog import TableSpec

NVARCHAR_MAX_LIMIT = 100_000  # ODBC 7125 workaround (reference :56)
TIMESTAMP_MAX_LEN = 23  # yyyy-MM-dd HH:mm:ss.SSS (reference :102)

# ---------------------------------------------------------------------------
# Scalar building blocks (each maps 1:1 to a reference behavior)
# ---------------------------------------------------------------------------


def derive_environment_value(environment: str) -> str:
    """T1 driver-side variant (the env is a per-file constant)."""
    return environment.split("_")[0] if len(environment) > 2 else environment


def derive_environment(col: Column) -> Column:
    """T1 as a column expression: `NL_Hosting_Mailbox` -> `NL`."""
    return F.when(F.length(col) > 2, F.split(col, "_").getItem(0)).otherwise(col)


def sentinel_replace(col: Column) -> Column:
    """T4: whole-cell replace of NaT/nan -> None and True/False -> 1/0."""
    return (
        F.when(col == "NaT", "None")
        .when(col == "nan", "None")
        .when(col == "True", "1")
        .when(col == "False", "0")
        .otherwise(col)
    )


def strip_decimal_suffix(col: Column) -> Column:
    """T6: if the value ends with ``.0`` remove ALL ``.0`` substrings
    (quirk-exact: "1.014.0" -> "114")."""
    return F.when(col.endswith(".0"), F.regexp_replace(col, r"\.0", "")).otherwise(col)


def normalize_int_string(col: Column) -> Column:
    """Idiomatic (non-quirk) integer normalization used by oracle-facing
    queries: parse to double, render as integer text, preserve sentinels.

    Chosen over the reference's float-repr pass (T7) because Java and C
    double formatting differ; the *value* semantics are identical for
    integral columns.
    """
    return F.when(
        (col.isNull()) | (col == "None"), col
    ).otherwise(col.try_cast("double").cast("long").cast("string"))


def not_nullable_scrub(col: Column) -> Column:
    """T9: default to '' and remove the SUBSTRING 'None' ("NoneSuch"->"Such")."""
    return F.regexp_replace(F.coalesce(col, F.lit("")), "None", "")


def truncate_nvarchar(col: Column, limit: int = NVARCHAR_MAX_LIMIT) -> Column:
    """T10: nvarchar(max) cap."""
    return F.substring(col, 1, limit)


def materialize_null(col: Column) -> Column:
    """T12: the literal string 'None' becomes a real NULL at the sink."""
    return F.when(col == "None", F.lit(None).cast("string")).otherwise(col)


# ---------------------------------------------------------------------------
# Steps over column expressions
#
# Each step maps the current column expressions (name -> Column, in frame
# order) to the updates it makes. ``clean_pipeline`` threads one mapping
# through every step and projects once; the frame-level functions below
# apply a single step to a DataFrame. Either way each step is written once.
# ---------------------------------------------------------------------------

Cols = dict[str, Column]


def _columns(df: DataFrame) -> Cols:
    return {c: F.col(c) for c in df.columns}


def _string_columns(df: DataFrame) -> set[str]:
    return {f_.name for f_ in df.schema.fields if f_.dataType.simpleString() == "string"}


def _apply(df: DataFrame, updates: Cols) -> DataFrame:
    return df.withColumns(updates) if updates else df


def _audit(environment: str, ingestion_date: date) -> Cols:  # T1-T3
    return {
        "Environment": F.lit(derive_environment_value(environment)),
        "CIGCopyTime": F.lit(ingestion_date.strftime("%Y-%m-%d")),
        "CIGProcessed": F.lit("0"),
    }


def _sentinels(cols: Cols, strings: set[str]) -> Cols:  # T4
    return {c: sentinel_replace(e) for c, e in cols.items() if c in strings}


def _missing(cols: Cols, table: TableSpec) -> Cols:  # T5
    return {c: F.lit("None") for c in table.column_names if c not in cols}


def _nullable_ints(cols: Cols, table: TableSpec) -> list[str]:
    return [c.name for c in table.columns_of_type("int", nullable=True) if c.name in cols]


def _decimal_suffix(cols: Cols, table: TableSpec) -> Cols:  # T6
    return {c: strip_decimal_suffix(cols[c]) for c in _nullable_ints(cols, table)}


def _sci_gate(cols: Cols, table: TableSpec) -> Cols:  # T7 gate values
    return {
        c: cols[c].contains("e-") | cols[c].contains("e+")
        for c in _nullable_ints(cols, table)
    }


def _sci_rewrite(cols: Cols, hits: dict) -> Cols:  # T7
    return {c: normalize_int_string(cols[c]) for c, hit in hits.items() if hit}


def _scrub(cols: Cols, table: TableSpec) -> Cols:  # T9
    return {
        c.name: not_nullable_scrub(cols.get(c.name, F.lit("")))
        for c in table.columns
        if not c.nullable
    }


def _length_gate(cols: Cols, names: list[str]) -> Cols:  # T8 gate values
    return {c: F.length(cols[c]) for c in names if c in cols}


def _truncate(cols: Cols, maxlens: dict, out_suffix: str = "") -> Cols:  # T8
    return {
        c + out_suffix: (
            F.substring(cols[c], 1, TIMESTAMP_MAX_LEN)
            if (n or 0) > TIMESTAMP_MAX_LEN
            else cols[c]
        )
        for c, n in maxlens.items()
    }


def _nvarchar(cols: Cols, table: TableSpec) -> Cols:  # T10
    return {
        c.name: truncate_nvarchar(cols[c.name])
        for c in table.columns
        if c.ctype == "str" and c.length is None and c.name in cols
    }


ODD_COLUMNS = {"Geolocation": "POINT (0 0)", "Logo": "None", "Picture": "None"}


def _odd(cols: Cols) -> Cols:  # T11
    return {c: F.lit(v) for c, v in ODD_COLUMNS.items() if c in cols}


def _gate(df: DataFrame, *values: Cols) -> list[dict]:
    """Column-wide ``max`` of every gate value expression over ``df``,
    computed in ONE Spark job; one result dict per ``values`` mapping.

    The aggregate is an observation on a no-op write, merged from
    per-task partials: no shuffle, so one job, where ``df.agg`` costs a
    shuffle-map job plus a result job. The scan reads only the columns
    the gate expressions name."""
    flat = [(i, c, v) for i, vs in enumerate(values) for c, v in vs.items()]
    out: list[dict] = [{} for _ in values]
    if not flat:
        return out
    obs = Observation()
    (
        df.select(*[v.alias(f"g{k}") for k, (_, _, v) in enumerate(flat)])
        .observe(obs, *[F.max(f"g{k}").alias(f"g{k}") for k in range(len(flat))])
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    got = obs.get
    for k, (i, c, _) in enumerate(flat):
        out[i][c] = got[f"g{k}"]
    return out


# ---------------------------------------------------------------------------
# Frame-level steps
# ---------------------------------------------------------------------------


def add_audit_columns(df: DataFrame, environment: str, ingestion_date: date) -> DataFrame:
    """T1+T2+T3: Environment / CIGCopyTime / CIGProcessed constants."""
    return df.withColumns(_audit(environment, ingestion_date))


def replace_sentinels(df: DataFrame) -> DataFrame:
    """T4 over every string column (the reference's frame-wide replace).

    One ``withColumns`` projection, NOT a per-column ``withColumn`` loop:
    chained withColumn stacks one Project node per column, and analyzing
    427 stacked projections of 427 fields is quadratic in width — the
    difference between milliseconds and minutes of planning on the
    DivisionStatistics-shaped tables."""
    return _apply(df, _sentinels(_columns(df), _string_columns(df)))


def default_missing_columns(df: DataFrame, table: TableSpec) -> DataFrame:
    """T5: reflected target columns absent from the frame appear as 'None'."""
    return _apply(df, _missing(_columns(df), table))


def normalize_nullable_ints(df: DataFrame, table: TableSpec) -> DataFrame:
    """T6 for every nullable int column."""
    return _apply(df, _decimal_suffix(_columns(df), table))


def normalize_sci_notation(df: DataFrame, table: TableSpec) -> DataFrame:
    """T7: gated per column on 'any value contains e-/e+' (A4), then the
    whole column is passed through float parsing.

    The gate is computed in ONE job over all candidate columns (the
    reference does a pandas pre-scan per column); the rewrite itself is
    `normalize_int_string` — see its docstring for the documented
    deviation from Python float repr.
    """
    cols = _columns(df)
    (hits,) = _gate(df, _sci_gate(cols, table))
    return _apply(df, _sci_rewrite(cols, hits))


def scrub_not_nullable(df: DataFrame, table: TableSpec) -> DataFrame:
    """T9 for every non-nullable target column (creates missing ones as '')."""
    return _apply(df, _scrub(_columns(df), table))


def truncate_long_timestamps(
    df: DataFrame, cols: list[str], out_suffix: str = ""
) -> DataFrame:
    """T8: per column, truncate to 23 chars iff the column-wide max string
    length exceeds 23. One job computes every gate at once; its result
    folds into the projection as constants (no unpartitioned window at
    scale)."""
    exprs = _columns(df)
    (maxlens,) = _gate(df, _length_gate(exprs, cols))
    return _apply(df, _truncate(exprs, maxlens, out_suffix))


def truncate_timestamps_for_table(df: DataFrame, table: TableSpec) -> DataFrame:
    return truncate_long_timestamps(df, [c.name for c in table.columns_of_type("datetime")])


def truncate_nvarchar_max(df: DataFrame, table: TableSpec) -> DataFrame:
    """T10 for str columns with no declared length."""
    return _apply(df, _nvarchar(_columns(df), table))


def neutralize_odd_columns(df: DataFrame) -> DataFrame:
    """T11: geography/binary columns pinned to constants (reference :120-128)."""
    return _apply(df, _odd(_columns(df)))


def ordered_projection(df: DataFrame, table: TableSpec) -> DataFrame:
    """P1: exactly the configured columns, in configured order."""
    return df.select(*table.column_names)


def materialize_nulls(df: DataFrame) -> DataFrame:
    """T12 over every string column, applied just before the sink."""
    updates = {
        f_.name: materialize_null(F.col(f_.name))
        for f_ in df.schema.fields
        if f_.dataType.simpleString() == "string"
    }
    return df.withColumns(updates) if updates else df


def clean_pipeline(
    df: DataFrame, table: TableSpec, environment: str, ingestion_date: date
) -> DataFrame:
    """T1-T11 and the ordered projection (P1) as ONE projection over
    ``df``, with both column gates (T7, T8) computed in one job. T12 is
    applied separately by the sink.

    Every step updates the column expressions in the reference's call
    order (`CigEolHostingIngestionLogic.py:32-41`) but one: T9 is
    composed before T7's rewrite, so both gates can be read at once.
    That changes no value. T7 rewrites only nullable int columns and T9
    only not-nullable ones, so neither step reads the other's output;
    the T7 gate reads the T6 values and the T8 gate the T9-scrubbed
    values, exactly as in the reference order."""
    audit = _audit(environment, ingestion_date)
    cols = {**_columns(df), **audit}  # T1-T3
    cols.update(_sentinels(cols, _string_columns(df) | audit.keys()))  # T4
    cols.update(_missing(cols, table))  # T5
    cols.update(_decimal_suffix(cols, table))  # T6
    cols.update(_scrub(cols, table))  # T9
    datetimes = [c.name for c in table.columns_of_type("datetime")]
    hits, maxlens = _gate(df, _sci_gate(cols, table), _length_gate(cols, datetimes))
    cols.update(_sci_rewrite(cols, hits))  # T7
    cols.update(_truncate(cols, maxlens))  # T8
    cols.update(_nvarchar(cols, table))  # T10
    cols.update(_odd(cols))  # T11
    return df.select(*[cols[c].alias(c) for c in table.column_names])  # P1
