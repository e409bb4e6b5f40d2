"""Unit tests for the T1-T12 cleaning pipeline — cell-exact parity with the
reference's quirks (FIXTURES.md F7, `CigEolHostingIngestionLogic.py`)."""

from __future__ import annotations

import datetime as dt
import uuid

import pytest
from pyspark.sql import functions as F

from cig_etl_s3_to_sql_data_ingestor_spark.catalog import ColumnSpec, TableSpec
from cig_etl_s3_to_sql_data_ingestor_spark.operators import transforms as TR


def one_col(spark, values, name="v"):
    return spark.createDataFrame([(v,) for v in values], f"{name} string")


def vals(df, name="v"):
    return [r[0] for r in df.select(name).collect()]


def test_t1_environment_derivation():
    assert TR.derive_environment_value("NL_Hosting_Mailbox") == "NL"
    assert TR.derive_environment_value("NL") == "NL"
    assert TR.derive_environment_value("UAT") == "UAT"  # no '_', len>2 → split no-op


def test_t4_sentinel_whole_cell_only(spark):
    df = one_col(spark, ["NaT", "nan", "NaTali", "nanarnia", "True", "False", "x"])
    out = vals(df.select(TR.sentinel_replace(F.col("v")).alias("v")))
    assert out == ["None", "None", "NaTali", "nanarnia", "1", "0", "x"]


def test_t6_decimal_strip_quirks(spark):
    df = one_col(spark, ["123.0", "1.014.0", "5", "x.0y", "7.07"])
    out = vals(df.select(TR.strip_decimal_suffix(F.col("v")).alias("v")))
    # endswith('.0') → remove ALL '.0' substrings (reference :70-73)
    assert out == ["123", "114", "5", "x.0y", "7.07"]


def test_t9_substring_replace_quirk(spark):
    df = one_col(spark, ["NoneSuch", "abc", None, "None"])
    out = vals(df.select(TR.not_nullable_scrub(F.col("v")).alias("v")))
    assert out == ["Such", "abc", "", ""]


def test_t10_nvarchar_cap(spark):
    long = "a" * 100_001
    df = one_col(spark, [long, "short"])
    out = vals(df.select(TR.truncate_nvarchar(F.col("v")).alias("v")))
    assert [len(out[0]), out[1]] == [100_000, "short"]


def test_t12_null_materialization(spark):
    df = one_col(spark, ["None", "NoneSuch", "x"])
    out = vals(df.select(TR.materialize_null(F.col("v")).alias("v")))
    assert out == [None, "NoneSuch", "x"]


def test_t8_gate_applies_only_when_too_long(spark):
    over = one_col(spark, ["2019-07-03 12:34:56.1234567", "2019-07-03 12:34:56"])
    out = vals(TR.truncate_long_timestamps(over, ["v"]))
    assert out == ["2019-07-03 12:34:56.123", "2019-07-03 12:34:56"]
    under = one_col(spark, ["2019-07-03 12:34:56.123", "2019-07-03"])
    assert vals(TR.truncate_long_timestamps(under, ["v"])) == [
        "2019-07-03 12:34:56.123",
        "2019-07-03",
    ]


def test_t7_sci_notation_gate(spark):
    spec = TableSpec(
        "T",
        "t",
        columns=(ColumnSpec("a", "int", True), ColumnSpec("b", "int", True)),
    )
    df = spark.createDataFrame(
        [("1.801439850948301e+16", "12"), ("None", "34")], "a string, b string"
    )
    out = TR.normalize_sci_notation(df, spec)
    rows = {tuple(r) for r in out.collect()}
    # column a gated in (sci value present) → integer-text normalize;
    # column b untouched (no e+/e- anywhere)
    assert rows == {("18014398509483008", "12"), ("None", "34")}


BANKLINKS = TableSpec(
    target_name="HOST_CIG_BankLinks",
    source="BankLinks",
    columns=(
        ColumnSpec("ID", "str", True),
        ColumnSpec("Bank", "str", False),
        ColumnSpec("Active", "str", True),
        ColumnSpec("Division", "int", True),
        ColumnSpec("PlaidAccessToken", "str", True, length=None),
        ColumnSpec("syscreated", "datetime", True),
        ColumnSpec("Geolocation", "str", True),
        ColumnSpec("MissingCol", "str", True),
        ColumnSpec("Environment", "str", True),
        ColumnSpec("CIGCopyTime", "str", True),
        ColumnSpec("CIGProcessed", "str", True),
    ),
)


def test_clean_pipeline_end_to_end(spark):
    df = spark.createDataFrame(
        [
            ("id1", "ING", "True", "12.0", "tok" * 50_000, "2019-07-03 12:34:56.1234567", "POINT (1 2)"),
            ("nan", "RABO", "False", "1.014.0", "t", "2019-07-03 12:34:56", "NaT"),
        ],
        "ID string, Bank string, Active string, Division string,"
        " PlaidAccessToken string, syscreated string, Geolocation string",
    )
    out = TR.clean_pipeline(
        df, BANKLINKS, "NL_Hosting_Mailbox", dt.date(2024, 1, 5)
    )
    assert out.columns == list(BANKLINKS.column_names)  # P1 order contract
    rows = [r.asDict() for r in out.orderBy("Bank").collect()]
    ing, rabo = rows[0], rows[1]
    assert ing["Environment"] == "NL" and ing["CIGCopyTime"] == "2024-01-05"
    assert ing["CIGProcessed"] == "0"
    assert ing["Active"] == "1" and rabo["Active"] == "0"
    assert ing["Division"] == "12" and rabo["Division"] == "114"  # T6 quirk
    assert len(ing["PlaidAccessToken"]) == 100_000  # T10
    assert ing["syscreated"] == "2019-07-03 12:34:56.123"  # T8 (column gated)
    assert rabo["syscreated"] == "2019-07-03 12:34:56"
    assert ing["Geolocation"] == "POINT (0 0)" == rabo["Geolocation"]  # T11
    assert ing["MissingCol"] == "None" and rabo["MissingCol"] == "None"  # T5
    assert rabo["ID"] == "None"  # T4 whole-cell
    # T12 at the sink boundary
    final = TR.materialize_nulls(out)
    rabo_final = final.filter(F.col("Bank") == "RABO").first()
    assert rabo_final["ID"] is None and rabo_final["MissingCol"] is None


def stepwise_clean(df, table, environment, ingestion_date):
    """The pipeline as the public steps composed in the reference's call
    order (`CigEolHostingIngestionLogic.py:32-41`): the reference the
    fused ``clean_pipeline`` must equal."""
    df = TR.add_audit_columns(df, environment, ingestion_date)  # T1-T3
    df = TR.replace_sentinels(df)  # T4
    df = TR.default_missing_columns(df, table)  # T5
    df = TR.normalize_nullable_ints(df, table)  # T6
    df = TR.normalize_sci_notation(df, table)  # T7
    df = TR.scrub_not_nullable(df, table)  # T9
    df = TR.truncate_timestamps_for_table(df, table)  # T8
    df = TR.truncate_nvarchar_max(df, table)  # T10
    df = TR.neutralize_odd_columns(df)  # T11
    return TR.ordered_projection(df, table)  # P1


def count_jobs(spark, fn):
    """(fn(), number of Spark jobs fn started)."""
    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def assert_same_frame(got, want):
    assert got.schema == want.schema
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()


EVERY_STEP = TableSpec(
    target_name="HOST_CIG_EveryStep",
    source="EveryStep",
    columns=(
        ColumnSpec("ID", "str", True),
        ColumnSpec("Name", "str", False),
        ColumnSpec("Active", "str", True),
        ColumnSpec("SciHit", "int", True),  # T7 gate fires
        ColumnSpec("SciMiss", "int", True),  # T7 gate stays off
        ColumnSpec("Count", "int", False),
        ColumnSpec("LongTs", "datetime", True),  # T8 over 23 chars
        ColumnSpec("ShortTs", "datetime", True),  # T8 under 23 chars
        ColumnSpec("StampNone", "datetime", False),  # 'None' substrings, T9 then T8
        ColumnSpec("Notes", "str", True, length=None),  # T10
        ColumnSpec("Geolocation", "str", True),  # T11
        ColumnSpec("Logo", "str", True),  # T11
        ColumnSpec("MissingOpt", "str", True),  # T5
        ColumnSpec("MissingReq", "datetime", False),  # T5 then T9
        ColumnSpec("Environment", "str", True),
        ColumnSpec("CIGCopyTime", "str", True),
        ColumnSpec("CIGProcessed", "str", True),
    ),
)


def every_step_frame(spark):
    cols = [
        "ID", "Name", "Active", "SciHit", "SciMiss", "Count", "LongTs", "ShortTs",
        "StampNone", "Notes", "Geolocation", "Logo", "Extra",
    ]
    rows = [
        ("id1", "NoneSuch", "True", "1.801439850948301e+16", "12.0", "7.0",
         "2019-07-03 12:34:56.1234567", "2019-07-03", "2019-07-03 12:34:56.123None",
         "n" * 100_010, "POINT (1 2)", "0xFF", "dropped"),
        ("nan", None, "False", "12.0", "1.014.0", None,
         "2019-07-03 12:34:56", "2019-07-03 12:34", "NoneNone2019-07-03 12:34:56.1",
         "short", "NaT", None, "x"),
        ("NaT", "Bank", "x", "None", "abc", "3",
         None, None, None, "None", "nan", "y", None),
    ]
    return spark.createDataFrame(rows, ", ".join(f"{c} string" for c in cols))


def test_clean_pipeline_fused_equals_stepwise(spark):
    df = every_step_frame(spark)
    args = (EVERY_STEP, "NL_Hosting_Mailbox", dt.date(2024, 1, 5))
    fused, jobs = count_jobs(spark, lambda: TR.clean_pipeline(df, *args))
    # Both column gates (T7, T8) share one job; the rest is one projection.
    assert jobs == 1
    assert_same_frame(fused, stepwise_clean(df, *args))
    first, second = (r for r in fused.orderBy("Active").collect() if r["Active"] != "x")
    assert (second["Active"], first["Active"]) == ("1", "0")  # T4
    assert second["SciHit"] == "18014398509483008"  # T7 hit
    assert first["SciMiss"] == "114"  # T7 miss keeps the T6 quirk
    assert second["LongTs"] == "2019-07-03 12:34:56.123"  # T8 over
    assert second["ShortTs"] == "2019-07-03"  # T8 under
    assert second["StampNone"] == "2019-07-03 12:34:56.123"  # T9 then T8
    assert second["MissingReq"] == "" and second["MissingOpt"] == "None"  # T5, T9


def test_t9_not_nullable_created_as_empty(spark):
    spec = TableSpec(
        "T", "t", columns=(ColumnSpec("Req", "str", False), ColumnSpec("Opt", "str", True))
    )
    df = spark.createDataFrame([("x",)], "Opt string")
    out = TR.scrub_not_nullable(df, spec)
    assert out.select("Req").first()[0] == ""


def test_connected_components_chain_and_triangle(spark):
    from cig_etl_s3_to_sql_data_ingestor_spark.operators.dedup import (
        connected_components,
    )

    # Components: chain 1-2-3-4 (min 1), triangle 10-11-12 (min 10),
    # pair 20-21 (min 20).
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "id_a long, id_b long",
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}
