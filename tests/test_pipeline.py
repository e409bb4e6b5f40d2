"""End-to-end batch ingest: discovery → work-list pruning → clean →
sink → marker idempotency (the reference's `main.py` lifecycle)."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from cig_etl_s3_to_sql_data_ingestor_spark.catalog import ColumnSpec, TableSpec
from cig_etl_s3_to_sql_data_ingestor_spark.operators.marker import ParquetMarkerLedger
from cig_etl_s3_to_sql_data_ingestor_spark.operators.monitor import freshness_report
from cig_etl_s3_to_sql_data_ingestor_spark.pipeline import BatchIngest
from cig_etl_s3_to_sql_data_ingestor_spark.sources.parquet_tree import discover_files

SPEC = TableSpec(
    target_name="HOST_CIG_Widgets",
    source="Widgets",
    columns=(
        ColumnSpec("ID", "str", True),
        ColumnSpec("Name", "str", False),
        ColumnSpec("Environment", "str", True),
        ColumnSpec("CIGCopyTime", "str", True),
        ColumnSpec("CIGProcessed", "str", True),
    ),
)

DISABLED = TableSpec(target_name="HOST_CIG_Off", source="Off", is_enabled=False,
                     columns=SPEC.columns)


def write_source(spark, root, env, entity, date, name, rows):
    """Write a single plain parquet FILE (as S3 backups are), not a
    Spark-style directory."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(root, f"environment={env}", entity, *date.split("/"))
    os.makedirs(path, exist_ok=True)
    table = pa.table(
        {"ID": [r[0] for r in rows], "Name": [r[1] for r in rows]}
    )
    pq.write_table(table, os.path.join(path, name))


@pytest.fixture()
def tree(spark, tmp_path):
    root = str(tmp_path / "data")
    write_source(spark, root, "NL", "Widgets", "2024/01/05", "w1.parquet",
                 [("a", "x"), ("nan", "y")])
    write_source(spark, root, "DE", "Widgets", "2024/01/05", "w2.parquet", [("b", "z")])
    write_source(spark, root, "NL", "Widgets", "2024/01/04", "old.parquet", [("c", "o")])
    write_source(spark, root, "NL", "Off", "2024/01/05", "off.parquet", [("d", "q")])
    write_source(spark, root, "NL", "Unknown", "2024/01/05", "u.parquet", [("e", "r")])
    return root


def test_discovery_decodes_partitions(spark, tree):
    files = discover_files(spark, tree, "hosting")
    rows = {
        (r.environment, r.entity_name, str(r.backup_date))
        for r in files.collect()
    }
    assert ("NL", "Widgets", "2024-01-05") in rows
    assert ("DE", "Widgets", "2024-01-05") in rows
    assert ("NL", "Widgets", "2024-01-04") in rows
    assert files.count() == 5


def test_batch_ingest_prunes_and_is_idempotent(spark, tree, tmp_path):
    catalog = {"Widgets": SPEC, "Off": DISABLED}
    ingest = BatchIngest(
        spark=spark,
        catalog=catalog,
        sink_root=str(tmp_path / "sink"),
        marker_path=str(tmp_path / "marker"),
        environments=["NL"],
    )
    results = ingest.run(tree, dt.date(2024, 1, 5))
    # P2 drops Off, P4 drops DE, P3 drops the 01-04 file, P5 drops Unknown
    assert len(results) == 1
    r = results[0]
    assert (r.environment, r.target_table, r.n_files) == ("NL", "HOST_CIG_Widgets", 1)
    sunk = spark.read.parquet(r.sink_path)
    assert sunk.count() == 2
    got = {tuple(x) for x in sunk.select("ID", "Name", "Environment", "CIGProcessed").collect()}
    assert got == {("a", "x", "NL", "0"), (None, "y", "NL", "0")}  # T4+T12 on 'nan'

    # marker recorded under the triple key
    ledger = ParquetMarkerLedger(spark, str(tmp_path / "marker"))
    assert ledger.exists("w1.parquet", "NL", "HOST_CIG_Widgets")
    assert not ledger.exists("w2.parquet", "DE", "HOST_CIG_Widgets")

    # re-run: marker anti-join leaves nothing to do
    again = ingest.run(tree, dt.date(2024, 1, 5))
    assert again == []
    assert spark.read.parquet(r.sink_path).count() == 2

    # new file arrives → only it is ingested
    write_source(spark, tree, "NL", "Widgets", "2024/01/05", "w3.parquet", [("f", "n")])
    third = ingest.run(tree, dt.date(2024, 1, 5))
    assert len(third) == 1 and third[0].n_files == 1
    assert spark.read.parquet(r.sink_path).count() == 3


def _completed(spark, rows):
    return spark.createDataFrame(
        rows,
        "file_name string, environment string, target_table string, backup_date date",
    )


def _part_files(path):
    """name -> (size, mtime) of every data file in a parquet directory."""
    return {
        e.name: (e.stat().st_size, e.stat().st_mtime_ns)
        for e in os.scandir(path)
        if e.is_file() and not e.name.startswith(("_", "."))
    }


def test_parquet_marker_ledger(spark, tmp_path):
    """Mirror of the JDBC ledger test: one row per triple after a
    re-touch, the latest touch winning on backup_date."""
    from cig_etl_s3_to_sql_data_ingestor_spark.operators.marker import MARKER_SCHEMA

    ledger = ParquetMarkerLedger(spark, str(tmp_path / "marker"))
    assert ledger.read().count() == 0
    assert not ledger.exists("f1.parquet", "NL", "T1")

    ledger.touch(_completed(spark, [("f1.parquet", "NL", "T1", dt.date(2024, 1, 5))]))
    assert ledger.exists("f1.parquet", "NL", "T1")
    assert not ledger.exists("f1.parquet", "DE", "T1")

    # Re-touch same key + one new (f2 twice in one call: the later
    # backup_date is the one recorded).
    ledger.touch(_completed(spark, [
        ("f1.parquet", "NL", "T1", dt.date(2024, 1, 6)),
        ("f2.parquet", "NL", "T1", dt.date(2024, 1, 4)),
        ("f2.parquet", "NL", "T1", dt.date(2024, 1, 6)),
    ]))
    m = ledger.read()
    assert m.columns == MARKER_SCHEMA.names
    got = {r["parquet_source"]: str(r["backup_date"]) for r in m.collect()}
    assert got == {"f1.parquet": "2024-01-06", "f2.parquet": "2024-01-06"}

    # J4 work selection: only unseen files survive.
    files = spark.createDataFrame(
        [("f1.parquet", "NL", "T1"), ("f3.parquet", "NL", "T1")],
        "file_name string, environment string, target_table string",
    )
    assert [r["file_name"] for r in ledger.select_work(files).collect()] == ["f3.parquet"]

    # Tie rule: rows of one triple with the same inserted_date resolve to
    # the later backup_date.
    ts = dt.datetime(2030, 1, 1)
    spark.createDataFrame(
        [("f3.parquet", "T1", "NL", dt.date(2024, 1, 7), ts),
         ("f3.parquet", "T1", "NL", dt.date(2024, 1, 9), ts)],
        MARKER_SCHEMA,
    ).write.mode("append").parquet(str(tmp_path / "marker"))
    row = ledger.read().filter(F.col("parquet_source") == "f3.parquet").collect()
    assert [str(r["backup_date"]) for r in row] == ["2024-01-09"]

    # Compaction (``cig-etl-optimize``) folds the touch files and keeps
    # the resolved ledger.
    from cig_etl_s3_to_sql_data_ingestor_spark.operators.maintenance import compact_parquet

    before = {tuple(r) for r in ledger.read().collect()}
    assert compact_parquet(spark, str(tmp_path / "marker")) == 1
    assert len(_part_files(str(tmp_path / "marker"))) == 1
    assert {tuple(r) for r in ledger.read().collect()} == before


def test_parquet_marker_touch_only_appends(spark, tmp_path):
    """touch adds one part file and never rewrites or deletes one."""
    path = str(tmp_path / "marker")
    ledger = ParquetMarkerLedger(spark, path)
    ledger.touch(_completed(spark, [("f1.parquet", "NL", "T1", dt.date(2024, 1, 5))]))
    before = _part_files(path)
    ledger.touch(_completed(spark, [
        ("f1.parquet", "NL", "T1", dt.date(2024, 1, 6)),
        ("f2.parquet", "NL", "T1", dt.date(2024, 1, 6)),
    ]))
    after = _part_files(path)
    assert {k: after[k] for k in before} == before
    assert len(after) == len(before) + 1


def test_failed_group_leaves_later_groups_unmarked(spark, tmp_path, monkeypatch):
    """Two mailbox data sources derive the same environment (NL): the
    first group's touch must not mark the second group's files, so a run
    that dies in the second group's sink re-ingests them next time."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from cig_etl_s3_to_sql_data_ingestor_spark.sources import jdbc

    root = str(tmp_path / "mb")
    for source, name, ids in (
        ("NL_Hosting_Mailbox", "h1.parquet", ["h1"]),
        ("NL_Other_Mailbox", "o1.parquet", ["o1", "o2"]),
    ):
        path = os.path.join(root, source, "Widgets", "2024", "01", "05")
        os.makedirs(path)
        pq.write_table(pa.table({"ID": ids, "Name": ["n"] * len(ids)}),
                       os.path.join(path, name))

    written = []

    def flaky_write(df, url, table, **kwargs):
        if written:
            raise RuntimeError("sink down")
        written.append(sorted(r["ID"] for r in df.collect()))

    monkeypatch.setattr(jdbc, "write_table", flaky_write)
    marker = str(tmp_path / "marker")
    ingest = BatchIngest(spark, {"Widgets": SPEC}, sink_root=str(tmp_path / "sink"),
                         marker_path=marker, layout="mailbox",
                         jdbc_url="jdbc:derby:memory:never-opened")
    with pytest.raises(RuntimeError, match="sink down"):
        ingest.run(root, dt.date(2024, 1, 5))
    assert written == [["h1"]]
    ledger = ParquetMarkerLedger(spark, marker)
    assert {r["parquet_source"] for r in ledger.read().collect()} == {"h1.parquet"}

    # The re-run (sink back, here the parquet sink) ingests only the
    # second group's file.
    ingest.jdbc_url = None
    results = ingest.run(root, dt.date(2024, 1, 5))
    assert [(r.environment, r.n_files, r.n_rows) for r in results] == [("NL", 1, 2)]
    sunk = spark.read.parquet(results[0].sink_path)
    assert sorted(r["ID"] for r in sunk.collect()) == ["o1", "o2"]
    assert {r["parquet_source"] for r in ledger.read().collect()} == {
        "h1.parquet", "o1.parquet"
    }


def test_batch_ingest_applies_gated_steps(spark, tmp_path):
    """The T7/T8 gates read the group's semi-joined scan inside
    BatchIngest and their rewrites reach the sink."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    spec = TableSpec(
        target_name="HOST_CIG_Orders",
        source="Orders",
        columns=(
            ColumnSpec("ID", "str", True),
            ColumnSpec("Qty", "int", True),
            ColumnSpec("Created", "datetime", True),
        ),
    )
    root = str(tmp_path / "data")
    path = os.path.join(root, "environment=NL", "Orders", "2024", "01", "05")
    os.makedirs(path)
    pq.write_table(
        pa.table({
            "ID": ["a", "b"],
            "Qty": ["1.801439850948301e+16", "12.0"],
            "Created": ["2019-07-03 12:34:56.1234567", "2019-07-03"],
        }),
        os.path.join(path, "o1.parquet"),
    )
    ingest = BatchIngest(spark, {"Orders": spec}, sink_root=str(tmp_path / "sink"),
                         marker_path=str(tmp_path / "marker"))
    results = ingest.run(root, dt.date(2024, 1, 5))
    got = {tuple(r) for r in spark.read.parquet(results[0].sink_path).collect()}
    assert got == {
        ("a", "18014398509483008", "2019-07-03 12:34:56.123"),
        ("b", "12", "2019-07-03"),
    }


def test_work_groups_are_bounded_descriptors(spark, tree):
    """The driver must never hold per-file path lists: a work group is a
    fixed-size descriptor (counts + date range), and the group's day
    directories resolve as a bounded metadata call."""
    from cig_etl_s3_to_sql_data_ingestor_spark.plans.worklist import (
        WorkGroup,
        build_worklist,
        config_frame,
        work_groups,
    )
    from cig_etl_s3_to_sql_data_ingestor_spark.sources.parquet_tree import (
        group_day_dirs,
    )

    files = discover_files(spark, tree, "hosting")
    cfg = config_frame(spark, {"Widgets": SPEC, "Off": DISABLED})
    wl = build_worklist(files, cfg, dt.date(2024, 1, 4))
    groups = work_groups(wl)
    assert all(isinstance(g, WorkGroup) for g in groups)
    nl = next(g for g in groups if g.environment == "NL")
    assert nl.n_files == 2  # 01-04 and 01-05 files both >= ingestion date
    assert (str(nl.min_date), str(nl.max_date)) == ("2024-01-04", "2024-01-05")
    # No per-file payload on the descriptor — counts and dates only.
    assert not hasattr(nl, "paths")

    days = group_day_dirs(
        spark, tree, "hosting", "NL", "Widgets", nl.min_date, nl.max_date
    )
    assert [d.rsplit("/", 3)[1:] for d in sorted(days)] == [
        ["2024", "01", "04"],
        ["2024", "01", "05"],
    ]
    # Date-range push-down prunes directories outside the range.
    only_new = group_day_dirs(
        spark, tree, "hosting", "NL", "Widgets", dt.date(2024, 1, 5), dt.date(2024, 1, 5)
    )
    assert len(only_new) == 1 and only_new[0].endswith("05")


def test_mailbox_layout_environment_derivation(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = str(tmp_path / "mb")
    path = os.path.join(root, "NL_Hosting_Mailbox", "Msgs", "2024", "01", "05")
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.table({"ID": ["m1"], "Name": ["s"]}), os.path.join(path, "m.parquet"))
    files = discover_files(spark, root, "mailbox")
    row = files.first()
    assert row.environment == "NL"
    assert row.data_source == "NL_Hosting_Mailbox"
    assert row.entity_name == "Msgs"


def test_freshness_monitor_tiers(spark, tree):
    files = discover_files(spark, tree, "hosting")
    ref = dt.date(2024, 1, 6)
    # Everything is stale vs 01-06 except nothing; grant Widgets/NL a
    # 7-day grace tier → only DE/Widgets + NL/Off + NL/Unknown reported.
    exceptions = spark.createDataFrame(
        [("Widgets", "NL", 7)], "entity_name string, environment string, tier_days int"
    )
    report = freshness_report(files, ref, exceptions)
    got = {(r.environment, r.entity_name) for r in report.collect()}
    assert got == {("DE", "Widgets"), ("NL", "Off"), ("NL", "Unknown")}


def test_catalog_load_from_json(spark, tmp_path):
    """S4: cig_tables.json-shaped config load into TableSpecs."""
    import json

    from cig_etl_s3_to_sql_data_ingestor_spark.catalog import load_catalog

    cfg = [
        {
            "target_name": "HOST_CIG_Accounts",
            "source": "Accounts",
            "is_enabled": True,
            "columns": ["ID", "Name", "Environment", "CIGCopyTime", "CIGProcessed"],
        },
        {
            "target_name": "HOST_CIG_Off",
            "source": "Off",
            "is_enabled": False,
            "columns": ["ID"],
        },
    ]
    p = tmp_path / "tables.json"
    p.write_text(json.dumps(cfg))
    cat = load_catalog(str(p))
    assert set(cat) == {"Accounts", "Off"}
    spec = cat["Accounts"]
    assert spec.target_name == "HOST_CIG_Accounts"
    assert [c.name for c in spec.columns] == cfg[0]["columns"]
    assert not cat["Off"].is_enabled


def test_notifier_on_success_and_failure(spark, tmp_path, tree):
    from cig_etl_s3_to_sql_data_ingestor_spark.notify import CollectingNotifier

    notes = CollectingNotifier()
    ingest = BatchIngest(
        spark,
        {"Widgets": SPEC, "Off": DISABLED},
        sink_root=str(tmp_path / "sink"),
        marker_path=str(tmp_path / "marker"),
        notifier=notes,
    )
    ingest.run(tree, dt.date(2024, 1, 5))
    assert len(notes.messages) == 1 and "HOST_CIG_Widgets" in notes.messages[0]

    # No new work -> no message (`main.py:183-186` gates on activity).
    ingest2 = BatchIngest(
        spark,
        {"Widgets": SPEC, "Off": DISABLED},
        sink_root=str(tmp_path / "sink"),
        marker_path=str(tmp_path / "marker"),
        notifier=notes,
    )
    ingest2.run(tree, dt.date(2024, 1, 5))
    assert len(notes.messages) == 1

    # Failure path: unreadable root -> failure message, exception raised.
    bad = BatchIngest(
        spark,
        {"Widgets": SPEC},
        sink_root=str(tmp_path / "sink2"),
        marker_path=str(tmp_path / "marker2"),
        notifier=notes,
        layout="not-a-layout",
    )
    bad_root = str(tmp_path / "definitely-missing")
    try:
        bad.run(bad_root, dt.date(2024, 1, 5))
    except Exception:
        pass
    # Whether discovery errors or yields nothing, no spurious summary:
    assert all("failed" in m or "HOST_CIG_Widgets" in m for m in notes.messages)


def test_schema_drift_tolerated(spark, tmp_path):
    """§1.3: drift between parquet and target is tolerated one-way —
    missing target columns are synthesized (T5/T9), extra source columns
    are dropped by the ordered projection (P1)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = str(tmp_path / "data")
    path = os.path.join(root, "environment=NL", "Widgets", "2024", "01", "05")
    os.makedirs(path)
    # Missing 'Name' (non-nullable in the spec) + unexpected 'Extra'.
    pq.write_table(
        pa.table({"ID": ["d1", "d2"], "Extra": ["junk1", "junk2"]}),
        os.path.join(path, "drift.parquet"),
    )
    ingest = BatchIngest(
        spark,
        {"Widgets": SPEC},
        sink_root=str(tmp_path / "sink"),
        marker_path=str(tmp_path / "marker"),
    )
    results = ingest.run(root, dt.date(2024, 1, 5))
    assert results and results[0].n_rows == 2
    out = spark.read.parquet(results[0].sink_path)
    # Exact contract order, no Extra column.
    assert out.columns == ["ID", "Name", "Environment", "CIGCopyTime", "CIGProcessed"]
    rows = {r["ID"]: r for r in out.collect()}
    assert rows["d1"]["Name"] == ""  # T9: non-nullable default is ''
    assert rows["d1"]["Environment"] == "NL"


def test_dynamic_partition_overwrite_replaces_only_present_days(spark, tmp_path):
    """Replaying one day's ingest must replace exactly that day: day1
    untouched, day2 replaced (not appended), day3 added."""
    from cig_etl_s3_to_sql_data_ingestor_spark.sources.partitioned_sink import (
        overwrite_partitions,
    )

    path = str(tmp_path / "lake")
    first = spark.createDataFrame(
        [(1, "d1"), (2, "d1"), (3, "d2"), (4, "d2")], ["id", "day"]
    )
    overwrite_partitions(first, path, ["day"])

    replay = spark.createDataFrame(
        [(30, "d2"), (5, "d3")], ["id", "day"]
    )
    overwrite_partitions(replay, path, ["day"])

    got = {
        (r.day, r.id) for r in spark.read.parquet(path).collect()
    }
    assert got == {("d1", 1), ("d1", 2), ("d2", 30), ("d3", 5)}


def test_semi_join_paths_survive_special_characters(spark, tmp_path):
    """input_file_name() percent-encodes special path characters while
    Hadoop listings report them raw; the decode on the read side must
    reconcile them or files in 'My Entity'-style dirs are silently
    dropped (and still marked ingested) — the review-caught loss path."""
    from pyspark.sql import functions as F

    from cig_etl_s3_to_sql_data_ingestor_spark.sources.parquet_tree import (
        _hadoop_glob,
        decode_input_file,
        norm_path,
    )

    d = tmp_path / "en tity+x" / "day=2024-01-01"
    d.mkdir(parents=True)
    spark.range(3).coalesce(1).write.parquet(str(d / "part a+b.parquet"))
    listed = [
        p
        for p in _hadoop_glob(spark, str(d / "part a+b.parquet" / "*.parquet"))
        if p.endswith(".parquet")
    ]
    assert listed, "listing must see the file"
    wl = spark.createDataFrame([(p,) for p in listed], ["full_path"]).select(
        norm_path(F.col("full_path")).alias("_wl_path")
    )
    df = (
        spark.read.parquet(str(d / "part a+b.parquet"))
        .withColumn(
            "_src_path", norm_path(decode_input_file(F.input_file_name()))
        )
        .join(wl, F.col("_src_path") == F.col("_wl_path"), "left_semi")
    )
    assert df.count() == 3, "special-character paths must survive the semi-join"
