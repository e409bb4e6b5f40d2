"""Per-layer metrics of a traced run.

``install`` wraps the public functions each layer of the package
exposes (the calls ``BatchIngest``, the corpus publisher and the search
stores make) with tracer spans named ``<layer>.<function>``; ``metrics``
folds the finished spans into the per-layer metrics named in
BENCHMARK.json. Sums are per traced cycle. Every metric is reported on
every workload: a layer the workload never calls reads 0.

Lazy Spark operators return a plan, so their spans time plan
construction; the execution they describe shows up as the self time of
the span that forces it, and in that span's executor counters.
"""

from __future__ import annotations

import os
import statistics
import time

from cig_etl_s3_to_sql_data_ingestor_spark import pipeline as P
from cig_etl_s3_to_sql_data_ingestor_spark.operators import corpus_prep as CP
from cig_etl_s3_to_sql_data_ingestor_spark.operators import dedup as DD
from cig_etl_s3_to_sql_data_ingestor_spark.operators import marker as M
from cig_etl_s3_to_sql_data_ingestor_spark.operators import text as TX
from cig_etl_s3_to_sql_data_ingestor_spark.operators import transforms as TR
from cig_etl_s3_to_sql_data_ingestor_spark.plans import corpus_pipeline as CPL
from cig_etl_s3_to_sql_data_ingestor_spark.sources import jdbc as J
from cig_etl_s3_to_sql_data_ingestor_spark.sources import manifest_sink as MS
from cig_etl_s3_to_sql_data_ingestor_spark.streaming import bm25_ingest as B
from cig_etl_s3_to_sql_data_ingestor_spark.streaming import hybrid_search as H
from cig_etl_s3_to_sql_data_ingestor_spark.streaming import vector_ingest as V

from tracer import COUNTERS

# Layers whose executor counters are reported (outermost span per layer).
COUNTER_LAYERS = (
    "pipeline", "parquet_tree", "worklist", "marker", "transforms", "jdbc",
    "corpus", "dedup", "text", "corpus_prep", "manifest_sink",
    "bm25_store", "vector_store", "hybrid",
)

# name -> unit, in report order.
LAYER_METRICS = {
    "parquet_tree.discover_s": "s",
    "parquet_tree.files_listed": "count",
    "parquet_tree.day_dirs_s": "s",
    "worklist.build_s": "s",
    "worklist.files_selected": "count",
    "worklist.selected_ratio": "ratio",
    "worklist.groups": "count",
    "marker.select_work_s": "s",
    "marker.touch_s": "s",
    "marker.ledger_rows": "count",
    "marker.rows_rewritten_per_new_row": "ratio",
    "transforms.plan_s": "s",
    "transforms.gate_s": "s",
    "transforms.gate_jobs": "count",
    "transforms.exec_s": "s",
    "pipeline.group_s_p50": "s",
    "pipeline.group_s_max": "s",
    "pipeline.jobs_per_group": "count",
    "pipeline.scan_amplification": "ratio",
    "jdbc.write_s": "s",
    "jdbc.rows_per_s": "1/s",
    "jdbc.write_tasks": "count",
    "pipeline.bulk_group_s": "s",
    "pipeline.bulk_group_share": "ratio",
    "jdbc.bulk_write_s": "s",
    "jdbc.bulk_write_share": "ratio",
    "transforms.bulk_plan_s": "s",
    "transforms.bulk_exec_s": "s",
    "corpus.prepare_s": "s",
    "dedup.exact_s": "s",
    "dedup.minhash_s": "s",
    "dedup.lsh_precision": "ratio",
    "text.quality_s": "s",
    "corpus_prep.chunk_s": "s",
    "corpus_prep.assign_s": "s",
    "manifest_sink.write_s": "s",
    "manifest_sink.commits": "count",
    "corpus.kept_ratio": "ratio",
    "bm25_store.search_ms": "ms",
    "vector_store.search_ms": "ms",
    "hybrid.fuse_ms": "ms",
    "hybrid.jobs_per_search": "count",
    "store.epochs": "count",
    "bm25_store.append_s": "s",
    "vector_store.append_s": "s",
}
COUNTER_UNITS = {
    "tasks": "count", "failed_tasks": "count", "input_bytes": "bytes",
    "shuffle_write_bytes": "bytes", "gc_s": "s",
}
for _layer in COUNTER_LAYERS:
    for _c in COUNTERS:
        LAYER_METRICS[f"{_layer}.{_c}"] = COUNTER_UNITS[_c]


def _noop_s(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def install(tracer, workload) -> dict:
    """Wrap every layer boundary; returns the probe tallies ``metrics``
    reads (filled in as the traced cycles run)."""
    tally = {"files_listed": 0, "files_selected": 0, "groups": 0, "selected_bytes": 0,
          "ledger_rows": 0, "rewritten": 0, "new_rows": 0, "exec_s": 0.0,
          "confirmed": 0, "candidates": 0, "raw": [], "group": None, "deferred": [],
          "exec_by_table": {}}
    w = tracer.wrap

    # sources.parquet_tree / plans.worklist (as bound into pipeline)
    w(P, "discover_files", "parquet_tree.discover_files",
      after=lambda s, df, a, k: tally.__setitem__("files_listed", tally["files_listed"] + df.count()))

    def open_group(args, kwargs):
        tally["group"] = tracer.open("pipeline.group")

    w(P, "group_day_dirs", "parquet_tree.group_day_dirs", before=open_group)
    w(P, "build_worklist", "worklist.build_worklist")

    def groups_after(s, groups, args, kwargs):
        tally["groups"] += len(groups)
        tally["files_selected"] += sum(g.n_files for g in groups)
        paths = [r[0] for r in args[0].select("full_path").collect()]
        tally["selected_bytes"] += sum(
            os.path.getsize(p.split(":", 1)[1] if p.startswith("file:") else p)
            for p in paths
        )

    w(P, "work_groups", "worklist.work_groups", after=groups_after)

    # operators.marker
    w(M.MarkerLedger, "select_work", "marker.select_work")

    def touch_after(s, _, args, kwargs):
        group, tally["group"] = tally["group"], None
        if group is not None:
            group[0].__exit__(None, None, None)
        rows = args[0].read().count()
        tally["ledger_rows"] = max(tally["ledger_rows"], rows)
        tally["rewritten"] += rows

    def touch_before(args, kwargs):
        # Counted before the call: the ledger overwrite re-caches the
        # work-list the completed frame is read from, emptying it.
        with tracer.probe():
            tally["new_rows"] += args[1].count()

    w(M.MarkerLedger, "touch", "marker.touch", after=touch_after, before=touch_before)

    # operators.transforms (clean_pipeline is called through the module)
    w(P, "stringify", "pipeline.stringify",
      after=lambda s, df, a, k: tally["raw"].append(a[0]))

    def tag_group(args, kwargs):
        # clean_pipeline(df, table, ...) is the first call that names the
        # group's catalog table; the group span carries it as an attribute.
        if tally["group"] is not None:
            tally["group"][1]["attrs"]["table"] = args[1].target_name

    w(TR, "clean_pipeline", "transforms.clean_pipeline", before=tag_group)
    w(TR, "normalize_sci_notation", "transforms.gate_t7")
    w(TR, "truncate_long_timestamps", "transforms.gate_t8")

    def exec_after(s, final, args, kwargs):
        raw = tally["raw"].pop() if tally["raw"] else None
        if raw is not None:
            d = _noop_s(final) - _noop_s(raw)
            tally["exec_s"] += d
            table = tally["group"][1]["attrs"].get("table") if tally["group"] else None
            tally["exec_by_table"][table] = tally["exec_by_table"].get(table, 0.0) + d

    w(TR, "materialize_nulls", "transforms.materialize_nulls", after=exec_after)

    # sources.jdbc
    w(J, "write_table", "jdbc.write_table")

    # plans.corpus_pipeline and the operators it composes
    w(CPL, "prepare_corpus", "corpus.prepare_corpus")
    w(DD, "exact_duplicates", "dedup.exact_duplicates")

    # Pair counts are deferred to the end of the cycle (see flush):
    # counting here would materialize the operator's persisted frames
    # and move their work out of the spans that would otherwise run it.
    w(DD, "minhash_candidate_pairs", "dedup.minhash_candidate_pairs",
      after=lambda s, df, a, k: tally["deferred"].append(("candidates", df)))
    w(DD, "minhash_near_duplicates", "dedup.minhash_near_duplicates",
      after=lambda s, df, a, k: tally["deferred"].append(("confirmed", df)))
    w(TX, "quality_scores", "text.quality_scores")
    w(CP, "chunk_documents", "corpus_prep.chunk_documents")
    w(CP, "shard_pack_assignments", "corpus_prep.shard_pack_assignments")
    w(MS, "write_snapshot", "manifest_sink.write_snapshot")

    # streaming stores and the hybrid composition
    w(B.Bm25IndexIngest, "search", "bm25_store.search")
    w(V.VectorIngest, "search", "vector_store.search")
    w(H, "rrf_fuse", "hybrid.rrf_fuse")
    return tally


def flush(tracer, tally: dict) -> None:
    """Run the deferred counts of a finished cycle, as a probe."""
    with tracer.probe():
        while tally["deferred"]:
            key, df = tally["deferred"].pop()
            tally[key] += df.count()


def _epochs(path: str) -> int:
    return sum(1 for p in os.listdir(path) if p.startswith("epoch=")) if os.path.isdir(path) else 0


def metrics(spans: list[dict], tally: dict, workload) -> dict:
    """name -> (value, unit) for every per-layer metric."""
    cycles = max(workload.traced_cycles, 1)
    by: dict[str, list[dict]] = {}
    for s in spans:
        by.setdefault(s["name"], []).append(s)
    ids = {s["id"]: s for s in spans}

    def tot(*names):
        return sum(s["dur"] for n in names for s in by.get(n, [])) / cycles

    def mean_ms(name):
        xs = [s["dur"] for s in by.get(name, [])]
        return 1000.0 * statistics.mean(xs) if xs else 0.0

    def ratio(a, b):
        return a / b if b else 0.0

    gates = ("transforms.gate_t7", "transforms.gate_t8")
    groups = [s["dur"] for s in by.get("pipeline.group", [])]
    runs = by.get("pipeline.run", []) + by.get("pipeline.catchup", []) + by.get("pipeline.rerun", [])
    input_bytes = sum(s["counters"]["input_bytes"] for s in runs)
    jdbc_s = tot("jdbc.write_table")
    jdbc_rows = getattr(workload, "sunk_rows", 0) / cycles if by.get("jdbc.write_table") else 0.0
    # The bulk group of the nightly run and the spans inside it; shares
    # are over the traced nightly operation.
    bulk_table = workload.spec.get("bulk_table")
    bulk = [s for s in by.get("pipeline.group", []) if s["attrs"].get("table") == bulk_table]
    bulk_ids = {s["id"] for s in bulk}

    def in_bulk(s):
        p = ids.get(s["parent"])
        while p is not None and p["id"] not in bulk_ids:
            p = ids.get(p["parent"])
        return p is not None

    def bulk_tot(*names):
        return sum(s["dur"] for n in names for s in by.get(n, []) if in_bulk(s)) / cycles

    op_s = tot(workload.OP_SPAN)
    requests = by.get("hybrid.request", [])
    store = getattr(workload, "live", None)
    out = {
        "parquet_tree.discover_s": tot("parquet_tree.discover_files"),
        "parquet_tree.files_listed": tally["files_listed"] / cycles,
        "parquet_tree.day_dirs_s": tot("parquet_tree.group_day_dirs"),
        "worklist.build_s": tot("worklist.build_worklist", "worklist.work_groups"),
        "worklist.files_selected": tally["files_selected"] / cycles,
        "worklist.selected_ratio": ratio(tally["files_selected"], tally["files_listed"]),
        "worklist.groups": tally["groups"] / cycles,
        "marker.select_work_s": tot("marker.select_work"),
        "marker.touch_s": tot("marker.touch"),
        "marker.ledger_rows": tally["ledger_rows"],
        "marker.rows_rewritten_per_new_row": ratio(tally["rewritten"], tally["new_rows"]),
        "transforms.plan_s": tot("transforms.clean_pipeline", "transforms.materialize_nulls")
        - tot(*gates),
        "transforms.gate_s": tot(*gates),
        "transforms.gate_jobs": sum(s["jobs_incl"] for g in gates for s in by.get(g, [])) / cycles,
        "transforms.exec_s": tally["exec_s"] / cycles,
        "pipeline.group_s_p50": statistics.median(groups) if groups else 0.0,
        "pipeline.group_s_max": max(groups) if groups else 0.0,
        "pipeline.jobs_per_group": statistics.mean(
            s["jobs_incl"] for s in by["pipeline.group"]) if groups else 0.0,
        "pipeline.scan_amplification": ratio(input_bytes, tally["selected_bytes"]),
        "jdbc.write_s": jdbc_s,
        "jdbc.rows_per_s": ratio(jdbc_rows, jdbc_s),
        "jdbc.write_tasks": sum(s["counters"]["tasks"] for s in by.get("jdbc.write_table", []))
        / cycles,
        "pipeline.bulk_group_s": sum(s["dur"] for s in bulk) / cycles,
        "pipeline.bulk_group_share": ratio(sum(s["dur"] for s in bulk) / cycles, op_s),
        "jdbc.bulk_write_s": bulk_tot("jdbc.write_table"),
        "jdbc.bulk_write_share": ratio(bulk_tot("jdbc.write_table"), op_s),
        "transforms.bulk_plan_s": bulk_tot("transforms.clean_pipeline",
                                           "transforms.materialize_nulls") - bulk_tot(*gates),
        "transforms.bulk_exec_s": tally["exec_by_table"].get(bulk_table, 0.0) / cycles,
        "corpus.prepare_s": tot("corpus.prepare_corpus"),
        "dedup.exact_s": tot("dedup.exact_duplicates"),
        "dedup.minhash_s": tot("dedup.minhash_near_duplicates"),
        "dedup.lsh_precision": ratio(tally["confirmed"], tally["candidates"]),
        "text.quality_s": tot("text.quality_scores"),
        "corpus_prep.chunk_s": tot("corpus_prep.chunk_documents"),
        "corpus_prep.assign_s": tot("corpus_prep.shard_pack_assignments"),
        "manifest_sink.write_s": tot("manifest_sink.write_snapshot"),
        "manifest_sink.commits": len(by.get("manifest_sink.write_snapshot", [])) / cycles,
        "corpus.kept_ratio": ratio(getattr(workload, "kept", 0), workload.spec.get("n_docs", 0)),
        "bm25_store.search_ms": mean_ms("bm25_store.search"),
        "vector_store.search_ms": mean_ms("vector_store.search"),
        "hybrid.fuse_ms": mean_ms("hybrid.rrf_fuse"),
        "hybrid.jobs_per_search": statistics.mean(s["jobs_incl"] for s in requests)
        if requests else 0.0,
        "store.epochs": _epochs(os.path.join(store, "bm25", "stats")) if store else 0,
        "bm25_store.append_s": mean_ms("bm25_store.append") / 1000.0,
        "vector_store.append_s": mean_ms("vector_store.append") / 1000.0,
    }

    def outermost(s):
        layer = s["name"].split(".", 1)[0]
        p = ids.get(s["parent"])
        while p is not None:
            if p["name"].split(".", 1)[0] == layer:
                return False
            p = ids.get(p["parent"])
        return True

    for layer in COUNTER_LAYERS:
        top = [s for s in spans if s["name"].split(".", 1)[0] == layer and outermost(s)]
        for c in COUNTERS:
            out[f"{layer}.{c}"] = sum(s["counters"][c] for s in top) / cycles
    return {k: (float(out[k]), LAYER_METRICS[k]) for k in LAYER_METRICS}
