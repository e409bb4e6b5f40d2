"""The three benchmark workloads.

Each workload prepares its state (``prep``, timed, repeated so the
set-up time is a median), runs measured cycles until the window is
spent (at least one), and checks every output; a failed operation or
check is counted, never raised past the cycle. With tracing on, the
per-layer metrics come from the traced cycles' spans (see layers.py).
"""

from __future__ import annotations

import contextlib
import datetime as dt
import glob
import json
import os
import shutil
import statistics
import time
import traceback
from dataclasses import dataclass, field

from pyspark.sql import functions as F
from pyspark.sql import types as T

from cig_etl_s3_to_sql_data_ingestor_spark.catalog import load_catalog
from cig_etl_s3_to_sql_data_ingestor_spark.operators.dedup import unpersist_all
from cig_etl_s3_to_sql_data_ingestor_spark.operators.marker import ParquetMarkerLedger
from cig_etl_s3_to_sql_data_ingestor_spark.pipeline import BatchIngest

import layers

PREPS = 3  # set-up repetitions per run; setup_s takes their median


@dataclass
class Result:
    items_per_s: float = 0.0
    op_p50_ms: float = 0.0
    followup_s: float = 0.0
    warm_s: float = 0.0
    prep_s: list = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    detail: dict = field(default_factory=dict)
    layer_metrics: dict = field(default_factory=dict)
    spans: list = field(default_factory=list)


class Workload:
    """Shared run loop: warm-up, timed preparations, measured cycles."""

    OP_SPAN = "pipeline.run"  # the span around one measured operation

    def __init__(self, spark, inputs: str, work: str):
        self.spark = spark
        self.inputs = inputs
        self.work = work
        with open(os.path.join(inputs, "spec.json")) as f:
            self.spec = json.load(f)
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.tracer = None

    # -- bookkeeping -----------------------------------------------------

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)
        return ok

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    # -- per-workload hooks ----------------------------------------------

    def warm(self) -> None:
        """Warm-up outside the timer. Batch workloads have none: a nightly
        batch starts a fresh JVM every night, so its users pay the cold
        start, and the measured cycle includes it (a warm-up also made
        the measured run less steady: 15-33% spread against 5-12%)."""

    def prep(self, k: int) -> None:
        """Restore the state cycle ``k`` starts from."""
        raise NotImplementedError

    def cycle(self, k: int, budget_s: float) -> None:
        """One measured cycle; appends to self.ops / self.followups."""
        raise NotImplementedError

    def items(self) -> float:
        """Median units of work per second of one measured operation."""
        return statistics.median(u / t for u, t in zip(self.units, self.ops))

    # -- run loop ----------------------------------------------------------

    def _timed_prep(self, k: int, res: Result) -> None:
        t0 = time.perf_counter()
        self.prep(k)
        res.prep_s.append(time.perf_counter() - t0)

    def _cycles(self, seconds: float, res: Result, k0: int) -> int:
        k = k0
        t_end = time.perf_counter() + seconds
        while True:
            self._timed_prep(k, res)
            try:
                self.cycle(k, max(t_end - time.perf_counter(), 0.0))
                if self.tracer:
                    layers.flush(self.tracer, self.probes)
            except Exception:  # noqa: BLE001 - a failed cycle is counted, not fatal
                self.check(False, f"cycle {k}: " + traceback.format_exc(limit=3))
                unpersist_all()
                return k + 1
            unpersist_all()
            k += 1
            if time.perf_counter() >= t_end:
                return k

    def run(self, seconds: float, baseline: float | None = None) -> Result:
        """Warm up, prepare, run cycles for ``seconds``. With a
        ``baseline`` (the untraced operation time of the same workload
        and seed, in seconds) the cycles are traced and the overhead is
        measured against it."""
        res = Result()
        self.ops: list[float] = []  # seconds per measured operation
        self.followups: list[float] = []
        self.units: list[float] = []  # work units per operation
        t0 = time.perf_counter()
        self.warm()
        unpersist_all()
        res.warm_s = time.perf_counter() - t0
        if baseline is not None:
            from tracer import Tracer

            self.tracer = Tracer(self.spark, f"{type(self).__name__}-{os.getpid()}")
            self.probes = layers.install(self.tracer, self)
            try:
                self.traced_cycles = self._cycles(seconds, res, 0)
            finally:
                self.tracer.restore()
            res.spans = self.tracer.spans()
            res.layer_metrics = layers.metrics(res.spans, self.probes, self)
            res.layer_metrics["trace.probe_s"] = (self.tracer.probe_s, "s")
            # Span clocks stop while the tracer probes, so this is the
            # operation time with span bookkeeping but without probes.
            op = [x["dur"] for x in res.spans if x["name"] == self.OP_SPAN]
            res.layer_metrics["trace.overhead_frac"] = (
                (statistics.median(op) - baseline) / baseline, "ratio")
        else:
            self._cycles(seconds, res, 0)
        while len(res.prep_s) < PREPS:
            self._timed_prep(len(res.prep_s) + 1000, res)
        if self.ops:
            res.op_p50_ms = statistics.median(self.ops) * 1000.0
            res.items_per_s = self.items()
        if self.followups:
            res.followup_s = statistics.median(self.followups)
        res.attempted, res.failed = self.attempted, self.failed
        res.detail = dict(self.detail(), ops=len(self.ops),
                          followups=[round(x, 3) for x in self.followups],
                          failures=self.failures[:5])
        return res

    def detail(self) -> dict:
        return {}


# ---------------------------------------------------------------------------
# Nightly S3 -> SQL ingest over a hosting-layout tree, JDBC sink
# ---------------------------------------------------------------------------


class IngestNightly(Workload):
    """Nightly run into an in-process Derby database; then each late
    file lands and a catch-up run follows; then a re-run that must
    ingest nothing."""

    def __init__(self, spark, inputs, work):
        super().__init__(spark, inputs, work)
        self.catalog = load_catalog(os.path.join(inputs, "catalog.json"))
        self.date = dt.date.fromisoformat(self.spec["ingestion_date"])
        import pyarrow.parquet as pq

        hist = pq.read_table(os.path.join(inputs, "ledger.parquet")).to_pylist()
        self.history = {
            (r["parquet_source"], r["environment"], r["target_table"]) for r in hist
        }
        self.url = None
        self.sunk_rows = 0  # rows written to the sink by every run

    def _connect(self, url: str):
        return self.spark._jvm.java.sql.DriverManager.getConnection(url)

    def _drop_db(self) -> None:
        """Drop the in-memory database (Derby reports success as an
        SQLException with state 08006)."""
        from py4j.protocol import Py4JJavaError

        try:
            self._connect(self.url.replace(";create=true", ";drop=true"))
        except Py4JJavaError as ex:
            if ex.java_exception.getSQLState() != "08006":
                raise
        self.url = None

    def prep(self, k: int) -> None:
        self.cdir = os.path.join(self.work, f"cycle-{k}")
        shutil.rmtree(self.cdir, ignore_errors=True)
        os.makedirs(os.path.join(self.cdir, "marker"))
        # The tree is copied because the late files land in it; the
        # ledger is restored from the generator's snapshot; the database
        # is created empty.
        shutil.copytree(os.path.join(self.inputs, "tree"), os.path.join(self.cdir, "tree"))
        shutil.copy(
            os.path.join(self.inputs, "ledger.parquet"),
            os.path.join(self.cdir, "marker", "part-00000-history.parquet"),
        )
        if self.url:
            self._drop_db()
        self.url = f"jdbc:derby:memory:perfbench_{os.getpid()}_{k};create=true"
        self._connect(self.url).close()

    def _expect(self, files: list[dict]) -> tuple[dict, dict]:
        """(env, target) -> n_files and target -> rows, for these files."""
        groups: dict = {}
        rows: dict = {}
        for f in files:
            key = (f["environment"], f["target_table"])
            groups[key] = groups.get(key, 0) + 1
            rows[f["target_table"]] = rows.get(f["target_table"], 0) + f["rows"]
        return groups, rows

    def _check_results(self, results, files: list[dict], what: str) -> int:
        groups, rows = self._expect(files)
        got_groups = {(r.environment, r.target_table): r.n_files for r in results}
        got_rows: dict = {}
        for r in results:
            got_rows[r.target_table] = got_rows.get(r.target_table, 0) + r.n_rows
        self.check(got_groups == groups, f"{what}: groups {got_groups} != {groups}")
        self.check(got_rows == rows, f"{what}: rows {got_rows} != {rows}")
        self.attempted += len(results)  # one operation per ingested group
        return sum(got_rows.values())

    def _sink_count(self, target: str) -> int:
        conn = self._connect(self.url)
        try:
            rs = conn.createStatement().executeQuery(f"SELECT COUNT(*) FROM {target}")
            rs.next()
            return rs.getLong(1)
        finally:
            conn.close()

    def _check_sink(self, files: list[dict]) -> None:
        _, rows = self._expect(files)
        got = {t: self._sink_count(t) for t in rows}
        self.check(got == rows, f"sink rows {got} != {rows}")

    def _check_ledger(self, files: list[dict]) -> None:
        led = ParquetMarkerLedger(self.spark, os.path.join(self.cdir, "marker")).read()
        got = {tuple(r) for r in led.select(
            "parquet_source", "environment", "target_table").collect()}
        want = self.history | {
            (f["file_name"], f["environment"], f["target_table"]) for f in files
        }
        self.check(got == want, f"ledger: {len(got ^ want)} keys differ")

    def cycle(self, k: int, budget_s: float) -> None:
        tree = os.path.join(self.cdir, "tree")
        bi = BatchIngest(
            spark=self.spark,
            catalog=self.catalog,
            sink_root=os.path.join(self.cdir, "sink"),
            marker_path=os.path.join(self.cdir, "marker"),
            jdbc_url=self.url,
        )
        with self.span("pipeline.run"):
            t0 = time.perf_counter()
            results = bi.run(tree, self.date)
            t = time.perf_counter() - t0
        new = self.spec["new_files"]
        n = self._check_results(results, new, "nightly run")
        self.sunk_rows += n
        self.ops.append(t)
        self.units.append(n)
        late = self.spec["late_files"]
        for f in late:
            shutil.copy(os.path.join(self.inputs, "late", f["rel"]), os.path.join(tree, f["rel"]))
            with self.span("pipeline.catchup"):
                t0 = time.perf_counter()
                results = bi.run(tree, self.date)
                self.followups.append(time.perf_counter() - t0)
            self.sunk_rows += self._check_results(
                results, [f], f"catch-up run for {f['file_name']}")
        again = bi.run(tree, self.date)
        self.check(again == [], f"re-run ingested {len(again)} groups")
        self._check_sink(new + late)
        self._check_ledger(new + late)
        self._drop_db()
        shutil.rmtree(self.cdir, ignore_errors=True)

    def detail(self) -> dict:
        return {
            "rows_per_run": self.units[:1],
            "groups": len({(f["environment"], f["target_table"]) for f in self.spec["new_files"]}),
            "listed_files": self.spec["listed_files"],
            "ledger_rows": self.spec["ledger_rows"],
        }


# ---------------------------------------------------------------------------
# Corpus -> training shards
# ---------------------------------------------------------------------------


class CorpusShards(Workload):
    """Dedup, filter, chunk and publish; the follow-up is the idempotent
    re-publish (reads the committed snapshot, writes nothing)."""

    N_SHARDS = 8
    OP_SPAN = "corpus.publish"

    def _docs(self):
        return self.spark.read.parquet(os.path.join(self.inputs, "docs.parquet"))

    def prep(self, k: int) -> None:
        self.table = os.path.join(self.work, f"shards-{k}")
        shutil.rmtree(self.table, ignore_errors=True)
        self.docs = self._docs()

    def cycle(self, k: int, budget_s: float) -> None:
        from cig_etl_s3_to_sql_data_ingestor_spark.plans.corpus_pipeline import (
            write_training_shards,
        )
        from cig_etl_s3_to_sql_data_ingestor_spark.sources import manifest_sink as ms

        with self.span("corpus.publish"):
            t0 = time.perf_counter()
            out = write_training_shards(self.docs, self.table, n_shards=self.N_SHARDS)
            t = time.perf_counter() - t0
        self.check(out["written_shards"] > 0 and out["rows"] > 0, f"publish wrote {out}")
        self.ops.append(t)
        self.units.append(self.spec["n_docs"])
        with self.span("corpus.republish"):
            t0 = time.perf_counter()
            again = write_training_shards(self.docs, self.table, n_shards=self.N_SHARDS)
            self.followups.append(time.perf_counter() - t0)
        self.check(again["written_shards"] == 0, f"re-publish wrote {again}")
        kept = {r[0] for r in ms.read_snapshot(self.spark, self.table)
                .select("doc_id").distinct().collect()}
        self.kept = len(kept)
        self.check(not kept & set(self.spec["exact_copies"]), "exact copies survived")
        self.check(not kept & set(self.spec["junk"]), "low-quality docs survived")
        self.attempted += 2  # the two publishes
        shutil.rmtree(self.table, ignore_errors=True)

    def detail(self) -> dict:
        return {"n_docs": self.spec["n_docs"], "kept_docs": getattr(self, "kept", None)}


# ---------------------------------------------------------------------------
# Closed-loop hybrid search with interleaved store appends
# ---------------------------------------------------------------------------

DOC_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType()),
])
VEC_SCHEMA = T.StructType([
    T.StructField("vec_id", T.LongType()),
    T.StructField("embedding", T.ArrayType(T.DoubleType())),
])


class HybridSearch(Workload):
    """One client, one request at a time; one micro-batch is appended to
    both stores before the first request and after every APPEND_EVERY
    requests."""

    APPEND_EVERY = 2
    OP_SPAN = "hybrid.request"
    N_CELLS = 8
    N_PROBE = 4
    K, BM25_K, ANN_K = 10, 10, 20

    def __init__(self, spark, inputs, work):
        super().__init__(spark, inputs, work)
        with open(os.path.join(inputs, "queries.json")) as f:
            self.queries = json.load(f)
        self.batches = sorted(
            os.path.basename(p)[len("docs_"):]
            for p in glob.glob(os.path.join(inputs, "batches", "docs_*.parquet"))
        )
        self.src_docs = os.path.join(work, "src", "docs")
        self.src_vecs = os.path.join(work, "src", "vecs")
        self.golden = os.path.join(work, "golden")
        self.live = os.path.join(work, "live")

    def _stores(self, root: str):
        from cig_etl_s3_to_sql_data_ingestor_spark.streaming.bm25_ingest import (
            Bm25IndexIngest,
        )
        from cig_etl_s3_to_sql_data_ingestor_spark.streaming.vector_ingest import (
            VectorIngest,
        )

        bm25 = Bm25IndexIngest(self.spark, os.path.join(root, "bm25"),
                               os.path.join(root, "bm25_ckpt"))
        vec = VectorIngest(self.spark, os.path.join(self.golden, "centroids"),
                           os.path.join(root, "vec"), os.path.join(root, "vec_ckpt"))
        return bm25, vec

    def _drain(self, bm25, vec) -> tuple[float, float]:
        t0 = time.perf_counter()
        with self.span("bm25_store.append"):
            bm25.start(self.src_docs, DOC_SCHEMA).awaitTermination(120)
        t1 = time.perf_counter()
        with self.span("vector_store.append"):
            vec.start(self.src_vecs, VEC_SCHEMA).awaitTermination(120)
        return t1 - t0, time.perf_counter() - t1

    def warm(self) -> None:
        """Freeze the centroids (the first N_CELLS base vectors: k-means
        with no Lloyd iteration, which keeps set-up short) and build both
        stores over the base corpus once (the golden copy every cycle
        restores). Then, on a copy that the first ``prep`` discards, one
        append and one search warm the incremental paths a cycle
        measures, so a cycle's first append and request are not slower
        than its later ones."""
        from cig_etl_s3_to_sql_data_ingestor_spark.operators.similarity import (
            kmeans_centroids,
        )

        for d in (self.src_docs, self.src_vecs):
            os.makedirs(d)
        shutil.copy(os.path.join(self.inputs, "base", "docs.parquet"),
                    os.path.join(self.src_docs, "base.parquet"))
        shutil.copy(os.path.join(self.inputs, "base", "vecs.parquet"),
                    os.path.join(self.src_vecs, "base.parquet"))
        base = self.spark.read.parquet(os.path.join(self.inputs, "base", "vecs.parquet"))
        kmeans_centroids(base, n_cells=self.N_CELLS, n_iters=0).write.parquet(
            os.path.join(self.golden, "centroids"))
        self._drain(*self._stores(self.golden))
        self.prep(-1)
        self._land(0)
        self._drain(self.bm25, self.vec)
        self._search(self.bm25, self.vec, self.queries[-1])

    def prep(self, k: int) -> None:
        # Reset both stores and their checkpoints to the set-up epochs,
        # and the stream sources to the base files only.
        shutil.rmtree(self.live, ignore_errors=True)
        for sub in ("bm25", "bm25_ckpt", "vec", "vec_ckpt"):
            shutil.copytree(os.path.join(self.golden, sub), os.path.join(self.live, sub))
        for d in (self.src_docs, self.src_vecs):
            for p in os.listdir(d):
                if p != "base.parquet":
                    os.remove(os.path.join(d, p))
        self.bm25, self.vec = self._stores(self.live)

    def _frames(self, qs: list[dict]):
        terms = self.spark.createDataFrame(
            [(q["query_id"], t) for q in qs for t in q["terms"]],
            "query_id long, term string",
        )
        vecs = self.spark.createDataFrame(
            [(q["query_id"], q["vector"]) for q in qs], VEC_SCHEMA
        )
        return terms, vecs

    def _search(self, bm25, vec, *qs):
        from cig_etl_s3_to_sql_data_ingestor_spark.streaming.hybrid_search import (
            hybrid_search_from_stores,
        )

        terms, vecs = self._frames(list(qs))
        return [tuple(r) for r in hybrid_search_from_stores(
            bm25, vec, terms, vecs, k=self.K, bm25_k=self.BM25_K,
            ann_k=self.ANN_K, n_probe=self.N_PROBE,
        ).orderBy("query_id", "rank").collect()]

    def _land(self, b: int) -> None:
        """Micro-batch ``b`` lands in both stream sources."""
        name = self.batches[b]
        shutil.copy(os.path.join(self.inputs, "batches", f"docs_{name}"),
                    os.path.join(self.src_docs, f"b{name}"))
        shutil.copy(os.path.join(self.inputs, "batches", f"vecs_{name}"),
                    os.path.join(self.src_vecs, f"b{name}"))

    def _append(self, b: int) -> None:
        self._land(b)
        a, v = self._drain(self.bm25, self.vec)
        self.followups.append(a + v)
        self.attempted += 1

    def cycle(self, k: int, budget_s: float) -> None:
        t_end = time.perf_counter() + budget_s
        # Every measured request searches stores that have taken at least
        # one append since set-up.
        self._append(0)
        i, appended = 0, 1
        n = len(self.queries) - 1  # the last one is the warm-up query
        sample = None  # (query, result, batches appended before it)
        while i == 0 or time.perf_counter() < t_end:
            q = self.queries[(k * 97 + i) % n]
            with self.span("hybrid.request"):
                t0 = time.perf_counter()
                rows = self._search(self.bm25, self.vec, q)
                t = time.perf_counter() - t0
            self.attempted += 1
            if rows:
                self.ops.append(t)
            else:
                self.check(False, f"query {q['query_id']}: no results")
            if i == k % self.APPEND_EVERY or sample is None:
                sample = (q, rows, appended)
            i += 1
            if i % self.APPEND_EVERY == 0 and appended < len(self.batches):
                self._append(appended)
                appended += 1
        self._check_rebuild(*sample)
        self._check_store(appended)

    def _check_rebuild(self, q: dict, got: list, appended: int) -> None:
        """A sampled request's result equals the batch rebuild over the
        documents and vectors the stores held when it ran."""
        from cig_etl_s3_to_sql_data_ingestor_spark.operators.similarity import ivf_topk
        from cig_etl_s3_to_sql_data_ingestor_spark.operators.text import bm25_topk, rrf_fuse

        names = ["base/{}.parquet"] + [
            f"batches/{{}}_{b}" for b in self.batches[:appended]]
        docs = self.spark.read.schema(DOC_SCHEMA).parquet(
            *[os.path.join(self.inputs, n.format("docs")) for n in names])
        vecs = self.spark.read.schema(VEC_SCHEMA).parquet(
            *[os.path.join(self.inputs, n.format("vecs")) for n in names])
        cents = self.spark.read.parquet(os.path.join(self.golden, "centroids")).select(
            F.col("cell_id").alias("vec_id"), F.col("cell_vec").alias("embedding"))
        terms, qv = self._frames([q])
        lex = bm25_topk(docs, terms, k=self.BM25_K).select(
            "query_id", F.col("doc_id").alias("cand_id"), "rank")
        sem = ivf_topk(vecs, qv, k=self.ANN_K, n_probe=self.N_PROBE,
                       centroids=cents).select("query_id", "cand_id", "rank")
        want = [tuple(r) for r in rrf_fuse(lex, sem, k=self.K)
                .orderBy("query_id", "rank").collect()]
        self.check(bool(got) and got == want, f"query {q['query_id']}: store != rebuild")

    def _check_store(self, appended: int) -> None:
        from cig_etl_s3_to_sql_data_ingestor_spark.streaming.vector_ingest import (
            read_index_store,
        )

        want = self.spec["n_base"] + appended * self.spec["batch_docs"]
        n_vec = read_index_store(self.spark, os.path.join(self.live, "vec")).count()
        self.check(n_vec == want, f"vector store holds {n_vec} rows, want {want}")
        n_docs = self.bm25.read_index()[2].first()["n_docs"]
        self.check(n_docs == want, f"BM25 store counts {n_docs} docs, want {want}")

    def items(self) -> float:
        return len(self.ops) / sum(self.ops)

    def detail(self) -> dict:
        lat = sorted(self.ops)
        n = len(lat)
        out = {"requests": n, "appends": len(self.followups)}
        # Tail: the highest percentile with at least ten samples beyond it.
        if n > 10:
            q = (n - 10) / n
            out.update(tail_pct=round(100 * q, 1), tail_ms=round(lat[n - 11] * 1000, 2),
                       tail_samples=n)
        return out


WORKLOADS = {
    "ingest_nightly": IngestNightly,
    "corpus_shards": CorpusShards,
    "hybrid_search": HybridSearch,
}
