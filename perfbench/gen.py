"""Seeded input generator for the benchmark workloads.

``generate(workload, seed, cache_root)`` writes one workload's inputs
under ``<cache_root>/<workload>-s<seed>/`` and returns that directory.
The same (workload, seed) always yields the same bytes; a finished
directory carries a ``spec.json`` (the generator's expected counts,
which the output checks compare against) and is reused as a cache.
Generation runs before Spark starts, so it is outside both ``setup_s``
and every timed region.

Runnable on its own: ``python3 perfbench/gen.py <workload> <seed> <dir>``.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Nightly-ingest date window: the tree holds LOOKBACK days ending at
# TODAY; the run's ingestion date is the first of them (the reference's
# P3 incremental floor), and the ledger already holds every earlier day.
TODAY = dt.date(2024, 3, 8)
LOOKBACK = 5

# Column values that make every transform step T1-T12 fire.
SENTINELS = ["NaT", "nan", "True", "False"]  # T4
ODD_COLUMNS = ["Geolocation", "Logo", "Picture"]  # T11

WORDS = (
    "the of and to in is that for it as with was on be by at this from "
    "data table spark stream index query batch record value column file "
    "market report system network engine cluster storage schema partition "
    "window latency signal model token corpus search vector cache ledger "
    "marker sink source history nightly ingest shard merge commit replay"
).split()


def _rng(seed: int, salt: str) -> np.random.Generator:
    return np.random.default_rng([seed, sum(map(ord, salt))])


# ---------------------------------------------------------------------------
# Catalog-driven hosting tree (ingest workloads)
# ---------------------------------------------------------------------------


def _table_columns(width: int, odd: bool) -> list[dict]:
    """A reflected-schema column list of ``width`` columns with every
    type/nullability/length kind the transform keys off."""
    cols = [
        {"name": "ID", "type": "str", "nullable": False, "length": 64},
        {"name": "Qty", "type": "int", "nullable": True},  # T6 ("12.0")
        {"name": "Amount", "type": "int", "nullable": True},  # T7 ("1.2e+05")
        {"name": "CreatedAt", "type": "datetime", "nullable": True},  # T8
        {"name": "Code", "type": "str", "nullable": False, "length": 32},  # T9
        {"name": "Notes", "type": "str", "nullable": True, "length": None},  # T10
        {"name": "Flag", "type": "str", "nullable": True, "length": 8},  # T4
        {"name": "Legacy", "type": "str", "nullable": True, "length": 64},  # T5
    ]
    if odd:
        cols += [{"name": c, "type": "str", "nullable": True} for c in ODD_COLUMNS]
    tail = ["Environment", "CIGCopyTime", "CIGProcessed"]  # T1-T3
    i = 0
    while len(cols) < width - len(tail):
        cols.append({"name": f"Attr{i:03d}", "type": "str", "nullable": True})
        i += 1
    return cols + [{"name": c, "type": "str", "nullable": True} for c in tail]


def _source_file(
    rng: np.random.Generator, columns: list[dict], n_rows: int
) -> pa.Table:
    """One backup file as the source system writes it: ints as float64
    (stringify renders '12.0'), a sci-notation string column, >23-char
    timestamps, sentinel strings, and no 'Legacy' column (T5)."""
    data = {}
    for c in columns:
        name = c["name"]
        if name in ("Legacy", "Environment", "CIGCopyTime", "CIGProcessed"):
            continue
        if name == "ID":
            data[name] = [f"id-{x}" for x in rng.integers(0, 1 << 40, n_rows)]
        elif name == "Qty":
            q = rng.integers(0, 500, n_rows).astype("float64")
            q[rng.random(n_rows) < 0.1] = np.nan
            data[name] = pa.array(q, from_pandas=True)
        elif name == "Amount":
            data[name] = [
                f"{v:.3e}" if s else str(int(v))
                for v, s in zip(rng.integers(1, 10**7, n_rows), rng.random(n_rows) < 0.3)
            ]
        elif name == "CreatedAt":
            secs = rng.integers(0, 86_400 * 365, n_rows)
            base = dt.datetime(2023, 1, 1)
            data[name] = [
                (base + dt.timedelta(seconds=int(s))).strftime("%Y-%m-%d %H:%M:%S")
                + f".{int(s) % 10_000_000:07d}"
                for s in secs
            ]
        elif name == "Code":
            pick = rng.random(n_rows)
            data[name] = [
                None if p < 0.1 else ("NoneX" if p < 0.2 else f"C{int(p * 1e6)}")
                for p in pick
            ]
        elif name == "Flag":
            data[name] = [SENTINELS[i] for i in rng.integers(0, 4, n_rows)]
        else:
            vals = rng.integers(0, 1000, n_rows)
            data[name] = [None if v < 50 else f"v{v}" for v in vals]
    return pa.table(data)


def _write_tree(
    out: str,
    rng: np.random.Generator,
    tables: list[dict],
    envs: list[str],
    days: list[dt.date],
    files_per_day: int,
    rows_per_file: int,
    tag: str = "",
) -> list[dict]:
    """Write ``<out>/environment=E/<Entity>/yyyy/mm/dd/<file>.parquet`` for
    every (env, table, day); returns one record per file."""
    files = []
    for env in envs:
        for t in tables:
            for day in days:
                d = os.path.join(
                    out, f"environment={env}", t["source"],
                    f"{day:%Y}", f"{day:%m}", f"{day:%d}",
                )
                os.makedirs(d, exist_ok=True)
                for k in range(files_per_day):
                    name = f"{t['source']}_{day:%Y%m%d}_{k:02d}{tag}.parquet"
                    pq.write_table(
                        _source_file(rng, t["columns"], rows_per_file),
                        os.path.join(d, name),
                    )
                    files.append({
                        "rel": os.path.relpath(os.path.join(d, name), out),
                        "file_name": name,
                        "environment": env,
                        "target_table": t["target_name"],
                        "backup_date": day.isoformat(),
                        "rows": rows_per_file,
                    })
    return files


def _ledger_table(files: list[dict], n_old: int, rng: np.random.Generator) -> pa.Table:
    """Marker-ledger history: the already-ingested tree files plus
    ``n_old`` rows of older days no longer in the tree."""
    names = [f["file_name"] for f in files]
    envs = [f["environment"] for f in files]
    targets = [f["target_table"] for f in files]
    dates = [dt.date.fromisoformat(f["backup_date"]) for f in files]
    old_targets = sorted({f["target_table"] for f in files}) or ["T"]
    old_envs = sorted({f["environment"] for f in files}) or ["E"]
    for i in range(n_old):
        day = TODAY - dt.timedelta(days=LOOKBACK + 1 + int(rng.integers(0, 700)))
        names.append(f"old_{day:%Y%m%d}_{i:06d}.parquet")
        envs.append(old_envs[i % len(old_envs)])
        targets.append(old_targets[i % len(old_targets)])
        dates.append(day)
    inserted = [dt.datetime.combine(d, dt.time(2, 0)) for d in dates]
    return pa.table({
        "parquet_source": pa.array(names, pa.string()),
        "target_table": pa.array(targets, pa.string()),
        "environment": pa.array(envs, pa.string()),
        "backup_date": pa.array(dates, pa.date32()),
        "inserted_date": pa.array(inserted, pa.timestamp("us", tz="UTC")),
    })


def _table(width: int, odd: bool, enabled: bool = True, source: str | None = None) -> dict:
    src = source or f"Entity{width:03d}"
    return {
        "target_name": f"HOST_CIG_{src}",
        "source": src,
        "is_enabled": enabled,
        "columns": _table_columns(width, odd),
    }


def _gen_ingest(out: str, seed: int) -> dict:
    """The nightly tree. Two catalog tables in the reference's narrow and
    wide width classes (24 and 121 columns) get two small files a day, so
    per-group planning and bookkeeping dominate them; one narrow bulk table gets
    three 2,500-row files today only, so per-row work dominates it; a
    disabled table has files P2 must skip. The ledger holds every earlier
    day plus 20,000 rows of older history."""
    rng = _rng(seed, "catalog")
    env = "UK_Cloud"  # longer than two letters: T1 splits the name
    days = [TODAY - dt.timedelta(days=i) for i in range(LOOKBACK)][::-1]
    catalog = [_table(24, odd=True), _table(121, odd=False)]
    bulk = _table(12, odd=False)
    disabled = _table(10, odd=False, enabled=False, source="Disabled")
    tree = os.path.join(out, "tree")
    files = _write_tree(tree, rng, catalog + [disabled], [env], days, 2, 40)
    files += _write_tree(tree, rng, [bulk], [env], [TODAY], 3, 2_500)
    selectable = [f for f in files if f["target_table"] != disabled["target_name"]]
    history = [f for f in selectable if f["backup_date"] != TODAY.isoformat()]
    new = [f for f in selectable if f["backup_date"] == TODAY.isoformat()]
    n_old = 20_000
    pq.write_table(_ledger_table(history, n_old, rng), os.path.join(out, "ledger.parquet"))
    with open(os.path.join(out, "catalog.json"), "w") as f:
        json.dump({"tables": catalog + [bulk, disabled]}, f)
    # One late file for each of the last two days: each lands on its
    # own and its catch-up run must ingest exactly it.
    late = _write_tree(
        os.path.join(out, "late"), rng, catalog[:1], [env],
        [TODAY - dt.timedelta(days=d) for d in (1, 0)], 1, 40, tag="_late",
    )
    return {
        "ingestion_date": (TODAY - dt.timedelta(days=LOOKBACK - 1)).isoformat(),
        "ledger_rows": len(history) + n_old,
        "bulk_table": bulk["target_name"],
        "listed_files": len(files),
        "new_files": new,
        "late_files": late,
    }


# ---------------------------------------------------------------------------
# Corpus with planted duplicates (corpus_shards)
# ---------------------------------------------------------------------------


def _doc(rng: np.random.Generator, n_tokens: int) -> str:
    return " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n_tokens))


def _gen_corpus(out: str, seed: int) -> dict:
    rng = _rng(seed, "corpus")
    n_base = 1_200
    ids, texts = [], []
    for i in range(n_base):
        ids.append(i)
        texts.append(_doc(rng, int(rng.integers(40, 120))) + f" doc{i}")
    exact = {}  # copy id -> original id
    next_id = n_base
    for orig in rng.choice(n_base, 60, replace=False):
        ids.append(next_id)
        texts.append(texts[int(orig)])
        exact[next_id] = int(orig)
        next_id += 1
    near = []
    for orig in rng.choice(n_base, 60, replace=False):
        toks = texts[int(orig)].split()
        toks[int(rng.integers(0, len(toks)))] = "variant"
        ids.append(next_id)
        texts.append(" ".join(toks))
        near.append(next_id)
        next_id += 1
    junk = []
    for _ in range(60):
        ids.append(next_id)
        texts.append(" ".join("#!?%$&*"[int(j)] * 3 for j in rng.integers(0, 7, 12)))
        junk.append(next_id)
        next_id += 1
    order = rng.permutation(len(ids))
    pq.write_table(
        pa.table({
            "doc_id": pa.array([ids[i] for i in order], pa.int64()),
            "text": pa.array([texts[i] for i in order], pa.string()),
        }),
        os.path.join(out, "docs.parquet"),
    )
    return {
        "n_docs": len(ids),
        "exact_copies": sorted(exact),
        "near_copies": near,
        "junk": junk,
    }


# ---------------------------------------------------------------------------
# Search stores, queries and append batches (hybrid_search)
# ---------------------------------------------------------------------------

DIM = 16


def _vectors(rng: np.random.Generator, n: int) -> list[list[float]]:
    return np.round(rng.normal(size=(n, DIM)), 6).tolist()


def _gen_search(out: str, seed: int) -> dict:
    rng = _rng(seed, "search")
    n_base, n_batches, batch = 1_000, 8, 40

    def docs_table(lo: int, hi: int) -> tuple[pa.Table, pa.Table]:
        ids = list(range(lo, hi))
        texts = [_doc(rng, int(rng.integers(20, 60))) for _ in ids]
        return (
            pa.table({"doc_id": pa.array(ids, pa.int64()), "text": texts}),
            pa.table({
                "vec_id": pa.array(ids, pa.int64()),
                "embedding": pa.array(_vectors(rng, len(ids)), pa.list_(pa.float64())),
            }),
        )

    for sub in ("base", "batches"):
        os.makedirs(os.path.join(out, sub), exist_ok=True)
    d, v = docs_table(0, n_base)
    pq.write_table(d, os.path.join(out, "base", "docs.parquet"))
    pq.write_table(v, os.path.join(out, "base", "vecs.parquet"))
    for b in range(n_batches):
        lo = n_base + b * batch
        d, v = docs_table(lo, lo + batch)
        pq.write_table(d, os.path.join(out, "batches", f"docs_{b:03d}.parquet"))
        pq.write_table(v, os.path.join(out, "batches", f"vecs_{b:03d}.parquet"))
    n_queries = 256
    queries = []
    for q in range(n_queries):
        terms = sorted({WORDS[i] for i in rng.integers(0, len(WORDS), 3)})
        queries.append({
            "query_id": 1_000_000_000 + q,
            "terms": terms,
            "vector": _vectors(rng, 1)[0],
        })
    with open(os.path.join(out, "queries.json"), "w") as f:
        json.dump(queries, f)
    return {"n_base": n_base, "n_batches": n_batches, "batch_docs": batch}


GENERATORS = {
    "ingest_nightly": _gen_ingest,
    "corpus_shards": _gen_corpus,
    "hybrid_search": _gen_search,
}


def generate(workload: str, seed: int, cache_root: str) -> str:
    """Inputs for (workload, seed), generated once and cached."""
    out = os.path.join(cache_root, f"{workload}-s{seed}")
    if os.path.exists(os.path.join(out, "spec.json")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    spec = GENERATORS[workload](tmp, seed)
    spec.update({"workload": workload, "seed": seed})
    with open(os.path.join(tmp, "spec.json"), "w") as f:
        json.dump(spec, f)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    if len(sys.argv) != 4 or sys.argv[1] not in GENERATORS:
        sys.exit(f"usage: gen.py {{{','.join(GENERATORS)}}} SEED OUT_DIR")
    print(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3]))
