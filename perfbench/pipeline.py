"""``dedup_pipeline``: repeated passes of an LLM-data curation pipeline.

The corpus (600 documents, ids 0..599, and 300 embeddings) is generated
from the seed with planted exact and near duplicates. Each pass runs:

1. ``dedup_corpus(method="minhash", keep="max", keep_col="n_chars")``;
2. ``minhash_band_index`` over the history split (ids < 250), written as a
   band index, then the delta drained through
   ``streaming.dedup.incremental_dedup_sink`` as two micro-batches
   (ids < 425, then the rest: the shape the q69 slot pins);
3. ``semantic_dedup`` on the embeddings with the pinned centroids.

Between passes the pipeline calls ``release_caches()`` and
``release_checkpoints()``, as a pipeline user would. The ids and splits
are the ones the q61 ``best``, q69 ``sink`` and q43 ``semdedup`` oracle
SQL is written for, so each step's output is checked against that SQL run
by DuckDB on the generated inputs.
"""

from __future__ import annotations

import os
import time

import pyarrow.parquet as pq
import pyspark.sql.functions as F

from sea_serpent_spark.operators.dedup import dedup_corpus, release_caches
from sea_serpent_spark.operators.incremental import (
    minhash_band_index,
    read_band_index,
    write_band_index,
)
from sea_serpent_spark.operators.pinned import SEMDEDUP_CENTROIDS
from sea_serpent_spark.operators.similarity import semantic_dedup
from sea_serpent_spark.operators.util import release_checkpoints
from sea_serpent_spark.streaming.dedup import incremental_dedup_sink
from sea_serpent_spark.workload_ext import ORACLES_EXT
from sea_serpent_spark.workload_mut import _SINK_STAGES_SQL

import check
import gen
from measure import median, udf_profile_s

N_DOCS = 600
N_VECS = 300
#: the history / micro-batch splits of the q69 slot, for N_DOCS documents
HISTORY = 250
SPLIT = 425
#: the warm-up pass runs the same pipeline on a corpus this much smaller
WARM_SHRINK = 6


class State:
    def __init__(self, ctx, tag: str, shrink: int = 1):
        tables = gen.corpus_tables(ctx.seed, N_DOCS // shrink, N_VECS // shrink)
        self.paths = gen.write_tables(tables, ctx.path(f"corpus-{tag}"))
        self.history = HISTORY // shrink
        # the delta as one file per micro-batch, mtimes pinned in order:
        # the file source orders new files by modification time
        self.delta = ctx.path(f"delta-{tag}")
        os.makedirs(self.delta)
        ids = tables["documents"].column("doc_id").to_numpy()
        for i, (lo, hi) in enumerate(((0, SPLIT // shrink), (SPLIT // shrink, len(ids)))):
            dst = os.path.join(self.delta, f"batch{i}.parquet")
            mask = (ids >= lo) & (ids < hi)
            pq.write_table(tables["documents"].filter(mask), dst)
            t = 1_000_000_000 + i * 1000
            os.utime(dst, (t, t))
        spark = ctx.spark
        self.docs = spark.read.parquet(self.paths["documents"])
        self.emb = spark.read.parquet(self.paths["embeddings"]).withColumn(
            "embedding", F.col("embedding").cast("array<double>"))


def prepare(ctx, rep: int) -> State:
    return State(ctx, str(rep))


def _pass(ctx, s: State) -> dict:
    """One pipeline pass → its outputs and spans."""
    root = ctx.path(f"pass{ctx.seq()}")
    tr = ctx.tracer
    out, spans, batches = {}, [], []

    with tr.span("operators.dedup", "dedup_corpus") as sp:
        kept = dedup_corpus(s.docs, method="minhash", threshold=0.5,
                            keep="max", keep_col="n_chars")
        out["best"] = sorted(r[0] for r in kept.select("doc_id").collect())
    spans.append(sp)

    idx, dst = os.path.join(root, "idx"), os.path.join(root, "out")
    with tr.span("operators.incremental", "index_build") as sp:
        hist = s.docs.where(F.col("doc_id") < s.history)
        write_band_index(minhash_band_index(hist), idx, key_buckets=8)
    spans.append(sp)

    sink = incremental_dedup_sink(idx, dst, batch_parallelism=8)

    def timed_batch(df, batch_id):
        with tr.span("streaming.batch", str(batch_id)) as bsp:
            sink(df, batch_id)
        batches.append(bsp)

    with tr.span("streaming", "ingest") as sp:
        (ctx.spark.readStream.schema(s.docs.schema)
         .option("maxFilesPerTrigger", 1).parquet(s.delta)
         .writeStream.foreachBatch(timed_batch)
         .option("checkpointLocation", os.path.join(root, "ckpt"))
         .trigger(availableNow=True).start().awaitTermination())
        out["sink"] = sorted(r[0] for r in ctx.spark.read.parquet(dst)
                             .select("doc_id").collect())
        out["sink_idx"] = read_band_index(ctx.spark, idx).select("id").distinct().count()
    spans.append(sp)

    with tr.span("operators.similarity", "semantic_dedup") as sp:
        sem = semantic_dedup(s.emb, threshold=0.45, centroids=SEMDEDUP_CENTROIDS,
                             keep="far_from_centroid", nbits=0)
        out["semdedup"] = sorted(r[0] for r in sem.select("vec_id").collect())
    spans.append(sp)

    with tr.span("operators.util", "release") as sp:
        release_caches()
        release_checkpoints()
    spans.append(sp)
    return {"out": out, "spans": spans, "batches": batches}


def warm(ctx, s: State) -> None:
    """One untimed pass over a smaller corpus of the same shape: it pays
    the session's first-run costs (codegen, JIT, worker start) for every
    step of the pipeline."""
    _pass(ctx, State(ctx, "warm", WARM_SHRINK))


def _materialized(sql: str, *ctes: str) -> str:
    """The same SQL with the named CTEs evaluated once, not once per
    recursion step (same result; DuckDB otherwise recomputes the minhash
    signatures and cosine pairs inside the recursive walks)."""
    for name in ctes:
        if f"{name} AS (" not in sql:
            raise ValueError(f"oracle SQL has no CTE {name!r}")
        sql = sql.replace(f"{name} AS (", f"{name} AS MATERIALIZED (", 1)
    return sql


def _oracle_sql() -> dict[str, str]:
    """The slots' oracle SQL cut down to the members this pipeline runs:
    q61's keep-best survivors (its ``best`` branch), q43's SemDeDup
    survivors (its ``semdedup`` branch) and q69's two-stage sink replay."""
    q61 = _materialized(ORACLES_EXT["q61_connected_components"], "sprs")
    q43 = _materialized(ORACLES_EXT["q43_embedding_near_dup"], "nr", "asg", "sp")
    stages = f"WITH RECURSIVE {_SINK_STAGES_SQL} "
    return {
        "best": "WITH RECURSIVE "
        + q61[q61.index("sprs AS"):q61.index("SELECT 'cc' AS op")]
        + f"SELECT doc_id FROM documents WHERE doc_id < {N_DOCS} "
        "AND doc_id NOT IN (SELECT id FROM slosers)",
        "semdedup": q43[:q43.index("inc_sp AS")].rstrip().rstrip(",")
        + "\nSELECT e.vec_id FROM embeddings e "
        "WHERE NOT EXISTS (SELECT 1 FROM slose l WHERE l.id = e.vec_id)",
        "sink": stages + "SELECT id FROM surv",
        "sink_idx": stages + f"SELECT {HISTORY} + (SELECT COUNT(*) FROM survA)"
        " + (SELECT COUNT(*) FROM survB)",
    }


def _expected(paths: dict) -> dict:
    con = check.connect(paths)
    try:
        return {k: sorted(r[0] for r in con.sql(sql).fetchall()) if k != "sink_idx"
                else con.sql(sql).fetchone()[0]
                for k, sql in _oracle_sql().items()}
    finally:
        con.close()


def measure(ctx, s: State, deadline: float) -> dict:
    passes, failed = [], 0
    t_start = time.perf_counter()
    while time.perf_counter() < deadline:
        try:
            p = _pass(ctx, s)
        except Exception as e:
            failed += 1
            ctx.log(f"FAILED pass: {e!r}")
            continue
        if ctx.traced:
            p["udf_s"] = udf_profile_s(ctx.spark)
            ctx.sample_leak()
        ctx.log("# pass " + " ".join(
            f"{sp.name}={sp.wall_s * 1000:.0f}ms"
            for sp in p["spans"] + p["batches"]))
        passes.append(p)
    elapsed = time.perf_counter() - t_start

    batches = [b for p in passes for b in p["batches"]]
    wall = sum(sp.wall_s for p in passes for sp in p["spans"])
    out = {
        # four checked outputs per pass
        "attempted": max(1, 4 * len(passes) + failed),
        "failed": failed,
        "latency_ms": [b.wall_s * 1000 for b in batches],
        "throughput": (N_DOCS + N_VECS) * len(passes) / max(wall, 1e-9),
        "elapsed": elapsed,
        "ops": max(1, len(passes)),
        "units": len(passes),
        "outputs": [p["out"] for p in passes],
    }
    if ctx.traced:
        n = max(1, len(passes))

        def step_s(name):
            return median([sp.wall_s for p in passes for sp in p["spans"]
                           if sp.name == name])

        spans = [sp for p in passes for sp in p["spans"]]
        udf_ms = sum(p["udf_s"] for p in passes) * 1000
        task = sum(sp.task_ms for sp in spans)
        gap = sum(sp.gap_ms for sp in spans)
        out["layers"] = {
            "dedup.corpus_s": step_s("dedup_corpus"),
            "incremental.index_build_s": step_s("index_build"),
            "similarity.semantic_dedup_s": step_s("semantic_dedup"),
            "streaming.batch_ms_p50": median([b.wall_s * 1000 for b in batches]),
            "streaming.jobs_per_batch": sum(b.job_count for b in batches)
            / max(1, len(batches)),
            "udf.python_s_per_pass": udf_ms / 1000 / n,
            "spark.shuffle_mb_per_pass": sum(sp.shuffle_bytes for sp in spans)
            / 1e6 / n,
            "util.release_ms": step_s("release") * 1000,
            "split.holds": float(task + udf_ms > gap),
        }
        out["spans"] = spans
    return out


def verify(ctx, s: State, out: dict) -> None:
    """Every pass's outputs against the oracle SQL, after the window."""
    want = _expected(s.paths)
    for got in out["outputs"]:
        for key, exp in want.items():
            if got[key] != exp:
                out["failed"] += 1
                ctx.log(f"FAILED {key}: output differs from the oracle")
    ctx.log(f"# pipeline kept: best {len(want['best'])}/{N_DOCS}, sink "
            f"{len(want['sink'])}, semdedup {len(want['semdedup'])}/{N_VECS}")
