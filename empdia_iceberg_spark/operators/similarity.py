"""Embedding similarity search (driver north star; SURVEY.md §2.B
"LLM-pipeline" rows). The reference repo has no vector search; this is
the engine-surface extension for training-data pipelines.

Architecture (100 TB posture):

- **brute-force top-k** (`knn_cosine_top5`) — the classic
  broadcast-index scan: the query side streams through ``mapInPandas``
  (Arrow batches → numpy, BLAS matmul, per-row top-k); the index side
  is loaded ONCE per executor process from parquet (lazy module-level
  singleton — same pattern as the reference's lazy classifier init,
  empathy_interaction.py:101-113) and L2-normalized in memory. No
  driver-side collect; no O(n²) crossJoin through the row pipeline.
  Scales to an arbitrarily large query side; the index side must fit
  executor memory (64-dim float64 × 100M rows ≈ 51 GB — beyond that,
  shard the index by IVF cell: `knn_cosine_ivf` below is that layout).
- **bucketed LSH ANN** (`knn_cosine_lsh`) — random-hyperplane signs
  (deterministic seed) give each vector a bucket key; candidates are
  generated per bucket with multi-probe (all 1-bit-flip neighbor
  buckets), then verified exactly. Pure DataFrame ops: the shuffle is
  on the bucket key, never on pairs. Approximate ⇒ rows-only oracle.
- **cosine near-dup pairs** (`emb_cosine_near_dup`) — same scan with a
  threshold instead of top-k; DuckDB oracle via
  ``list_cosine_similarity`` on DOUBLE[] (float64 both sides; diffs
  are order-of-summation only, ~1e-16, and the output rounds at 1e-6).
- **per-label centroids** (`embedding_avg_by_label`) — pure relational
  array analytics: posexplode + groupBy, decimal-exact averaging.
"""

from __future__ import annotations

import os
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from empdia_iceberg_spark import CHECKOUT_DIR
from empdia_iceberg_spark.functions.exact import det_round, sql_det_round, sql_sum_r6
from empdia_iceberg_spark.registry import register
from empdia_iceberg_spark.sources.tables import load, path_for

# the IVF shard cache's root unless SPARK_GRAFT_ANN_ROOT names another
ANN_DEFAULT_ROOT = os.path.join(CHECKOUT_DIR, ".ann_work")
TOP_K = 5
NEAR_DUP_COS = 0.4  # synthetic 64-dim data: cos>=0.4 marks the planted tail
_CHUNK = 256  # rows per matmul chunk: 256 × n_index × 8 B stays ≪ executor memory

# user_profile_similarity broadcasts three one-row-per-user tables (the
# pivot-wide b side and the two norm sides, ~200 B/user ⇒ ~40 MB at the
# ceiling). Past the ceiling the hints drop away and the planner falls
# back to shuffle joins instead of failing on a fact-scale broadcast.
_PROFILE_BROADCAST_MAX_USERS = 200_000

# Executor-process-local index cache (lazy init, one load per worker —
# the pattern the reference uses for its classifier, cited above).
# Values are (content_fingerprint, *payload): every lookup re-stats the
# index (one stat for a file, a metadata walk for a dir — microseconds
# against a matmul kernel) and a fingerprint mismatch reloads in place,
# so a long-lived executor process never serves vectors from a file
# that was regenerated at the same path (r9 ADVICE: the r8 IVF fix
# closed this hazard for cell shards but left the brute-force kernel's
# cache keyed on path alone).
_INDEX_CACHE: dict[str, tuple] = {}


def _fingerprint(path: str) -> str:
    """Content fingerprint of an index file or dataset directory:
    path + mtime_ns + size of the top entry and of EVERY file under it
    (os.walk, sorted — a file replaced in place two levels deep, e.g.
    inside a hive partition subdir, must change the fingerprint; the r8
    version statted only top-level entries and missed nested rewrites).
    Shared by the IVF cell-shard cache dir key and the executor-local
    _INDEX_CACHE so both stale-index hazards have one fix."""
    import hashlib
    import os

    st = os.stat(path)
    parts = [f"{path}|{st.st_mtime_ns}|{st.st_size}"]
    if os.path.isdir(path):
        for root, dirs, files in os.walk(path):
            dirs.sort()  # deterministic traversal order
            for name in sorted(files):
                full = os.path.join(root, name)
                try:
                    s = os.stat(full)
                except FileNotFoundError:
                    # a file vanished between walk and stat — the dataset
                    # is being rewritten in place RIGHT NOW. Record the
                    # vanishing itself (the fingerprint must differ from
                    # both the old and the settled new state, so the next
                    # probe re-fingerprints and reloads) instead of
                    # crashing the task.
                    parts.append(f"{os.path.relpath(full, path)}|VANISHED")
                    continue
                rel = os.path.relpath(full, path)
                parts.append(f"{rel}|{s.st_mtime_ns}|{s.st_size}")
    return hashlib.md5("||".join(parts).encode()).hexdigest()[:12]


# Per-lookup fingerprint calls are bounded by a short process-local TTL
# (r10 ADVICE): for a single-file index the re-stat is microseconds, but
# a DIRECTORY index with thousands of part files walks+stats every one —
# per Arrow batch, per executor process, that's a stat storm measured in
# milliseconds each. Re-fingerprinting at most once per TTL per process
# keeps stale-index detection (an in-place regeneration is still caught
# within EMPDIA_FINGERPRINT_TTL_SEC, default 1 s — regeneration itself
# takes far longer) while making the steady-state lookup a dict hit.
_FP_TTL_CACHE: dict[str, tuple[float, str]] = {}

# Parsed ONCE at import (r11, from r10 ADVICE): the env read + float()
# sat on exactly the per-batch hot path the TTL cache was added to cool.
# Tests (and unusual deployments changing the TTL mid-process) override
# by monkeypatching this module constant; the env var still configures
# a process at launch, which is the only time executors read it anyway
# (each executor process imports this module once).
_FP_TTL_SEC: float = float(os.environ.get("EMPDIA_FINGERPRINT_TTL_SEC", "1.0"))

# Entry bound: one entry per distinct index/dataset path — a handful in
# any real process, but a long-lived session iterating over unbounded
# ephemeral paths (tests, notebooks) must not grow this forever.
_FP_TTL_CACHE_MAX = 1024


def _fingerprint_cached(path: str) -> str:
    import time

    ttl = _FP_TTL_SEC
    if ttl > 0:
        hit = _FP_TTL_CACHE.get(path)
        if hit is not None and time.monotonic() - hit[0] < ttl:
            return hit[1]
    fp = _fingerprint(path)
    if len(_FP_TTL_CACHE) >= _FP_TTL_CACHE_MAX:
        now = time.monotonic()
        expired = [p for p, (t, _) in _FP_TTL_CACHE.items() if now - t >= ttl]
        for p in expired or list(_FP_TTL_CACHE):  # all live: drop the lot
            _FP_TTL_CACHE.pop(p, None)            # (they re-stat next probe)
    _FP_TTL_CACHE[path] = (time.monotonic(), fp)
    return fp

# Broadcast-index ceiling: every executor process materializes the whole
# index, so refuse clearly oversized indexes instead of OOMing workers.
# Parquet bytes underestimate the in-memory float64 matrix, so the guard
# is deliberately conservative. Override via env for cluster deployments
# with bigger executors.
MAX_INDEX_BYTES = 2 * 1024**3  # 2 GiB of parquet per executor process


def _index_size_bytes(path: str) -> int:
    import os

    if os.path.isdir(path):
        return sum(
            os.path.getsize(os.path.join(root, f))
            for root, _, files in os.walk(path)
            for f in files
            if f.endswith(".parquet")
        )
    return os.path.getsize(path)


def _check_index_size(path: str) -> None:
    import os

    limit = int(os.environ.get("EMPDIA_MAX_INDEX_BYTES", MAX_INDEX_BYTES))
    size = _index_size_bytes(path)
    if size > limit:
        raise ValueError(
            f"broadcast kNN index at {path} is {size / 1024**2:.0f} MiB of "
            f"parquet, over the {limit / 1024**2:.0f} MiB per-executor "
            "ceiling (every executor process loads the full index). Use "
            "knn_cosine_ivf (sharded IVF cells) or knn_cosine_lsh (bucketed "
            "LSH) for indexes beyond one executor's memory, or raise "
            "EMPDIA_MAX_INDEX_BYTES if your executors are provisioned for it."
        )


def jvm_cosine(a, b):
    """cos(a, b) over two array<double> columns as pure built-in
    expressions: aggregate(zip_with(·)) dot + transform-square norms,
    folded left-to-right inside whole-stage codegen. The oracles
    replicate THIS exact operation order in SQL, which is what makes
    the cosines bit-identical across engines — every caller must go
    through this one helper, or a future change to one copy silently
    desynchronizes the other and breaks that guarantee."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )

    def norm(c):
        return F.sqrt(
            F.aggregate(F.transform(c, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x)
        )

    return dot / (norm(a) * norm(b))


def _list_col_to_matrix(col) -> np.ndarray:
    """Arrow list<float> column → (n, dim) float64 matrix via the flat
    values buffer — `.to_pylist()` materialized hundreds of millions of
    transient Python floats for a guard-sized index (~10× peak RSS and
    tens of seconds of CPU per executor), the very worker pressure
    MAX_INDEX_BYTES exists to prevent. Falls back to the object path
    only for ragged lists (never the case for an embedding column)."""
    arr = col.combine_chunks()
    try:
        offsets = arr.offsets.to_numpy()
        widths = np.diff(offsets)
        if len(widths) and (widths == widths[0]).all():
            flat = arr.values.to_numpy(zero_copy_only=False).astype(np.float64)
            # offsets may not start at 0 after slicing; honor them
            return flat[offsets[0] : offsets[-1]].reshape(len(arr), widths[0])
    except AttributeError:
        pass  # FixedSizeList or exotic layout: use the generic path
    return np.asarray(arr.to_pylist(), dtype=np.float64)


def _load_index(path: str) -> tuple[np.ndarray, np.ndarray]:
    fp = _fingerprint_cached(path)
    hit = _INDEX_CACHE.get(path)
    if hit is None or hit[0] != fp:
        import pyarrow.parquet as pq

        _check_index_size(path)
        t = pq.read_table(path, columns=["vec_id", "embedding"])
        ids = t.column("vec_id").to_numpy().astype(np.int64)
        m = _list_col_to_matrix(t.column("embedding"))
        m /= np.linalg.norm(m, axis=1, keepdims=True)
        order = np.argsort(ids)  # id-sorted ⇒ deterministic tie-breaks
        _INDEX_CACHE[path] = (fp, ids[order], m[order])
    return _INDEX_CACHE[path][1:]


def _topk_batches(
    index_path: str, k: int
) -> "callable":
    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids, m = _load_index(index_path)
        for pdf in batches:
            for lo in range(0, len(pdf), _CHUNK):
                chunk = pdf.iloc[lo : lo + _CHUNK]
                q = np.asarray(chunk["embedding"].to_list(), dtype=np.float64)
                q /= np.linalg.norm(q, axis=1, keepdims=True)
                sims = q @ m.T  # (chunk, n_index) float64 BLAS
                qids = chunk["vec_id"].to_numpy()
                out_q, out_n, out_c, out_r = [], [], [], []
                for row in range(len(chunk)):
                    s = sims[row]
                    # Exact top-k under ties: argpartition alone breaks
                    # ties ARBITRARILY at the cut, disagreeing with the
                    # oracle's (cos DESC, id ASC) order whenever equal
                    # cosines span the k+1 boundary (duplicate embeddings
                    # — exactly what a near-dup corpus contains). Take the
                    # (k+1)-th value as a threshold, keep EVERY candidate
                    # at-or-above it, then lexsort — the tied low-id
                    # candidate always wins. Also guards tiny indexes
                    # (n <= k+1), where argpartition's kth is out of range.
                    kk = min(k + 1, len(s))
                    if kk < len(s):
                        part = np.argpartition(s, -kk)[-kk:]
                        cand = np.nonzero(s >= s[part].min())[0]
                    else:
                        cand = np.arange(len(s))
                    # Cap the tied set before the O(|cand| log |cand|)
                    # lexsort: on a corpus of many duplicate embeddings
                    # (exactly what a near-dup corpus contains) every
                    # duplicate ties at the cut and |cand| can approach
                    # n. Only the k+1 winners by (cos DESC, id ASC) can
                    # survive, and every candidate at the cutoff value
                    # competes purely on id — so take all strictly-above
                    # rows (≤ k of them by definition of the cutoff)
                    # plus an O(|tied|) argpartition of the smallest
                    # ids among the tied rows. Bit-identical to sorting
                    # the whole tied set; worst case stays O(n).
                    if len(cand) > 4 * kk + 64:
                        s_c = s[cand]
                        cutoff = s_c.min()
                        strict = cand[s_c > cutoff]
                        tied = cand[s_c == cutoff]
                        need = kk - len(strict)
                        if len(tied) > need:
                            tid = np.argpartition(ids[tied], need - 1)[:need]
                            tied = tied[tid]
                        cand = np.concatenate([strict, tied])
                    cand = cand[np.lexsort((ids[cand], -s[cand]))]
                    cand = cand[ids[cand] != qids[row]][:k]
                    out_q.extend([qids[row]] * len(cand))
                    out_n.extend(ids[cand])
                    out_c.extend(s[cand])
                    out_r.extend(range(1, len(cand) + 1))
                yield pd.DataFrame(
                    {
                        "query_id": np.asarray(out_q, dtype=np.int64),
                        "neighbor_id": np.asarray(out_n, dtype=np.int64),
                        "cos_sim": np.asarray(out_c, dtype=np.float64),
                        "rank": np.asarray(out_r, dtype=np.int32),
                    }
                )

    return compute


@register(
    "knn_cosine_top5",
    oracle=f"""
    WITH p AS (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) AS c
        FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
    ),
    r AS (
        SELECT query_id, neighbor_id, c,
               row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS rank
        FROM p
    )
    SELECT query_id, neighbor_id,
           {sql_det_round('c', 6)} AS cos_sim,
           CAST(rank AS INT)       AS rank
    FROM r
    WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
    LIMIT 100
    """,
    doc="Brute-force cosine top-5 per vector (BASELINE.md knn_cosine_top5): "
    "broadcast-index mapInPandas scan, float64 BLAS matmul, deterministic "
    "(cos DESC, id ASC) tie-break; first 100 rows by (query_id, rank).",
)
def knn_cosine_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _exact_topk_frame(spark, sf_dir)
    return (
        out.select("query_id", "neighbor_id", det_round(F.col("cos_sim"), 6).alias("cos_sim"), "rank")
        .orderBy("query_id", "rank")
        .limit(100)
    )


def _exact_topk_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL brute-force exact top-k frame (every query, no output
    limit) — the ground truth the recall audits join against."""
    _check_index_size(path_for(sf_dir, "embeddings"))  # fail fast on driver
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return emb.mapInPandas(
        _topk_batches(path_for(sf_dir, "embeddings"), TOP_K),
        schema="query_id long, neighbor_id long, cos_sim double, rank int",
    )


def _threshold_batches(index_path: str, threshold: float) -> "callable":
    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids, m = _load_index(index_path)
        for pdf in batches:
            for lo in range(0, len(pdf), _CHUNK):
                chunk = pdf.iloc[lo : lo + _CHUNK]
                q = np.asarray(chunk["embedding"].to_list(), dtype=np.float64)
                q /= np.linalg.norm(q, axis=1, keepdims=True)
                sims = q @ m.T
                qids = chunk["vec_id"].to_numpy()
                # Threshold on the det_round(·,6) grid, mirrored in the
                # oracle SQL: raw kernel cosines (normalize-then-BLAS-dot)
                # and DuckDB's list_cosine_similarity (dot-then-divide)
                # differ by ~1e-16 in operation order, so thresholding
                # raw values near the cut could split PAIR MEMBERSHIP
                # across engines — a mismatch 1e-6 output rounding can't
                # repair. Rounding first shrinks the divergence window
                # from "near the threshold" to "within an ulp of a 1e-6
                # grid edge".
                rounded = np.floor(sims * 1e6 + 0.5) / 1e6
                rows, cols = np.nonzero(rounded >= threshold)
                keep = qids[rows] < ids[cols]  # dedupe: emit each pair once
                yield pd.DataFrame(
                    {
                        "vec_a": qids[rows[keep]].astype(np.int64),
                        "vec_b": ids[cols[keep]].astype(np.int64),
                        "cos_sim": sims[rows[keep], cols[keep]].astype(np.float64),
                    }
                )

    return compute


@register(
    "emb_cosine_near_dup",
    oracle=f"""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           {sql_det_round('list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[])', 6)} AS cos_sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE {sql_det_round('list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[])', 6)} >= {NEAR_DUP_COS}
    ORDER BY vec_a, vec_b
    """,
    doc="Embedding-cosine near-duplicate pairs (cos >= 0.4) — same "
    "broadcast-index scan as knn, threshold semantics. Both engines "
    "threshold on the det_round(·,6) grid so ulp-level operation-order "
    "differences cannot split pair membership at the cut.",
)
def emb_cosine_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    _check_index_size(path_for(sf_dir, "embeddings"))  # fail fast on driver
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    out = emb.mapInPandas(
        _threshold_batches(path_for(sf_dir, "embeddings"), NEAR_DUP_COS),
        schema="vec_a long, vec_b long, cos_sim double",
    )
    return out.select(
        "vec_a", "vec_b", det_round(F.col("cos_sim"), 6).alias("cos_sim")
    ).orderBy("vec_a", "vec_b")


# ----------------------------------------------------------- LSH (scale path)

LSH_TABLES = 16  # independent hash tables: recall 1-(1-p)^L compounds
LSH_PLANES_MIN = 8  # floor; actual planes adapt to corpus size (below)
LSH_BUCKET_TARGET = 8  # aim ~8 vectors per bucket per table
_LSH_SEED = 42


def _lsh_planes_for(n_vectors: int) -> int:
    """Planes per table, adapted so bucket occupancy stays near
    LSH_BUCKET_TARGET: 2^planes ≈ n / target. The candidate fraction
    therefore FALLS as the corpus grows (candidates/query ≈
    tables · probes · target = O(1), while the pair space is O(n)) —
    at 100M vectors this is 2^24 buckets and ~1e-5 of the pair space,
    where the same constants on a 2k-vector test corpus touch ~30%."""
    import math

    if n_vectors <= 1:
        return LSH_PLANES_MIN
    return max(LSH_PLANES_MIN, math.ceil(math.log2(n_vectors / LSH_BUCKET_TARGET)))


def _lsh_sigs_udf(planes_per_table: int):
    # built lazily: pandas_udf needs an active session to parse its type
    def sigs(embedding: pd.Series) -> pd.Series:
        m = np.asarray(embedding.to_list(), dtype=np.float64)
        rng = np.random.default_rng(_LSH_SEED)
        out = np.empty((len(m), LSH_TABLES), dtype=np.int32)
        weights = 1 << np.arange(planes_per_table)
        for t in range(LSH_TABLES):  # tables drawn sequentially from one stream
            planes = rng.standard_normal((planes_per_table, m.shape[1]))
            out[:, t] = (((m @ planes.T) > 0) @ weights).astype(np.int32)
        return pd.Series(list(out))

    return F.pandas_udf(sigs, "array<int>")


@register(
    "knn_cosine_lsh",
    oracle=None,  # approximate by construction — rows-only; recall vs the
    # exact top-k is asserted in tests and reported by bench.py.
    doc="Bucketed ANN top-5: multi-table random-hyperplane LSH (16 "
    "tables, planes adapted to corpus size so bucket occupancy stays "
    "~8, seed 42) with 1-bit multi-probe per table; candidates "
    "dedup'd across tables then verified exactly. Measured at sf0.1 "
    "(2k vectors → 8 planes): recall@5 ≈ 0.97 (was 0.81 at 10 "
    "tables — the extra tables cost 1.6× candidate keys and no "
    "wall-clock at this SF) despite near-orthogonal random data "
    "being LSH's worst case; clustered real embeddings fare better. The 100 TB layout: candidate generation shuffles "
    "only (vec_id, table, bucket) key rows — embeddings are joined "
    "back AFTER pair dedup, so the wide vectors cross the wire once "
    "per verified candidate, not once per probe; adaptive planes keep "
    "per-query candidates O(tables·probes·occupancy), independent of "
    "corpus size.",
)
def knn_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _lsh_topk_frame(spark, sf_dir)
    return (
        out.select(
            "query_id",
            "neighbor_id",
            det_round(F.col("cos_sim"), 6).alias("cos_sim"),
            "rank",
        )
        .orderBy("query_id", "rank")
        .limit(100)
    )


def _lsh_topk_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL LSH approximate top-k frame (every query, no output
    limit) — knn_cosine_lsh's plan minus the display limit, reused by
    the recall audit."""
    from pyspark.sql import Window as W

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    n_vectors = emb.count()  # parquet footer count — no data scan
    planes = _lsh_planes_for(n_vectors)
    sigs = emb.select("vec_id", _lsh_sigs_udf(planes)("embedding").alias("sigs"))

    # Narrow key rows only: (vec_id, table, bucket). The index side posts
    # each vector once per table; the query side additionally probes every
    # 1-bit-flip neighbor bucket.
    bands = sigs.select(
        "vec_id", F.posexplode("sigs").alias("table", "bucket")
    )
    probe_buckets = F.array(
        F.col("bucket"),
        *[
            F.col("bucket").bitwiseXOR(F.lit(1 << b)).cast("int")
            for b in range(planes)
        ],
    )
    probes = bands.select(
        F.col("vec_id").alias("query_id"),
        "table",
        F.explode(probe_buckets).alias("bucket"),
    )
    cand = (
        probes.join(
            bands.select(F.col("vec_id").alias("neighbor_id"), "table", "bucket"),
            ["table", "bucket"],
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()  # a pair can meet in many (table, probe) buckets
    )

    # Exact verify: join the vectors back (wide arrays move only for
    # dedup'd candidates); cosine via a vectorized Arrow-batched kernel —
    # one einsum per batch instead of a Catalyst fold per pair.
    def cos_batch(emb_a: pd.Series, emb_b: pd.Series) -> pd.Series:
        ma = np.asarray(emb_a.to_list(), dtype=np.float64)
        mb = np.asarray(emb_b.to_list(), dtype=np.float64)
        if not len(ma):
            return pd.Series(np.zeros(0))
        dots = np.einsum("ij,ij->i", ma, mb)
        norms = np.linalg.norm(ma, axis=1) * np.linalg.norm(mb, axis=1)
        return pd.Series(dots / norms)

    cos_udf = F.pandas_udf(cos_batch, "double")
    a = emb.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("emb_a"))
    b = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("emb_b"))
    # The candidate pair table dwarfs the vector table (≈ L·(P+1)·bucket
    # rows per vector) — broadcast the vectors into it rather than
    # shuffling the pairs twice. At index sizes beyond executor memory,
    # drop the hints and let AQE pick shuffle joins.
    pairs = (
        cand.join(F.broadcast(a), "query_id")
        .join(F.broadcast(b), "neighbor_id")
        .select("query_id", "neighbor_id", cos_udf("emb_a", "emb_b").alias("cos_sim"))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return pairs.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= TOP_K
    )


# ------------------------------------------------------- relational analytics


@register(
    "embedding_avg_by_label",
    oracle=f"""
    SELECT label,
           CAST(i - 1 AS INT) AS pos,
           {sql_det_round('CAST(sum(CAST(embedding[i] AS DECIMAL(20,10))) AS DOUBLE) / count(*)', 6)} AS avg_val,
           count(*) AS n_vecs
    FROM embeddings
    CROSS JOIN range(1, 9) AS r(i)
    GROUP BY label, i
    ORDER BY label, pos
    """,
    doc="Per-label centroid of the first 8 embedding dimensions: "
    "posexplode + groupBy with decimal-exact averaging (array analytics "
    "as plain relational ops; one shuffle on (label, pos)).",
)
def embedding_avg_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    ex = emb.select(
        "label", F.posexplode(F.slice("embedding", 1, 8)).alias("pos", "val")
    )
    avg_val = F.sum(F.col("val").cast("decimal(20,10)")).cast("double") / F.count(F.lit(1))
    return (
        ex.groupBy("label", "pos")
        .agg(det_round(avg_val, 6).alias("avg_val"), F.count(F.lit(1)).alias("n_vecs"))
        .select("label", F.col("pos").cast("int").alias("pos"), "avg_val", "n_vecs")
        .orderBy("label", "pos")
    )


# ------------------------------------------------------ int8 quantization

QUANT_LEVELS = 255


@register(
    "embedding_quantize_int8",
    oracle=f"""
    WITH ex AS (
        SELECT vec_id, i - 1 AS pos, CAST(embedding[i] AS DOUBLE) AS val
        FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
    ),
    stats AS (
        SELECT pos, min(val) AS lo, max(val) AS hi FROM ex GROUP BY pos
    ),
    q AS (
        SELECT vec_id,
               CAST(floor((val - lo) / ((hi - lo) / {QUANT_LEVELS}) + 0.5) AS BIGINT) AS code,
               abs((lo + floor((val - lo) / ((hi - lo) / {QUANT_LEVELS}) + 0.5)
                        * ((hi - lo) / {QUANT_LEVELS})) - val) AS abs_err
        FROM ex JOIN stats USING (pos)
    )
    SELECT vec_id,
           CAST(count(*) AS INT)                   AS n_dims,
           CAST(sum(code) AS BIGINT)               AS code_sum,
           CAST(sum(CASE WHEN code IN (0, {QUANT_LEVELS}) THEN 1 ELSE 0 END) AS INT) AS n_saturated,
           floor(max(abs_err) * 1e9 + 0.5) / 1e9   AS max_abs_err
    FROM q
    GROUP BY vec_id
    ORDER BY vec_id
    LIMIT 500
    """,
    doc="Int8 scalar quantization of the embedding column: global "
    "per-dimension min/max (a 64-row broadcast stat), affine codes in "
    "[0,255], per-vector code sum / saturation count / max "
    "reconstruction error. The storage-shrink pass (8× smaller index) a "
    "100 TB vector corpus runs before ANN; every reported stat is an "
    "integer sum or an order-independent max, so the oracle is exact "
    "despite float arithmetic.",
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    ex = emb.select(
        "vec_id", F.posexplode("embedding").alias("pos", "valf")
    ).select("vec_id", "pos", F.col("valf").cast("double").alias("val"))
    stats = ex.groupBy("pos").agg(F.min("val").alias("lo"), F.max("val").alias("hi"))
    scale = (F.col("hi") - F.col("lo")) / QUANT_LEVELS
    code = F.floor((F.col("val") - F.col("lo")) / scale + F.lit(0.5)).cast("long")
    recon = F.col("lo") + code * scale
    q = ex.join(F.broadcast(stats), "pos").select(
        "vec_id",
        code.alias("code"),
        F.abs(recon - F.col("val")).alias("abs_err"),
    )
    return (
        q.groupBy("vec_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_dims"),
            F.sum("code").cast("bigint").alias("code_sum"),
            F.sum(
                F.when(F.col("code").isin(0, QUANT_LEVELS), 1).otherwise(0)
            )
            .cast("int")
            .alias("n_saturated"),
            det_round(F.max("abs_err"), 9).alias("max_abs_err"),
        )
        .orderBy("vec_id")
        .limit(500)
    )


# ------------------------------------------------------------- IVF (scale path)

IVF_CELLS = 16
IVF_NPROBE = 6
# Pair-path (near-dup) assignment width (r13, VERDICT r12 ask #1): a PAIR
# is found only when BOTH endpoints co-locate, so it needs a wider net
# than point queries (a query probes IVF_NPROBE cells; a pair gets no
# probe step). On this synthetic corpus the registered 0.4 threshold sits
# in the far-apart tail where co-location is weakest — width 2 blocked at
# 0.6–0.7 pair recall; width 4 measures 0.955 (sf0.001) / 1.0 (sf0.01),
# test floor ≥0.9. Cost: stored vectors ×4 and per-cell quadratic work
# ×(4/2)²=4 vs the knn layout — still bounded per CELL; at real scale
# IVF_CELLS grows with the corpus (cells sized to a target shard), so
# widening assignment trades a constant factor for recall, never
# reintroducing the all-pairs O(N²) shape.
NEAR_DUP_IVF_ASSIGN = 4
IVF_ASSIGN = 2  # multi-assignment: each vector is stored in its IVF_ASSIGN
# nearest cells (storage ×IVF_ASSIGN, per-cell shard unchanged at ≈1/CELLS).
# r12 recall repair (VERDICT r11 ask #3): the r11 full-corpus audit exposed
# recall@5 = 0.698 — and the offline sweep showed the cause is the DATA, not
# the centroids: on this corpus only ~9% of true top-5 neighbors share the
# generator label, so neighbors straddle any cell boundary and single-
# assignment recall tracks the scanned fraction almost linearly (0.82 even
# at nprobe=8/16 with the best init). Multiple assignment (Jégou et al.'s
# multi-assignment IVF; same trick as FAISS's IndexIVF replication variants)
# attacks boundary spill directly: a vector near a cell edge is findable
# from BOTH adjacent cells. Measured on sf0.1: recall@5 0.698 → 0.90 while
# scanning 62% of the corpus per query (vs 37% before — the honest latency
# trade, re-measured every BENCH round).
_IVF_LLOYD_ITERS = 5  # was 3 (r12): +2 iterations buy ~+0.015 recall at
# sub-millisecond driver cost; the oracle mirror unrolls the same count.
IVF_TRAIN_SAMPLE = 4096  # centroid-training sample size (FAISS trains on a sample)
# Deterministic UNIFORM sample order (r12, VERDICT r11 ask #3): Knuth
# multiplicative hash of vec_id. The pre-r12 id-smallest sample correlated
# with the corpus prefix; hash order decorrelates the sample from ingestion
# order while staying bit-reproducible in ANY SQL engine (the DuckDB oracle
# mirrors it as an ORDER BY expression) — unlike an RNG sample. vec_id is
# assumed < 2^31 so the product fits int64 in Spark, DuckDB, and numpy alike.
_IVF_HASH_MULT = 2654435761
_IVF_HASH_MOD = 2**32


def _ivf_centroids(spark: SparkSession, path: str) -> np.ndarray:
    """Deterministic IVF centroids from a BOUNDED training sample — the
    IVF_TRAIN_SAMPLE vectors smallest by the Knuth-hash order key (one
    TakeOrdered-shaped job), never the full index: centroid training is
    the one step FAISS-style IVF performs on a sample precisely so the
    index itself never has to fit in one process. Init is a SPREAD pick
    over the hash-ordered sample (every len/IVF_CELLS-th vector — the
    deterministic analog of random init, far from the degenerate
    first-16-by-id init r11 used). Driver-side Lloyd (fixed iterations)
    over the sample is bit-deterministic across runs and partitionings."""
    rows = (
        spark.read.parquet(path)
        .select("vec_id", "embedding")
        .orderBy(
            F.pmod(F.col("vec_id") * F.lit(_IVF_HASH_MULT), F.lit(_IVF_HASH_MOD)),
            F.col("vec_id"),
        )
        .limit(IVF_TRAIN_SAMPLE)
        .collect()
    )
    m = np.asarray([r.embedding for r in rows], dtype=np.float64)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    stride = max(len(m) // IVF_CELLS, 1)
    cents = m[::stride][:IVF_CELLS].copy()  # spread init over hash order
    for _ in range(_IVF_LLOYD_ITERS):
        assign = np.argmax(m @ cents.T, axis=1)
        for c in range(len(cents)):
            members = m[assign == c]
            if len(members):
                v = members.sum(axis=0)
                cents[c] = v / np.linalg.norm(v)
    return cents


def _ivf_cells_dir(
    spark: SparkSession, path: str, n_assign: int = IVF_ASSIGN
) -> tuple[str, np.ndarray]:
    """Build (or reuse) the hive-sharded IVF cell layout for the index:
    ONE distributed job assigns every vector to its nearest centroid
    (only the KB-sized centroid matrix ships to executors) and writes
    `_cell=<c>/` parquet shards. Search-time tasks then load exactly ONE
    cell (≈ 1/IVF_CELLS of the index) — this is what makes IVF the
    beyond-executor-memory path. The earlier design loaded the FULL flat
    index per executor to build cells in-process, tripping the very
    memory ceiling it was advertised to escape. The build is
    deterministic, so the shard dir is a reusable cache keyed by the
    index path PLUS a content fingerprint (module-level _fingerprint:
    recursive mtime_ns + size): a path-only key would keep serving
    stale shards after the file at that path is regenerated, while the
    centroids retrain on the NEW data — probe assignment and shard
    contents would silently disagree and recall would sink with no
    error. A fingerprint mismatch simply lands in a fresh cache dir,
    the same refuse-stale posture as the bloom sidecar's version gate.
    Publication is an atomic dir rename (one builder wins, losers
    clean up). Superseded generations are reclaimed after a winning
    build — within THIS source's `ivf_<src>_*` namespace the current
    dir plus the most recent other generation are kept (a search task
    that captured the previous dir path at plan time still finds its
    shards — the bloom blob two-generation grace, mirrored), everything
    older is deleted, so storage stays bounded at two index generations
    per source instead of growing with every regeneration (r9 ADVICE)."""
    import hashlib
    import os
    import re
    import time
    import shutil
    import uuid

    ann_root = os.environ.get("SPARK_GRAFT_ANN_ROOT", ANN_DEFAULT_ROOT)
    # src partitions the cache namespace by index path, so generation
    # reclamation below can never delete another dataset's live shards
    # (several sf dirs share one ann_root in tests and bench).
    src = hashlib.md5(os.path.abspath(path).encode()).hexdigest()[:8]
    # Layout config is part of the cache key (r12): dual-assignment shards
    # are NOT interchangeable with r11's single-assignment shards, so a
    # config bump must land in a fresh dir — stale-format generations then
    # age out through the normal reclamation below.
    layout = f"a{n_assign}c{IVF_CELLS}i{_IVF_LLOYD_ITERS}"
    dest = os.path.join(ann_root, f"ivf_{src}_{_fingerprint(path)}_{layout}")
    cents = _ivf_centroids(spark, path)
    if not os.path.exists(os.path.join(dest, "_built")):
        os.makedirs(ann_root, exist_ok=True)
        tmp = f"{dest}.build_{uuid.uuid4().hex[:8]}"
        cl = cents.tolist()

        def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            c = np.asarray(cl, dtype=np.float64)
            for pdf in batches:
                v = np.asarray(pdf["embedding"].to_list(), dtype=np.float64)
                v /= np.linalg.norm(v, axis=1, keepdims=True)
                # multi-assignment: each vector lands in its n_assign
                # nearest cells (stable sort = numpy first-max tie rule =
                # the oracle's ORDER BY dot DESC, cell ASC)
                top = np.argsort(-(v @ c.T), axis=1, kind="stable")[:, :n_assign]
                out = pdf.loc[pdf.index.repeat(n_assign)].copy()
                out["_cell"] = top.reshape(-1).astype(np.int32)
                yield out

        (
            spark.read.parquet(path)
            .select("vec_id", "embedding")
            .mapInPandas(
                assign, schema="vec_id long, embedding array<float>, _cell int"
            )
            .write.partitionBy("_cell")
            .parquet(tmp)
        )
        open(os.path.join(tmp, "_built"), "w").close()
        try:
            os.rename(tmp, dest)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)  # concurrent builder won
        # Reclaim superseded generations for THIS source only: keep the
        # just-published dir plus the newest other complete generation
        # (one-generation grace for in-flight searches), drop the rest.
        # Legacy unprefixed `ivf_<fp>` dirs (pre-r9 layout, no longer
        # read by anyone) are reclaimed unconditionally.
        def _last_activity(p):
            """Newest file mtime anywhere under p (the dir's own mtime
            is set at creation and never advances during a distributed
            partitioned write, so it cannot distinguish a slow LIVE
            build from a crashed one — part files closing DO advance
            this). Vanished entries are skipped; a fully vanished tree
            reads as 0 (already being reclaimed elsewhere)."""
            newest = 0.0
            try:
                newest = os.path.getmtime(p)
            except OSError:
                return 0.0
            for root, _dirs, files in os.walk(p):
                for f in files:
                    try:
                        newest = max(newest, os.path.getmtime(os.path.join(root, f)))
                    except OSError:
                        continue
            return newest

        mine, legacy = [], []
        now = time.time()
        for name in os.listdir(ann_root):
            full = os.path.join(ann_root, name)
            if not os.path.isdir(full) or name == os.path.basename(dest):
                continue
            if ".build_" in name:
                # a concurrent builder's staging dir — never touch while
                # active, but a CRASHED builder (killed between write and
                # rename) leaves its staging dir forever; without an age
                # bound repeated crashes accumulate full-index-sized
                # orphans and storage is NOT bounded at two generations.
                # Age = time since the newest file write ANYWHERE in the
                # tree (IVF is the beyond-executor-memory path with no
                # size ceiling, so a build may legitimately run long —
                # but its tasks keep closing part files, refreshing
                # this). Six idle hours with zero file activity is a
                # crash, not a build. Env-tunable (r10 ADVICE) because
                # the comparison is file-mtime vs THIS process's clock:
                # on a clock-skewed shared filesystem a live build could
                # read as idle, so shared-FS deployments should raise
                # the bound (or set it huge to disable age-out).
                idle_sec = float(
                    os.environ.get("EMPDIA_IVF_BUILD_IDLE_SEC", 6 * 3600)
                )
                if now - _last_activity(full) > idle_sec:
                    shutil.rmtree(full, ignore_errors=True)
                continue
            if name.startswith(f"ivf_{src}_"):
                try:
                    mine.append((os.path.getmtime(full), full))
                except FileNotFoundError:
                    continue  # vanished: a concurrent reclaim owns it
                except OSError:
                    continue  # transient stat error: neither keep-sort
                    # nor DELETE it on uncertain evidence — deleting a
                    # mis-sorted newest generation would break the
                    # one-generation grace for in-flight searches
            elif re.fullmatch(r"ivf_[0-9a-f]{12}", name):
                legacy.append(full)
        mine.sort(reverse=True)
        # Grace depth (superseded generations kept beyond the current
        # one) is env-tunable (r10 ADVICE): a search that captured a dir
        # path at plan time is covered by depth 1 here, but a shared-FS
        # deployment where plans can outlive two regenerations should
        # raise it — storage stays bounded at (1 + depth) generations.
        grace = int(os.environ.get("EMPDIA_IVF_GRACE_GENERATIONS", "1"))
        for _, old in mine[max(grace, 0):]:
            shutil.rmtree(old, ignore_errors=True)
        for old in legacy:
            shutil.rmtree(old, ignore_errors=True)
    return dest, cents


def _ivf_search_cell(cells_dir: str, k: int):
    """applyInPandas kernel: all queries probing one cell arrive as one
    group; load ONLY that cell's shard, exact local top-(k+1) per query
    with the same tie-exact (cos DESC, id ASC) selection as the
    brute-force kernel. With multi-assignment (r12) a vector lives in
    IVF_ASSIGN cells, so the union of per-cell candidates CAN repeat a
    (query, neighbor) pair — the merge collapses pairs before ranking."""

    def search(pdf: pd.DataFrame) -> pd.DataFrame:
        import os

        import pyarrow.parquet as pq

        empty = pd.DataFrame(
            {
                "query_id": np.asarray([], dtype=np.int64),
                "neighbor_id": np.asarray([], dtype=np.int64),
                "cos_sim": np.asarray([], dtype=np.float64),
            }
        )
        cell = int(pdf["_cell"].iloc[0])
        shard = os.path.join(cells_dir, f"_cell={cell}")
        if not os.path.isdir(shard):
            return empty  # centroid trained on a sample: cell may be empty
        t = pq.read_table(shard, columns=["vec_id", "embedding"])
        ids = t.column("vec_id").to_numpy().astype(np.int64)
        if not len(ids):
            return empty
        m = _list_col_to_matrix(t.column("embedding"))
        m /= np.linalg.norm(m, axis=1, keepdims=True)
        order = np.argsort(ids)
        ids, m = ids[order], m[order]
        out_q, out_n, out_c = [], [], []
        for lo in range(0, len(pdf), _CHUNK):
            chunk = pdf.iloc[lo : lo + _CHUNK]
            q = np.asarray(chunk["embedding"].to_list(), dtype=np.float64)
            q /= np.linalg.norm(q, axis=1, keepdims=True)
            sims = q @ m.T
            qids = chunk["vec_id"].to_numpy()
            for row in range(len(chunk)):
                s = sims[row]
                kk = min(k + 1, len(s))
                if kk < len(s):
                    part = np.argpartition(s, -kk)[-kk:]
                    cand = np.nonzero(s >= s[part].min())[0]
                else:
                    cand = np.arange(len(s))
                cand = cand[np.lexsort((ids[cand], -s[cand]))]
                cand = cand[ids[cand] != qids[row]][:k]
                out_q.extend([qids[row]] * len(cand))
                out_n.extend(ids[cand])
                out_c.extend(s[cand])
        return pd.DataFrame(
            {
                "query_id": np.asarray(out_q, dtype=np.int64),
                "neighbor_id": np.asarray(out_n, dtype=np.int64),
                "cos_sim": np.asarray(out_c, dtype=np.float64),
            }
        )

    return search


@register(
    "knn_cosine_ivf",
    oracle=None,  # approximate (cell pruning) — rows-only; recall vs the
    # exact top-k is asserted in tests.
    doc="IVF-bucketed ANN top-5, genuinely SHARDED: 16 deterministic "
    "k-means cells (Lloyd over a Knuth-hash-ordered uniform training "
    "sample with spread init, FAISS-style) written as hive `_cell=` "
    "parquet shards by one distributed MULTI-ASSIGNMENT job (each "
    "vector in its 2 nearest cells — Jégou-style multiple assignment, "
    "the r12 recall repair: 0.698 → ~0.90 full-corpus recall@5); "
    "queries fan out to their nprobe=6 nearest cells and a per-cell "
    "applyInPandas task loads ONLY that cell's shard (≈1/16 of the "
    "doubled index, i.e. ≈1/8 of the corpus) for an exact local "
    "top-k, pairs collapsed then "
    "merged by a per-query window. No process ever holds the full "
    "index — the beyond-executor-memory path the brute-force ceiling "
    "error points at. Recall@5 vs exact is re-measured every BENCH "
    "round.",
)
def knn_cosine_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _ivf_topk_frame(spark, sf_dir)
    return (
        out.select(
            "query_id",
            "neighbor_id",
            det_round(F.col("cos_sim"), 6).alias("cos_sim"),
            "rank",
        )
        .orderBy("query_id", "rank")
        .limit(100)
    )


def _ivf_topk_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL IVF approximate top-k frame (every query, no output
    limit) — knn_cosine_ivf's plan minus the display limit, reused by
    the recall audit."""
    from pyspark.sql import Window as W

    path = path_for(sf_dir, "embeddings")
    cells_dir, cents = _ivf_cells_dir(spark, path)
    cl = cents.tolist()

    def probes(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        c = np.asarray(cl, dtype=np.float64)
        for pdf in batches:
            q = np.asarray(pdf["embedding"].to_list(), dtype=np.float64)
            q /= np.linalg.norm(q, axis=1, keepdims=True)
            pr = np.argsort(-(q @ c.T), axis=1, kind="stable")[:, :IVF_NPROBE]
            rep = pdf.loc[pdf.index.repeat(IVF_NPROBE)].copy()
            rep["_cell"] = pr.reshape(-1).astype(np.int32)
            yield rep

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    probed = emb.mapInPandas(
        probes, schema="vec_id long, embedding array<float>, _cell int"
    )
    cand = probed.groupBy("_cell").applyInPandas(
        _ivf_search_cell(cells_dir, TOP_K),
        schema="query_id long, neighbor_id long, cos_sim double",
    )
    # Multi-assignment means a neighbor stored in two probed cells surfaces
    # twice with an identical cos_sim; collapse the pair before ranking or
    # the duplicate would occupy two of the k slots. groupBy-max (not
    # dropDuplicates) keeps the collapse deterministic under AQE re-splits.
    cand = cand.groupBy("query_id", "neighbor_id").agg(
        F.max("cos_sim").alias("cos_sim")
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return cand.withColumn("rank", F.row_number().over(w).cast("int")).filter(
        F.col("rank") <= TOP_K
    )


# --------------------------------------------------------- ANN recall audits


def _ivf_assignment_ctes(n_assign: int = IVF_ASSIGN) -> list:
    """Shared DuckDB mirror of the deterministic IVF pipeline through
    full-corpus MULTI-assignment (`fasg`): Knuth-hash-ordered training
    sample, strided spread init, unrolled MATERIALIZED Lloyd iterations,
    and rn<=IVF_ASSIGN cell assignment. Composed by the recall audit
    (probing + overlap) and the IVF near-dup oracle (co-located pairs).

    Same technique as the Hilbert CTE mirror, applied to k-means:
    the centroid training is deterministic relational arithmetic
    (Knuth-hash-ordered IVF_TRAIN_SAMPLE sample, spread init — every
    stride-th sample vector in hash order — then _IVF_LLOYD_ITERS
    unrolled Lloyd iterations: argmax-cosine assignment with the numpy
    first-max tie rule = row_number ORDER BY dot DESC, cell ASC;
    normalized member-sum update; empty cells keep their previous
    centroid), followed by full-corpus MULTI-assignment (each vector in
    its IVF_ASSIGN nearest cells, r12), nprobe cell selection, DISTINCT
    candidate ranking inside probed cells, and the per-query overlap
    count against the exact brute-force top-k.
    This turns the IVF path's recall into a HASH-CHECKED VALUE: any
    drift in sharding, assignment, probing, or merge breaks the driver
    compare, not just a bench field."""
    parts = [
        f"""e AS MATERIALIZED (
        SELECT vec_id, CAST(v AS DOUBLE) AS v, dim FROM (
            SELECT vec_id, unnest(embedding) AS v,
                   generate_subscripts(embedding, 1) AS dim
            FROM embeddings)
    ),
    vnrm AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM e GROUP BY vec_id),
    en AS MATERIALIZED (
        SELECT e.vec_id, e.dim, e.v / n.nrm AS v
        FROM e JOIN vnrm n USING (vec_id)
    ),
    samp AS MATERIALIZED (
        SELECT * FROM en WHERE vec_id IN (
            SELECT vec_id FROM embeddings
            ORDER BY (vec_id * {_IVF_HASH_MULT}) % {_IVF_HASH_MOD}, vec_id
            LIMIT {IVF_TRAIN_SAMPLE})
    ),
    samp_rank AS MATERIALIZED (
        SELECT vec_id,
               row_number() OVER (
                   ORDER BY (vec_id * {_IVF_HASH_MULT}) % {_IVF_HASH_MOD},
                            vec_id) AS rn,
               count(*) OVER () AS n_samp
        FROM (SELECT DISTINCT vec_id FROM samp)
    ),
    init AS MATERIALIZED (
        SELECT vec_id,
               CAST((rn - 1) // greatest(n_samp // {IVF_CELLS}, 1) AS INT) AS cell
        FROM samp_rank
        WHERE (rn - 1) % greatest(n_samp // {IVF_CELLS}, 1) = 0
          AND (rn - 1) // greatest(n_samp // {IVF_CELLS}, 1) < {IVF_CELLS}
    ),
    c0 AS MATERIALIZED (
        SELECT i.cell, s.dim, s.v FROM samp s JOIN init i USING (vec_id)
    )"""
    ]
    for k in range(1, _IVF_LLOYD_ITERS + 1):
        parts.append(
            f"""dot{k} AS MATERIALIZED (
        SELECT s.vec_id, c.cell, sum(s.v * c.v) AS dot
        FROM samp s JOIN c{k - 1} c USING (dim)
        GROUP BY s.vec_id, c.cell
    ),
    asg{k} AS MATERIALIZED (
        SELECT vec_id, cell FROM (
            SELECT vec_id, cell,
                   row_number() OVER (
                       PARTITION BY vec_id ORDER BY dot DESC, cell) AS rn
            FROM dot{k}) WHERE rn = 1
    ),
    sums{k} AS MATERIALIZED (
        SELECT a.cell, s.dim, sum(s.v) AS sv
        FROM samp s JOIN asg{k} a USING (vec_id)
        GROUP BY a.cell, s.dim
    ),
    cn{k} AS (SELECT cell, sqrt(sum(sv * sv)) AS cnrm FROM sums{k} GROUP BY cell),
    c{k} AS MATERIALIZED (
        SELECT p.cell, p.dim,
               CASE WHEN s.sv IS NULL THEN p.v ELSE s.sv / n.cnrm END AS v
        FROM c{k - 1} p
        LEFT JOIN sums{k} s ON s.cell = p.cell AND s.dim = p.dim
        LEFT JOIN cn{k} n ON n.cell = p.cell
    )"""
        )
    parts.append(
        f"""fdot AS MATERIALIZED (
        SELECT en.vec_id, c.cell, sum(en.v * c.v) AS dot
        FROM en JOIN c{_IVF_LLOYD_ITERS} c USING (dim)
        GROUP BY en.vec_id, c.cell
    ),
    ranked_cells AS MATERIALIZED (
        SELECT vec_id, cell,
               row_number() OVER (
                   PARTITION BY vec_id ORDER BY dot DESC, cell) AS rn
        FROM fdot
    ),
    fasg AS MATERIALIZED (
        SELECT vec_id, cell FROM ranked_cells WHERE rn <= {n_assign}
    )"""
    )
    return parts


def _ivf_recall_oracle_sql() -> str:
    """DuckDB mirror of the ENTIRE IVF pipeline (VERDICT r10 ask #6) —
    see _ivf_assignment_ctes for the shared assignment chain; this adds
    nprobe cell selection, DISTINCT candidate ranking inside probed
    cells, and the per-query overlap count against the exact
    brute-force top-k. Any drift in sharding, assignment, probing, or
    merge breaks the driver value compare, not just a bench field."""
    parts = _ivf_assignment_ctes()
    parts.append(
        f"""probes AS (
        SELECT vec_id AS query_id, cell FROM ranked_cells WHERE rn <= {IVF_NPROBE}
    ),
    cand AS (
        SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
        FROM probes p JOIN fasg a ON a.cell = p.cell AND a.vec_id <> p.query_id
    ),
    ivf_k AS MATERIALIZED (
        SELECT query_id, neighbor_id FROM (
            SELECT c.query_id, c.neighbor_id,
                   row_number() OVER (
                       PARTITION BY c.query_id
                       ORDER BY list_cosine_similarity(
                           qa.embedding::DOUBLE[], nb.embedding::DOUBLE[]) DESC,
                       c.neighbor_id) AS rn
            FROM cand c
            JOIN embeddings qa ON qa.vec_id = c.query_id
            JOIN embeddings nb ON nb.vec_id = c.neighbor_id)
        WHERE rn <= {TOP_K}
    ),
    exact_k AS MATERIALIZED (
        SELECT query_id, neighbor_id FROM (
            SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                   row_number() OVER (
                       PARTITION BY a.vec_id
                       ORDER BY list_cosine_similarity(
                           a.embedding::DOUBLE[], b.embedding::DOUBLE[]) DESC,
                       b.vec_id) AS rn
            FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id)
        WHERE rn <= {TOP_K}
    ),
    hits AS (
        SELECT e.query_id, CAST(count(i.neighbor_id) AS INT) AS n_hit
        FROM exact_k e
        LEFT JOIN ivf_k i
          ON i.query_id = e.query_id AND i.neighbor_id = e.neighbor_id
        GROUP BY e.query_id
    )
    SELECT n_hit, count(*) AS n_queries
    FROM hits GROUP BY n_hit ORDER BY n_hit"""
    )
    return "WITH " + ",\n    ".join(parts)


def _ivf_near_dup_oracle_sql() -> str:
    """Near-dup mirror over the shared IVF assignment chain: candidate
    pairs are vectors CO-LOCATED in at least one cell under
    multi-assignment (fasg self-join), verified by exact cosine on the
    det_round(·,6) grid — the same blocking the engine executes, so the
    compare is a true value oracle for the blocked result, not for the
    all-pairs ideal (the brute `emb_cosine_near_dup` pins that; the
    blocking recall vs it is asserted in tests). Uses the WIDE pair-path
    assignment (NEAR_DUP_IVF_ASSIGN, r13) — the fasg CTE mirrors the
    same rn <= 4 cut the engine's pair shards are built with."""
    parts = _ivf_assignment_ctes(NEAR_DUP_IVF_ASSIGN)
    parts.append(
        f"""pairs AS (
        SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM fasg a JOIN fasg b ON a.cell = b.cell AND a.vec_id < b.vec_id
    )
    SELECT p.vec_a, p.vec_b,
           {sql_det_round('list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[])', 6)} AS cos_sim
    FROM pairs p
    JOIN embeddings ea ON ea.vec_id = p.vec_a
    JOIN embeddings eb ON eb.vec_id = p.vec_b
    WHERE {sql_det_round('list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[])', 6)} >= {NEAR_DUP_COS}
    ORDER BY vec_a, vec_b"""
    )
    return "WITH " + ",\n    ".join(parts)


def _ivf_pair_cell(cells_dir: str, threshold: float):
    """applyInPandas kernel: one group per cell id; load ONLY that
    cell's shard and emit within-cell pairs on/above the threshold
    (det_round grid, same cross-engine discipline as the brute
    kernel). Cost is quadratic in the CELL, never the corpus — the
    standard blocked near-dup trade."""

    def pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        import os

        import pyarrow.parquet as pq

        empty = pd.DataFrame(
            {
                "vec_a": np.asarray([], dtype=np.int64),
                "vec_b": np.asarray([], dtype=np.int64),
                "cos_sim": np.asarray([], dtype=np.float64),
            }
        )
        cell = int(pdf["cell"].iloc[0])
        shard = os.path.join(cells_dir, f"_cell={cell}")
        if not os.path.isdir(shard):
            return empty
        t = pq.read_table(shard, columns=["vec_id", "embedding"])
        ids = t.column("vec_id").to_numpy().astype(np.int64)
        if len(ids) < 2:
            return empty
        m = _list_col_to_matrix(t.column("embedding"))
        m /= np.linalg.norm(m, axis=1, keepdims=True)
        sims = m @ m.T
        rounded = np.floor(sims * 1e6 + 0.5) / 1e6
        rows, cols = np.nonzero(rounded >= threshold)
        keep = ids[rows] < ids[cols]  # each unordered pair once per cell
        return pd.DataFrame(
            {
                "vec_a": ids[rows[keep]],
                "vec_b": ids[cols[keep]],
                "cos_sim": sims[rows[keep], cols[keep]].astype(np.float64),
            }
        )

    return pairs


@register(
    "emb_near_dup_ivf",
    oracle=_ivf_near_dup_oracle_sql(),
    doc="IVF-BLOCKED embedding near-duplicate pairs (cos >= 0.4) — the "
    "scale path beside the brute-force emb_cosine_near_dup: candidate "
    "pairs are vectors co-located in at least one of the 16 cells "
    "under WIDE multi-assignment (each vector lives in its 4 nearest "
    "cells — r13 recall repair, VERDICT r12 ask #1: a pair needs BOTH "
    "endpoints co-located and gets no probe step, so it takes a wider "
    "net than the knn layout's 2; measured pair recall 0.955/1.0 vs "
    "the prior 0.6–0.7, test floor >=0.9), and a per-cell "
    "applyInPandas task loads ONLY that cell's shard for the exact "
    "within-cell verify — quadratic in the CELL, never the corpus. "
    "Duplicate pairs from shared cells collapse in one groupBy. The "
    "DuckDB oracle mirrors the ENTIRE blocking (shared Lloyd "
    "assignment CTEs + width-4 fasg self-join + det_round-grid "
    "cosine), so this is a hash-checked value compare of the blocked "
    "result; recall vs the all-pairs brute answer is asserted in "
    "tests.",
)
def emb_near_dup_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = path_for(sf_dir, "embeddings")
    cells_dir, _cents = _ivf_cells_dir(spark, path, n_assign=NEAR_DUP_IVF_ASSIGN)
    cells = spark.range(IVF_CELLS).select(F.col("id").cast("int").alias("cell"))
    cand = cells.groupBy("cell").applyInPandas(
        _ivf_pair_cell(cells_dir, NEAR_DUP_COS),
        schema="vec_a long, vec_b long, cos_sim double",
    )
    out = cand.groupBy("vec_a", "vec_b").agg(F.max("cos_sim").alias("cos_sim"))
    return out.select(
        "vec_a", "vec_b", det_round(F.col("cos_sim"), 6).alias("cos_sim")
    ).orderBy("vec_a", "vec_b")


def _recall_histogram(exact: DataFrame, approx: DataFrame) -> DataFrame:
    """Per-query overlap of an approximate top-k against the exact
    top-k, folded to a (n_hit, n_queries) histogram: sum(n_hit · n) /
    (k · total) IS recall@k, as an exact integer-valued table instead
    of a float bench field. Audit-shaped plan: both sides are ~k rows
    per query; the overlap join shuffles on (query_id, neighbor_id)."""
    e = exact.select("query_id", "neighbor_id")
    a = approx.select(
        F.col("query_id").alias("_aq"), F.col("neighbor_id").alias("_an")
    )
    per_q = (
        e.join(
            a,
            (F.col("query_id") == F.col("_aq"))
            & (F.col("neighbor_id") == F.col("_an")),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.sum(F.when(F.col("_an").isNotNull(), 1).otherwise(0))
            .cast("int")
            .alias("n_hit")
        )
    )
    return (
        per_q.groupBy("n_hit")
        .agg(F.count(F.lit(1)).alias("n_queries"))
        .orderBy("n_hit")
    )


@register(
    "knn_ivf_recall_audit",
    oracle=_ivf_recall_oracle_sql(),
    doc="Recall@5 of the sharded IVF path as a HASH-CHECKED VALUE "
    "(VERDICT r10 ask #6): per-query overlap counts between the real "
    "IVF machinery (hive cell shards, nprobe=6 probing, per-cell "
    "applyInPandas search, window merge) and the exact brute-force "
    "top-5, folded to a (n_hit, n_queries) histogram. The DuckDB "
    "oracle reproduces the ENTIRE deterministic IVF pipeline — "
    "id-sample Lloyd centroids as unrolled relational CTEs (the "
    "Hilbert-mirror technique), full-corpus assignment, probe "
    "selection, candidate ranking — so sharding/assignment/probe/merge "
    "drift all break the value compare, not just a bench field.",
)
def knn_ivf_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _recall_histogram(
        _exact_topk_frame(spark, sf_dir), _ivf_topk_frame(spark, sf_dir)
    )


@register(
    "knn_lsh_recall_audit",
    oracle=None,  # rows-only BY NECESSITY: the LSH planes come from
    # numpy's PCG64 + ziggurat gaussian sampler, which no SQL engine
    # reproduces — unlike IVF's id-seeded Lloyd arithmetic (see
    # knn_ivf_recall_audit for the mirrored variant of this audit).
    # The recall VALUE is still pinned by tests/test_scale_paths.py's
    # recall floor and re-published every BENCH round.
    doc="Recall@5 of the multi-probe LSH path against the exact "
    "brute-force top-5, as the same (n_hit, n_queries) histogram as "
    "knn_ivf_recall_audit. Rows-only: the random-hyperplane family is "
    "drawn from numpy PCG64 (not SQL-reproducible), so the oracle "
    "cannot mirror the bucketing the way it mirrors IVF's Lloyd "
    "arithmetic; the histogram makes the approximation's quality an "
    "auditable per-round artifact rather than a single float.",
)
def knn_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _recall_histogram(
        _exact_topk_frame(spark, sf_dir), _lsh_topk_frame(spark, sf_dir)
    )


# ------------------------------------------------ semantic pruning (SemDeDup)

PRUNE_K = 8  # anchor count (vec_id < PRUNE_K are the anchors)
PRUNE_M = 3  # exemplars retained per cluster


@register(
    "semantic_prune_clusters",
    oracle=f"""
    WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    a AS (
        SELECT vec_id AS anchor_id, v AS av FROM e WHERE vec_id < {PRUNE_K}
    ),
    sims AS (
        SELECT e.vec_id, a.anchor_id,
               list_cosine_similarity(e.v, a.av) AS cos
        FROM e CROSS JOIN a
    ),
    assign AS (
        SELECT vec_id, anchor_id, cos,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY cos DESC, anchor_id) AS rn
        FROM sims
    ),
    best AS (
        SELECT vec_id, anchor_id AS cluster_id, cos FROM assign WHERE rn = 1
    ),
    ranked AS (
        SELECT cluster_id, vec_id, cos,
               row_number() OVER (PARTITION BY cluster_id
                                  ORDER BY cos DESC, vec_id) AS rank,
               count(*)    OVER (PARTITION BY cluster_id) AS n_members
        FROM best
    )
    SELECT cluster_id,
           CAST(n_members AS BIGINT) AS n_members,
           CAST(rank AS INT)         AS rank,
           vec_id                    AS exemplar_id,
           {sql_det_round('cos', 6)} AS cos_sim
    FROM ranked
    WHERE rank <= {PRUNE_M}
    ORDER BY cluster_id, rank
    """,
    doc="Semantic pruning (SemDeDup-style, Abbas et al. 2023): assign "
    f"every embedding to its nearest of {PRUNE_K} anchor vectors by "
    "cosine, then keep the m most-central exemplars per cluster with "
    "the cluster population. The anchors are a fixed driver-known-"
    "small set (here the first K vectors), so the assignment is a "
    "broadcast join + JVM-side zip_with/aggregate fold — the corpus "
    "scan stays map-only with map-side partial argmax aggregation; "
    "the only real exchanges are the per-vector argmax rollup and the "
    "K-partition exemplar rank. With K clusters the final window has "
    "bounded parallelism K — at cluster scale raise K (SemDeDup uses "
    "tens of thousands of k-means cells), which also shrinks per-"
    "partition sort state.",
)
def semantic_prune_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    anchors = e.filter(F.col("vec_id") < PRUNE_K).select(
        F.col("vec_id").alias("anchor_id"), F.col("v").alias("av")
    )
    cos = jvm_cosine(F.col("v"), F.col("av")).alias("cos")
    sims = e.join(F.broadcast(anchors)).select("vec_id", "anchor_id", cos)
    # argmax anchor per vector: max of (cos, -anchor_id) ⇒ highest cos,
    # ties to the smallest anchor id — same order as the oracle's
    # row_number. Map-side partial agg collapses the K rows per vector
    # before the vec_id exchange.
    best = (
        sims.groupBy("vec_id")
        .agg(F.max(F.struct(F.col("cos"), (-F.col("anchor_id")).alias("na"))).alias("b"))
        .select(
            "vec_id",
            (-F.col("b.na")).alias("cluster_id"),
            F.col("b.cos").alias("cos"),
        )
    )
    w = Window.partitionBy("cluster_id")
    ranked = best.select(
        "cluster_id",
        "vec_id",
        "cos",
        F.row_number()
        .over(w.orderBy(F.col("cos").desc(), "vec_id"))
        .alias("rank"),
        F.count(F.lit(1)).over(w).alias("n_members"),
    )
    return (
        ranked.filter(F.col("rank") <= PRUNE_M)
        .select(
            "cluster_id",
            F.col("n_members").cast("bigint").alias("n_members"),
            F.col("rank").cast("int").alias("rank"),
            F.col("vec_id").alias("exemplar_id"),
            det_round(F.col("cos"), 6).alias("cos_sim"),
        )
        .orderBy("cluster_id", "rank")
    )


# --------------------------------------------- product quantization (PQ)

PQ_SUBS = 8  # subspaces over the 64-dim embeddings
PQ_SUBDIM = 8  # dims per subspace
PQ_K = 16  # centroids per subspace => 4-bit codes
_PQ_LLOYD_ITERS = 3


def _pq_codebooks(path: str):
    """Per-executor PQ codebooks: for each subspace, deterministic
    k-means (id-smallest seed vectors, fixed Lloyd iterations, L2
    assignment) — the same determinism recipe as the IVF index, so
    codes are reproducible across runs and cluster layouts."""
    key = f"pq:{path}"
    fp = _fingerprint_cached(path)
    hit = _INDEX_CACHE.get(key)
    if hit is None or hit[0] != fp:
        ids, m = _load_index(path)  # id-sorted, L2-normalized
        books = []
        for s in range(PQ_SUBS):
            sub = m[:, s * PQ_SUBDIM : (s + 1) * PQ_SUBDIM]
            cents = sub[:PQ_K].copy()  # id-sorted ⇒ deterministic init
            for _ in range(_PQ_LLOYD_ITERS):
                d2 = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
                assign = np.argmin(d2, axis=1)
                for c in range(PQ_K):
                    members = sub[assign == c]
                    if len(members):
                        cents[c] = members.mean(axis=0)
            books.append(cents)
        _INDEX_CACHE[key] = (fp, np.stack(books))  # (PQ_SUBS, PQ_K, PQ_SUBDIM)
    return _INDEX_CACHE[key][1]


def _pq_encode_batches(index_path: str):
    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        books = _pq_codebooks(index_path)
        for pdf in batches:
            for lo in range(0, len(pdf), _CHUNK):
                chunk = pdf.iloc[lo : lo + _CHUNK]
                x = np.asarray(chunk["embedding"].to_list(), dtype=np.float64)
                x /= np.linalg.norm(x, axis=1, keepdims=True)
                codes = np.zeros((len(chunk), PQ_SUBS), dtype=np.int64)
                recon = np.zeros_like(x)
                for s in range(PQ_SUBS):
                    sub = x[:, s * PQ_SUBDIM : (s + 1) * PQ_SUBDIM]
                    d2 = ((sub[:, None, :] - books[s][None, :, :]) ** 2).sum(axis=2)
                    codes[:, s] = np.argmin(d2, axis=1)
                    recon[:, s * PQ_SUBDIM : (s + 1) * PQ_SUBDIM] = books[s][codes[:, s]]
                packed = np.zeros(len(chunk), dtype=np.int64)
                for s in range(PQ_SUBS):
                    packed |= codes[:, s] << (4 * s)
                mse = ((x - recon) ** 2).mean(axis=1)
                yield pd.DataFrame(
                    {
                        "vec_id": chunk["vec_id"].to_numpy(),
                        "pq_code": packed,
                        "recon_mse": mse,
                    }
                )

    return compute


@register(
    "embedding_pq_codes",
    oracle=None,  # k-means codebooks aren't SQL-expressible — rows-only;
    # determinism and reconstruction quality are asserted in tests.
    doc="Product quantization: 64-dim embeddings → 8 subspaces × 4-bit "
    "codes (16 deterministic k-means centroids per subspace, "
    "id-seeded + 3 Lloyd iterations — reproducible across runs), "
    "packed into one 32-bit int per vector: a 16× compression of the "
    "float32 vector that ANN systems scan instead of raw embeddings. "
    "Map-only Arrow-batched encode; codebooks are built once per "
    "executor from the parquet index (the classifier's lazy-singleton "
    "pattern) and are broadcast-small (8·16·8 floats). Per-vector "
    "reconstruction MSE is emitted so compression quality is "
    "auditable from the query output.",
)
def embedding_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    out = emb.mapInPandas(
        _pq_encode_batches(path_for(sf_dir, "embeddings")),
        schema="vec_id long, pq_code long, recon_mse double",
    )
    return (
        out.select("vec_id", "pq_code", det_round(F.col("recon_mse"), 6).alias("recon_mse"))
        .orderBy("vec_id")
        .limit(500)
    )


# ------------------------------------- power-iteration dominant component

PCA_ITERS = 24  # synthetic spectrum is near-degenerate (λ2/λ1 ≈ 0.93);
# (λ2/λ1)^24 ≈ 0.18 pushes the Rayleigh quotient within a few % of λ1
EMB_DIM = 64


@register(
    "embedding_pca_power",
    oracle=None,  # iterative — not single-statement SQL; checked against
    # numpy's exact eigendecomposition in tests (|cos| ≈ 1).
    doc="Dominant principal direction of the embedding cloud by "
    "DISTRIBUTED power iteration: each of 24 iterations is one "
    "whole-stage-codegen'd pass — per-row dot = aggregate(zip_with("
    "embedding, v, (a,b)->a*b)) with the current v as a broadcast "
    "literal, then per-dimension sums of x_i·dot via posexplode + "
    "groupBy(dim) (a 64-key shuffle). The driver only ever holds the "
    "64-float vector between iterations — no row data leaves the "
    "executors, so the same loop runs unchanged on 100 TB of "
    "embeddings. Output: the unit eigenvector plus the Rayleigh-"
    "quotient eigenvalue estimate.",
)
def embedding_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings").select("embedding")

    v = [1.0 / float(EMB_DIM) ** 0.5] * EMB_DIM
    eigenvalue = 0.0
    for _ in range(PCA_ITERS):
        v_lit = F.array(*[F.lit(float(c)) for c in v])
        dot = F.aggregate(
            F.zip_with(F.col("embedding"), v_lit, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        sums = (
            emb.select(F.posexplode("embedding").alias("dim", "x"), dot.alias("dot"))
            .groupBy("dim")
            .agg(F.sum(F.col("x") * F.col("dot")).alias("s"))
            .collect()
        )
        w = [0.0] * EMB_DIM
        for r in sums:
            w[r["dim"]] = r["s"]
        norm = sum(c * c for c in w) ** 0.5
        eigenvalue = norm  # Rayleigh estimate: ||A v|| for unit v
        v = [c / norm for c in w]
    # deterministic sign: first nonzero component positive
    for c in v:
        if abs(c) > 1e-12:
            if c < 0:
                v = [-x for x in v]
            break

    rows = [(i, float(v[i]), float(eigenvalue)) for i in range(EMB_DIM)]
    return spark.createDataFrame(rows, "dim int, component double, eigenvalue double").select(
        "dim",
        det_round(F.col("component"), 6).alias("component"),
        det_round(F.col("eigenvalue"), 4).alias("eigenvalue"),
    )


# --------------------------------------- temporal-profile similarity

PROFILE_TOP_K = 5


@register(
    "user_profile_similarity",
    oracle=f"""
    WITH prof AS (
        SELECT user_id,
               CAST(hour(ts) AS INT) AS hh,
               CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                 / count(*) AS v
        FROM events GROUP BY user_id, hour(ts)
    ),
    norms AS (
        SELECT user_id,
               {sql_det_round('sqrt(' + sql_sum_r6('v * v') + ')', 6)} AS nrm
        FROM prof GROUP BY user_id
    ),
    dots AS (
        SELECT a.user_id AS user_a, b.user_id AS user_b,
               {sql_sum_r6('a.v * b.v')} AS dot
        FROM prof a JOIN prof b ON a.hh = b.hh AND a.user_id < b.user_id
        GROUP BY a.user_id, b.user_id
    ),
    cos AS (
        SELECT user_a, user_b,
               {sql_det_round('dot / (na.nrm * nb.nrm)', 6)} AS cos_sim
        FROM dots
        JOIN norms na ON na.user_id = user_a
        JOIN norms nb ON nb.user_id = user_b
    ),
    sym AS (
        SELECT user_a AS u, user_b AS v, cos_sim FROM cos
        UNION ALL
        SELECT user_b, user_a, cos_sim FROM cos
    ),
    ranked AS (
        SELECT u AS user_id, v AS peer_id, cos_sim,
               row_number() OVER (PARTITION BY u ORDER BY cos_sim DESC, v) AS rank
        FROM sym
    )
    SELECT user_id, peer_id, cos_sim, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= {PROFILE_TOP_K}
    ORDER BY user_id, rank
    """,
    doc="Trajectory/profile similarity (REPOSE-style top-k, EDBT/ICDE "
    "lineage): each user's event stream collapses to a 24-dim "
    "hour-of-day behavior profile (decimal-exact averages), then "
    "pairwise cosine over PROFILES — aggregate-first, so the pairwise "
    "stage runs on one row per user, not per event; the events-side "
    "work is a single groupBy shuffle. Dot products use the "
    "det-round-then-decimal-sum discipline so cosines are "
    "bit-identical across engines. Top-5 peers per user via a "
    "per-user window. At 100 TB the profile table is tiny relative "
    "to raw events; beyond ~100k users the pairwise join swaps in "
    "the broadcast-index kNN kernel above — same layout, same "
    "contract.",
)
def user_profile_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from empdia_iceberg_spark.functions.exact import exact_sum_r6

    ev = load(spark, sf_dir, "events")
    # ONE events pass (r16): norms and the pivot below both aggregate
    # prof, and as lazy branches each re-derived it — two full events
    # scans + groupBy shuffles for one tiny (user, hour) table. An
    # eager localCheckpoint materializes prof once (|users|·24 rows);
    # both branches then read the checkpoint (guide §2.4 — don't
    # compute things twice). Checkpoint, not persist: blocks release
    # with the DataFrame (the profile_orders_stats discipline).
    prof = ev.groupBy(
        "user_id", F.hour("ts").cast("int").alias("hh")
    ).agg(
        (F.sum(F.col("value").cast("decimal(18,2)")).cast("double") / F.count(F.lit(1))).alias("v")
    ).localCheckpoint()
    norms = prof.groupBy("user_id").agg(
        det_round(F.sqrt(exact_sum_r6(F.col("v") * F.col("v"))), 6).alias("nrm")
    )
    # Collapse each user's sparse (hh, v) rows into a DENSE 24-wide row
    # of scalar hour columns (0.0 for unobserved hours — a zero term
    # det-rounds to 0, so the dense dot equals the oracle's shared-hour
    # sparse sum). The pairwise stage then runs over |users| rows
    # instead of |users|·24 — the old per-hh equi-join fanned out to
    # |users|²·24/2 rows and SHUFFLED them all into the dot groupBy;
    # this shape keeps the pair space broadcast-local and shuffles only
    # the |users|² cosine rows already needed for ranking. Flat scalar
    # columns beat an array<double> vector ~2× here: the 24-term dot
    # stays pure register arithmetic in whole-stage codegen with no
    # per-pair array allocation. (user_id, hh) is unique, so the
    # pivot's first() is deterministic.
    # Observed-hour bitmask: the oracle's sparse equi-join only emits a
    # pair at all when the two users SHARE at least one observed hour —
    # a dense a<b join over zero-filled profiles would add cos=0 rows
    # for hour-disjoint pairs (invisible on hour-dense corpora, wrong on
    # sparse ones, e.g. users active in single disjoint hours). Carrying
    # one int of observedness per user and testing mask_a & mask_b ≠ 0
    # in the join condition reproduces the oracle's pair membership
    # exactly; dot values are unaffected (unshared hours contribute
    # exactly-zero terms either way).
    hour_mask = None
    for i in range(24):
        bit = F.when(F.col(str(i)).isNotNull(), F.lit(1 << i)).otherwise(F.lit(0))
        hour_mask = bit if hour_mask is None else hour_mask + bit
    # localCheckpoint: the pivot feeds BOTH sides of the self-join (one
    # materialization instead of two) and makes the user-count gate
    # below a free count on the checkpointed RDD.
    wide = (
        prof.groupBy("user_id")
        .pivot("hh", list(range(24)))
        .agg(F.first("v"))
        .select(
            "user_id",
            hour_mask.cast("int").alias("hmask"),
            *[F.coalesce(F.col(str(i)), F.lit(0.0)).alias(f"h{i}") for i in range(24)],
        )
        .localCheckpoint()
    )
    # The b/na/nb sides below are one row per user — tiny next to raw
    # events, but they SCALE WITH USER COUNT, and a forced broadcast of
    # a fact-scale side fails outright instead of letting AQE fall
    # back. Gate the hints on a ceiling (~200 bytes/user ⇒ ~40 MB at
    # the ceiling) with a shuffle-join fallback past it: SMJ for the
    # equi norm joins, join-with-predicate for the a<b pair join — the
    # same ceiling-plus-fallback posture as the PageRank rank vector
    # (_PR_BROADCAST_MAX_NODES in operators/mining.py).
    n_users = wide.count()
    hint = F.broadcast if n_users <= _PROFILE_BROADCAST_MAX_USERS else (lambda d: d)
    a = wide.select(
        F.col("user_id").alias("user_a"),
        F.col("hmask").alias("amask"),
        *[F.col(f"h{i}").alias(f"a{i}") for i in range(24)],
    )
    b = wide.select(
        F.col("user_id").alias("user_b"),
        F.col("hmask").alias("bmask"),
        *[F.col(f"h{i}").alias(f"b{i}") for i in range(24)],
    )
    # Per-term det_round(·,6) as a scaled LONG (floor(x·10⁶+0.5)), then
    # an exact integer sum: Σk/10⁶ is precisely the oracle's
    # DECIMAL(27,6) sum, and double(Σk)/10⁶ is the same correctly
    # rounded double as the decimal→double cast while |Σk| < 2⁵³
    # (2-decimal event values keep per-pair sums ≤ ~10¹³; the decimal
    # path's own exactness argument in functions/exact.py bounds the
    # same way). All arithmetic stays in whole-stage codegen.
    scaled = [
        F.floor(F.col(f"a{i}") * F.col(f"b{i}") * F.lit(1e6) + F.lit(0.5))
        for i in range(24)
    ]
    total = scaled[0]
    for term in scaled[1:]:
        total = total + term
    dot = total.cast("double") / F.lit(1e6)
    pairs = (
        a.join(
            hint(b),
            (F.col("user_a") < F.col("user_b"))
            & (F.col("amask").bitwiseAND(F.col("bmask")) != 0),
        )
        .select("user_a", "user_b", dot.alias("dot"))
    )
    na = norms.select(F.col("user_id").alias("user_a"), F.col("nrm").alias("na"))
    nb = norms.select(F.col("user_id").alias("user_b"), F.col("nrm").alias("nb"))
    cos = (
        pairs.join(hint(na), "user_a")
        .join(hint(nb), "user_b")
        .select(
            "user_a",
            "user_b",
            det_round(F.col("dot") / (F.col("na") * F.col("nb")), 6).alias("cos_sim"),
        )
    )
    sym = cos.select(
        F.col("user_a").alias("user_id"), F.col("user_b").alias("peer_id"), "cos_sim"
    ).unionByName(
        cos.select(
            F.col("user_b").alias("user_id"), F.col("user_a").alias("peer_id"), "cos_sim"
        )
    )
    # Pin the ranking shuffle's width: AQE sees |users|² cosine rows as
    # "one small partition" (~50 MB here) and coalesces the window's
    # exchange to 1-2 partitions, serializing the sort of the whole pair
    # table on one thread (measured: 2.9 s → 2.1 s whole-query at sf0.1
    # with the explicit width). The explicit hash repartition produces
    # exactly the distribution the window requires, so it REPLACES the
    # window's own exchange rather than adding one; sizing it from
    # spark.sql.shuffle.partitions keeps the cluster posture (pair rows
    # grow as |users|², so wide-and-parallel is always right for this
    # stage — per-user groups are tiny and skew-free by construction).
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    sym = sym.repartition(n_shuffle, "user_id")
    w = W.partitionBy("user_id").orderBy(F.col("cos_sim").desc(), "peer_id")
    return (
        sym.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= PROFILE_TOP_K)
        .select("user_id", "peer_id", "cos_sim", "rank")
        .orderBy("user_id", "rank")
    )


# ----------------------------- embedding-based benchmark decontamination

EMB_DECON_COS = 0.4  # synthetic 64-dim data: >= 0.4 marks the planted tail
EMB_DECON_MOD = 20  # benchmark = every 20th vector (held-out eval proxy)


@register(
    "emb_decontaminate",
    oracle=f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    bench AS (SELECT vec_id AS bid, v AS bv FROM e WHERE vec_id % {EMB_DECON_MOD} = 0),
    corpus AS (SELECT * FROM e WHERE vec_id % {EMB_DECON_MOD} <> 0),
    best AS (
        SELECT c.vec_id, c.label,
               max(list_cosine_similarity(c.v, b.bv)) AS max_cos
        FROM corpus c CROSS JOIN bench b
        GROUP BY c.vec_id, c.label
    )
    SELECT label,
           CAST(count(*) FILTER (max_cos >= {EMB_DECON_COS}) AS BIGINT) AS n_contaminated,
           CAST(count(*) FILTER (max_cos < {EMB_DECON_COS}) AS BIGINT) AS n_clean
    FROM best
    GROUP BY label
    ORDER BY label
    """,
    doc="Embedding-space train/benchmark decontamination (the semantic "
    "complement of the shingle-overlap doc_decontaminate): corpus "
    "vectors whose max cosine against ANY benchmark vector crosses "
    "the threshold are flagged per label. The benchmark side is small "
    "by nature and BROADCASTS, so the corpus scan is map-only with "
    "map-side partial max — no shuffle touches the corpus until the "
    "per-label count rollup. Same JVM zip_with/aggregate fold as "
    "semantic_prune_clusters ⇒ bit-identical cosines across engines.",
)
def emb_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    bench = e.filter(F.col("vec_id") % EMB_DECON_MOD == 0).select(
        F.col("vec_id").alias("bid"), F.col("v").alias("bv")
    )
    corpus = e.filter(F.col("vec_id") % EMB_DECON_MOD != 0)
    cos = jvm_cosine(F.col("v"), F.col("bv")).alias("cos")
    best = (
        corpus.join(F.broadcast(bench))
        .select("vec_id", "label", cos)
        .groupBy("vec_id", "label")
        .agg(F.max("cos").alias("max_cos"))
    )
    flagged = F.col("max_cos") >= EMB_DECON_COS
    return (
        best.groupBy("label")
        .agg(
            F.count(F.when(flagged, 1)).cast("bigint").alias("n_contaminated"),
            F.count(F.when(~flagged, 1)).cast("bigint").alias("n_clean"),
        )
        .orderBy("label")
    )
