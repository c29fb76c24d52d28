"""Similarity-search operators over ``array<float>`` embedding columns.

Two physical strategies for the same logical top-k-by-cosine operator:

1. **HOF path** (:func:`cosine_topk_hof`): zip_with /
   aggregate expressions — zero Python, best when the candidate set is
   already small (post-LSH / post-IVF).
2. **BLAS path** (:func:`cosine_topk_blas`): Arrow-batched ``mapInPandas``
   where each executor batch does one numpy matmul against the broadcast
   query matrix and emits only its local top-k — the 100 TB shape: per-
   partition partial top-k (a few KB per batch) flows into one final
   window, so shuffle volume is O(batches × queries × k), independent of
   corpus size.

IVF (inverted-file) indexing: :func:`ivf_train` learns cell centroids with
distributed Lloyd iterations (groupBy avg — no driver-side vectors except
the k centroids themselves), :func:`ivf_assign` tags every corpus vector
with its nearest cell, and a search restricted to the query's nearest
cells is the ``embed_knn_ivf_nprobe`` contract query shape.

Reference note: the reference repo has no vector search at all (SURVEY.md
§2 — absence); this module is part of the training-data-pipeline
extension surface (BASELINE.json north star).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType, IntegerType, LongType, StructField, StructType,
)

from ..functions.vectors import cosine_similarity
from ..sources import widen

TOPK_SCHEMA = StructType([
    StructField("query_id", LongType()),
    StructField("neighbor_id", LongType()),
    StructField("sim", DoubleType()),
])


def cosine_topk_hof(queries: DataFrame, corpus: DataFrame, k: int,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding") -> DataFrame:
    """Brute-force cosine top-k, pure Catalyst expressions.

    ``queries`` is broadcast; ties on the 9-decimal-rounded similarity are
    broken by neighbor id so results are deterministic across engines and
    partitionings. RANK semantics: ties at the k-th place are all kept.
    """
    q = queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).alias("q_emb"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"),
                      F.col(vec_col).alias("c_emb"))
    sims = (F.broadcast(q).crossJoin(c)
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .select("query_id", "neighbor_id",
                    cosine_similarity(F.col("q_emb"), F.col("c_emb"))
                    .alias("sim")))
    return _final_topk(sims, k)


def cosine_topk_blas(queries: DataFrame, corpus: DataFrame, k: int,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """Brute-force cosine top-k via per-batch numpy matmul.

    The (small) query set is collected once, L2-normalized, and broadcast
    to executors; each Arrow batch of the corpus becomes one
    ``C_norm @ Q_norm.T`` GEMM, and only rows that can reach the final
    top-k (per-batch rank-with-ties <= k on the rounded similarity)
    leave the batch. The final exact rank runs over those candidates.
    """
    import numpy as np

    rows = queries.select(F.col(id_col).alias("qid"),
                          F.col(vec_col).alias("emb")).collect()
    qids = np.array([r["qid"] for r in rows], dtype=np.int64)
    qmat = np.array([r["emb"] for r in rows], dtype=np.float64)
    qnorm = np.linalg.norm(qmat, axis=1, keepdims=True)
    qnorm[qnorm == 0] = np.nan  # cosine undefined for zero vectors
    qn = qmat / qnorm
    sc = corpus.sparkSession.sparkContext
    bc = sc.broadcast((qids, qn))

    def fn(batches):
        import pandas as pd
        b_qids, b_qn = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["neighbor_id"].to_numpy(dtype=np.int64)
            cmat = np.array(list(pdf["emb"]), dtype=np.float64)
            cnorm = np.linalg.norm(cmat, axis=1, keepdims=True)
            cnorm[cnorm == 0] = np.nan
            sims = (cmat / cnorm) @ b_qn.T          # (batch, n_queries)
            out_q, out_n, out_s = [], [], []
            for j, qid in enumerate(b_qids):
                col = sims[:, j]
                mask = ids != qid
                cand_ids, cand = ids[mask], col[mask]
                # zero-norm query/corpus rows produce NaN here but NULL in
                # the HOF path (where NULL sorts last in the descending
                # rank, NaN would sort first): carry them through as NULLs
                # so both physical strategies agree.
                isnan = np.isnan(cand)
                nan_ids = cand_ids[isnan]
                fin_ids, fin = cand_ids[~isnan], cand[~isnan]
                rounded = np.round(fin, 9)
                if len(fin) > k:
                    # keep rank-with-ties <= k: everything >= the k-th
                    # largest rounded sim (duplicates counted) can still
                    # place in the global top-k; nothing below it can.
                    # epsilon margin: numpy rounds half-even while the
                    # final Spark rank rounds HALF_UP — keep anything
                    # within an ulp of the cut and let the exact rank
                    # decide.
                    t = np.partition(rounded, -k)[-k]
                    keep = rounded >= t - 1e-9
                    fin_ids, fin = fin_ids[keep], fin[keep]
                n_out = len(fin) + len(nan_ids)
                out_q.append(np.full(n_out, qid, dtype=np.int64))
                out_n.append(np.concatenate([fin_ids, nan_ids]))
                out_s.append(np.concatenate(
                    [fin, np.full(len(nan_ids), np.nan)]))
            # nullable Float64: NaN -> <NA> -> Arrow null -> Spark NULL
            sim_col = pd.array(np.concatenate(out_s), dtype="Float64")
            yield pd.DataFrame({"query_id": np.concatenate(out_q),
                                "neighbor_id": np.concatenate(out_n),
                                "sim": sim_col})

    c = widen(corpus).select(F.col(id_col).alias("neighbor_id"),
                             F.col(vec_col).alias("emb"))
    partial = c.mapInPandas(fn, TOPK_SCHEMA)
    return _final_topk(partial, k)


def _final_topk(sims: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(
        F.desc(F.round("sim", 9)), "neighbor_id")
    # + 0.0 after the ROUND: a cosine a few ulps below zero rounds to
    # -0.0 in DuckDB but +0.0 in Spark's BigDecimal ROUND (the signed-
    # zero hash-divergence class); IEEE -0.0 + 0.0 = +0.0 normalizes
    # both sides, every other value unchanged
    return (sims.withColumn("knn_rank", F.rank().over(w))
                .filter(F.col("knn_rank") <= k)
                .select("query_id", "neighbor_id",
                        (F.round("sim", 6) + F.lit(0.0)).alias("sim"),
                        "knn_rank"))


# ---------------------------------------------------------------------------
# IVF: train / assign / search
# ---------------------------------------------------------------------------

def ivf_train(corpus: DataFrame, n_cells: int, n_iters: int = 2,
              id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Learn ``n_cells`` centroids with distributed Lloyd iterations.

    Deterministic init: the vectors with the ``n_cells`` smallest ids.
    Each iteration assigns every vector to its nearest centroid (broadcast
    nested-loop over the tiny centroid set) and recomputes centroids as
    per-cell dimension means via posexplode + groupBy — all shuffles are
    keyed by (cell, dim); no vector data ever sits on the driver.
    Returns (cell int, centroid array<double>).
    """
    wn = Window.orderBy(id_col)
    centroids = (corpus.orderBy(id_col).limit(n_cells)
                 .select((F.row_number().over(wn) - 1).cast("int").alias("cell"),
                         F.col(vec_col).cast("array<double>").alias("centroid")))
    for _ in range(n_iters):
        assigned = ivf_assign(corpus, centroids, id_col=id_col, vec_col=vec_col)
        centroids = (assigned
                     .select("cell", F.posexplode(vec_col).alias("dim", "val"))
                     .groupBy("cell", "dim")
                     .agg(F.avg(F.col("val").cast("double")).alias("m"))
                     .groupBy("cell")
                     .agg(F.array_sort(
                         F.collect_list(F.struct("dim", "m"))).alias("dm"))
                     .select("cell", F.transform("dm", lambda s: s["m"])
                             .alias("centroid")))
    return centroids


def ivf_assign(corpus: DataFrame, centroids: DataFrame,
               id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Tag each vector with its nearest centroid's cell id (max cosine,
    ties to the lowest cell id). Broadcast NLJ against the centroid set
    then a per-vector rank — the shuffle is keyed by the corpus row, so
    this scales linearly in corpus size."""
    sim = cosine_similarity(F.col(vec_col), F.col("centroid"))
    w = Window.partitionBy(id_col).orderBy(F.desc(F.round(sim, 9)), "cell")
    return (corpus.crossJoin(F.broadcast(centroids))
            .withColumn("cell_rank", F.row_number().over(w))
            .filter(F.col("cell_rank") == 1)
            .drop("cell_rank", "centroid"))


def ivf_search(queries: DataFrame, assigned_corpus: DataFrame,
               centroids: DataFrame, k: int, nprobe: int = 1,
               id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """ANN search restricted to each query's ``nprobe`` nearest cells.

    Probing multiple cells trades recall for cost exactly like FAISS IVF;
    the per-cell equi-join replaces the all-pairs cross join, so work
    scales with corpus/n_cells × nprobe."""
    sim = cosine_similarity(F.col(vec_col), F.col("centroid"))
    w = Window.partitionBy(id_col).orderBy(F.desc(F.round(sim, 9)), "cell")
    probes = (queries.crossJoin(F.broadcast(centroids))
              .withColumn("r", F.row_number().over(w))
              .filter(F.col("r") <= nprobe)
              .select(F.col(id_col).alias("query_id"),
                      F.col(vec_col).alias("q_emb"), "cell"))
    c = assigned_corpus.select(F.col(id_col).alias("neighbor_id"),
                               F.col(vec_col).alias("c_emb"), "cell")
    sims = (c.join(F.broadcast(probes), "cell")
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .select("query_id", "neighbor_id",
                    cosine_similarity(F.col("q_emb"), F.col("c_emb"))
                    .alias("sim")))
    return _final_topk(sims, k)


def ivf_index_health(assigned_base: DataFrame, assigned_new: DataFrame,
                     base_overfetch: int = 2, overfetch_cap: int = 50,
                     cell_col: str = "cell") -> DataFrame:
    """Health report for an IVF index under incremental ingest — the
    operational counterpart of :func:`ivf_assign` used as the ingest
    path (new vectors assigned to the FIXED build-time centroids; index
    params are fixed at build in production, re-train is a deliberate
    rebuild).

    Per cell: build-time membership ``n_base``, ingested ``n_new``,
    current ``n_now``, current occupancy ``share_now`` (a cell drifting
    toward a large share is the skew signal that degrades the nprobe
    cost model), and per-cell ``density_ratio`` = n_now / n_base.
    Globally: ``suggested_overfetch`` — the round-17 ANN decade
    measured ADC recall@10 degrading with corpus DENSITY at fixed
    overfetch (0.60 → 0.37 → 0.28 across 1×/10×/100×) while widening
    the exact rerank was nearly free (overfetch 50 recovered 0.91 at
    flat wall, SCALING.md "ANN scale decade"), so the operating rule is
    to scale overfetch with density growth, not nprobe:
    ``clamp(ceil(base_overfetch × total_now/total_base),
    base_overfetch, overfetch_cap)``.

    Both inputs only need ``cell_col``; counts shuffle by cell (tiny —
    the coarse-quantizer cardinality) and the two totals ride a 1-row
    broadcast, so the report costs two cell-keyed aggregates at any
    corpus size.
    """
    nb = (assigned_base.groupBy(cell_col)
          .agg(F.count(F.lit(1)).alias("n_base")))
    nn = (assigned_new.groupBy(cell_col)
          .agg(F.count(F.lit(1)).alias("n_new")))
    per = (nb.join(nn, cell_col, "full_outer")
           .select(F.col(cell_col),
                   F.coalesce("n_base", F.lit(0)).alias("n_base"),
                   F.coalesce("n_new", F.lit(0)).alias("n_new")))
    per = per.withColumn("n_now", F.col("n_base") + F.col("n_new"))
    tot = per.agg(F.sum("n_base").alias("tb"), F.sum("n_now").alias("tn"))
    tot = tot.select(
        "tb", "tn",
        F.least(F.lit(overfetch_cap),
                F.greatest(F.lit(base_overfetch),
                           F.ceil(F.lit(float(base_overfetch))
                                  * F.col("tn") / F.col("tb"))))
        .cast("long").alias("suggested_overfetch"))
    return (per.crossJoin(F.broadcast(tot))
            .select(cell_col, "n_base", "n_new", "n_now",
                    (F.round(F.col("n_now") / F.col("tn"), 6)
                     + F.lit(0.0)).alias("share_now"),
                    (F.round(F.col("n_now")
                             / F.nullif(F.col("n_base"), F.lit(0)), 6)
                     + F.lit(0.0)).alias("density_ratio"),
                    "suggested_overfetch"))


# ---------------------------------------------------------------------------
# SemDeDup: semantic dedup via centroid buckets + in-cell cosine pairs
# ---------------------------------------------------------------------------

SEMDEDUP_CELL_CAP = 10_000


def _semdedup_pairs(assigned: DataFrame, threshold: float,
                    cell_cap: int) -> DataFrame:
    """In-cell duplicate candidate pairs: broadcast-anti-join away hot
    cells (> ``cell_cap`` members), then a self EQUI-join on cell with
    ``id_a < id_b`` and 9-decimal-rounded cosine >= ``threshold``. The
    equi-join keeps the stage keyed (never cartesian); the round
    stabilizes the threshold comparison across engines/fold orders."""
    hot = (assigned.groupBy("cell")
           .agg(F.count(F.lit(1)).alias("cn"))
           .filter(F.col("cn") > cell_cap)
           .select("cell"))
    pairable = assigned.join(F.broadcast(hot), ["cell"], "left_anti")
    a = pairable.select(F.col("__sd_id").alias("id_a"),
                        F.col("__sd_emb").alias("emb_a"), "cell")
    b = pairable.select(F.col("__sd_id").alias("id_b"),
                        F.col("__sd_emb").alias("emb_b"), "cell")
    return (a.join(b, "cell")
            .filter(F.col("id_a") < F.col("id_b"))
            .filter(F.round(cosine_similarity(F.col("emb_a"),
                                              F.col("emb_b")), 9)
                    >= threshold)
            .select("id_a", "id_b"))


def semdedup(corpus: DataFrame, n_cells: int, threshold: float,
             quality_col: str | None = None, n_iters: int = 2,
             id_col: str = "vec_id", vec_col: str = "embedding",
             cell_cap: int = SEMDEDUP_CELL_CAP) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster embeddings with k-means, compare pairs
    ONLY within a cluster, drop all but one member of each semantic-
    duplicate group.

    Why this scales where pairwise cosine doesn't: the all-pairs cosine
    matrix is O(N²); restricting comparisons to k-means cells makes it
    O(Σ|cell|²) ≈ O(N²/n_cells) — pick n_cells ∝ N and the expected
    per-cell work stays constant. Every stage is a keyed shuffle:

    1. :func:`ivf_train` / :func:`ivf_assign` — distributed Lloyd, then
       a broadcast-NLJ nearest-centroid tag (the only non-equi join, and
       its build side is the ``n_cells``-row centroid table).
    2. In-cell candidate pairs — a self **equi-join on cell** with
       ``id_a < id_b`` and ``cosine >= threshold``. Cells larger than
       ``cell_cap`` are excluded from pairing via a broadcast anti-join
       first (the LSH hot-bucket discipline, contract/extensions.py
       ``dedup_minhash_lsh``): one degenerate cell must never schedule a
       quadratic stage. At real scale a cell that big means n_cells is
       undersized — raise it rather than the cap.
    3. :func:`~..operators.clustering.propagate_min_labels` — bounded
       min-label propagation groups transitive duplicates (A~B, B~C ⇒
       one group even when cos(A,C) < threshold, matching the paper's
       connected-component reading of "semantic duplicate set").
    4. Keeper election — per group keep the max-``quality_col`` member
       (ties → min id), else min id when no quality column is given.
       One groupBy + one row_number window over groups, never over the
       corpus.

    Returns (``id_col``, ``sem_cluster``, ``keep``) — full assignment,
    so callers can either semi-join the keepers or audit the drops.
    ``sem_cluster`` is the group minimum id for duplicated docs and the
    doc's own id for singletons (including members of capped cells,
    which degrade to "kept, untouched" exactly like capped LSH buckets).

    Reference note: the reference repo has no semantic dedup (SURVEY.md
    §2 absence) — this is training-data-pipeline extension surface.
    """
    from .clustering import propagate_min_labels

    centroids = ivf_train(corpus, n_cells, n_iters=n_iters,
                          id_col=id_col, vec_col=vec_col)
    assigned = (ivf_assign(corpus, centroids, id_col=id_col,
                           vec_col=vec_col)
                .select(F.col(id_col).alias("__sd_id"),
                        F.col(vec_col).alias("__sd_emb"), "cell")
                .localCheckpoint())  # pair join + labels reuse it; don't
    # re-run Lloyd's assignment NLJ once per downstream consumer
    pairs = _semdedup_pairs(assigned, threshold, cell_cap)
    labels = propagate_min_labels(pairs, src="id_a", dst="id_b")
    # propagate_min_labels eagerly checkpoints its edge list, so nothing
    # downstream references `assigned` anymore (the keeper election and
    # the final assignment both read `corpus`) — free the id+emb+cell
    # blocks now instead of holding a corpus-sized relation until GC
    from ..session import free_local_checkpoint
    free_local_checkpoint(assigned)
    # group -> keeper id; quality rides in via one equi-join on the
    # (small) duplicated subset, not the whole corpus
    if quality_col is not None:
        q = corpus.select(F.col(id_col).alias("id"),
                          F.col(quality_col).cast("double").alias("__sd_q"))
        ranked = labels.join(q, "id")
        w = Window.partitionBy("label").orderBy(F.desc("__sd_q"), "id")
    else:
        ranked = labels
        w = Window.partitionBy("label").orderBy("id")
    keepers = (ranked.withColumn("__sd_r", F.row_number().over(w))
               .select(F.col("id"), F.col("label").alias("sem_cluster"),
                       (F.col("__sd_r") == 1).alias("keep")))
    out = (corpus.select(id_col)
           .join(keepers.withColumnRenamed("id", id_col), id_col, "left")
           .select(id_col,
                   F.coalesce("sem_cluster", F.col(id_col))
                   .alias("sem_cluster"),
                   F.coalesce("keep", F.lit(True)).alias("keep")))
    return out
