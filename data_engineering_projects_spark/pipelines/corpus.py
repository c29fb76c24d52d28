"""End-to-end training-corpus preparation: scrub → quality gate → exact
dedup → near dedup → split assign, as ONE composed pipeline with a
single-pass audit report.

Each stage is the already-contract-checked building block (PII scrub =
``functions/pii.py``; quality = the ``text_quality`` expression via
``_quality_score_project``; exact dedup = the ``dedup_exact`` fingerprint;
near dedup = the ``dedup_minhash_lsh`` candidate/verify pair + the
``dedup_clusters`` bounded min-label CC with quality-keeper canonical
selection; split = the ``docs_split_assign`` deterministic hash) — this
module contributes the COMPOSITION: stage ordering, the flag-column audit
design, and the keep/drop wiring between stages.

Audit design (the scale-relevant part): stage outcomes are computed as
*flag columns on one wide per-doc frame* rather than materialized
intermediate tables, so the full audit report — rows in/out per stage —
is ONE aggregation over one persisted relation. A naive compose-and-count
pipeline runs a count job per stage, each re-reading the corpus; here raw
text is read once, the expensive projections (tokenize, shingle, minhash)
run once, and only the near-dup join stage touches a second relation
(the candidate pairs, which are bounded by the LSH bucket cap).

Stage ordering is load-bearing and documented: scrub BEFORE dedup (the
redacted text is the dedup identity — two docs differing only in an
embedded email are duplicates), quality gate BEFORE near-dup (don't pay
shingle/minhash for docs that will be dropped anyway; the keeper choice
inside a cluster ranks by the SAME quality score so the gate cannot
invert it), split LAST (splits must be over the final dedup survivors or
leakage re-enters through dropped-but-similar docs).

Reference note: the reference has no corpus-preparation pipeline (its
five pipelines are warehouse ELT — SURVEY.md §2); this composes the
training-data extension surface end-to-end (BASELINE.json north star).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..contract.extensions import (
    _LSH_BUCKET_CAP,
    _mh_bands,
    _mh_candidates,
    _mh_hot_buckets,
    _mh_signatures,
    _mh_verify,
    quality_score_col,
)
from ..functions.pii import scrub_pii
from ..functions.text import (
    md5_hash64,
    normalize_text,
    shingles_from_tokens,
    tokens,
)
from ..operators.clustering import propagate_min_labels


def _shingle_sets(df: DataFrame, shingle_k: int) -> DataFrame:
    """(doc_id, shs): the shared hashed-shingle projection both the
    batch pipeline and the incremental extender dedup on."""
    return df.select(
        "doc_id", F.array_distinct(
            F.transform(
                shingles_from_tokens(tokens(F.col("text")), shingle_k),
                lambda sh: md5_hash64(sh, seed=0))).alias("shs"))


def _barrier(df: DataFrame, reliable: bool) -> DataFrame:
    """The pipeline's eager materialization barrier (round 15, verdict
    #2 follow-up): one helper behind both durability modes so every
    barrier site makes the same trade.

    ``reliable=False`` (default): eager ``localCheckpoint`` —
    lineage-truncating (kills the with-depth Catalyst re-analysis tax,
    round 14 verdict #5) and zero extra I/O, but blocks are NOT
    recomputable after executor loss: on a multi-executor cluster a
    lost executor mid-query fails the query instead of recomputing.
    Right default for local mode and for clusters where re-running a
    failed batch is acceptable (the corpus stream's replay protocol
    makes re-runs safe by construction).

    Built under ``session.aqe_disabled`` (round 17): a checkpoint
    records its physical plan's outputPartitioning into the LogicalRDD,
    which is exactly what the ``repartition(key)`` call sites here rely
    on so that every downstream consumer keyed the same way skips its
    exchange — but under AQE the captured plan is the un-finalized
    AdaptiveSparkPlan and the recorded partitioning degrades to
    Unknown, silently re-inserting one exchange PER CONSUMER (measured
    on orders_scd2_current, same mechanism; the round-13/14 "partition
    once, consume thrice" design had been quietly repaying those
    shuffles since AQE went on). The barrier subquery itself loses
    AQE's runtime coalescing for its own build — at any scale the
    barrier inputs are already sized by the pipeline's explicit
    repartitions, and the exchange-per-consumer saving dominates.

    ``reliable=True``: eager RELIABLE ``checkpoint`` to the session's
    checkpoint dir (HDFS/object store on a real cluster) — same
    barrier, same lineage truncation, executor-loss survivable, at the
    cost of writing + re-reading each barrier relation through the
    checkpoint filesystem (A/B at fixture scale in SCALING.md; checkpoint
    FILES are reclaimed by Spark's ContextCleaner when
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true``, else at
    checkpoint-dir cleanup). Side effect worth knowing: reliable
    barrier frames stay REUSABLE after ``CorpusResult.unpersist``
    (they re-read their files), softening the round-14 unpersist
    finality for callers that opt in. Requires
    ``spark.sparkContext.setCheckpointDir(...)`` — raises with
    deployment guidance when unset rather than failing mid-plan."""
    from ..session import aqe_disabled
    if not reliable:
        with aqe_disabled(df.sparkSession):
            return df.localCheckpoint(eager=True)
    if df.sparkSession.sparkContext.getCheckpointDir() is None:
        raise ValueError(
            "reliable_barriers=True needs a reliable checkpoint dir: "
            "call spark.sparkContext.setCheckpointDir(<HDFS/object-"
            "store path>) first (a path every executor can read)")
    with aqe_disabled(df.sparkSession):
        return df.checkpoint(eager=True)


def _split_expr(split_weights: dict[str, float], split_seed: int):
    """Deterministic split assignment: hash-bucket against cumulative
    weight boundaries, first matching boundary wins."""
    bucket = F.pmod(F.xxhash64("doc_id", F.lit(split_seed)), F.lit(10_000))
    acc, cases = 0.0, []
    for name, wgt in split_weights.items():
        acc += wgt
        cases.append((bucket < F.lit(int(round(acc * 10_000))), name))
    out = F.lit(cases[-1][1])
    for cond, name in reversed(cases[:-1]):
        out = F.when(cond, name).otherwise(out)
    return out


@dataclass
class CorpusResult:
    """``docs``: final corpus (doc_id, text, source, lang, quality_score,
    split); ``report``: one row per stage (stage, docs_in, docs_out);
    ``audit``: the wide per-doc flag frame (has_text / quality_ok /
    exact_keep / near_keep) for drill-down; ``sets``: the persisted
    (doc_id, shs) hashed-shingle relation of the exact-dedup survivors
    (round 12 — callers chaining a second dedup tier reuse it instead
    of re-tokenizing; valid because survivor text is unchanged
    downstream); ``_persisted``: the cached upstream relations — call
    :meth:`unpersist` when done (``sets`` is among them).

    **unpersist finality (round 14)**: the pipeline's internal barriers
    are eager ``localCheckpoint`` frames (lineage-truncating — see
    prepare_corpus), so :meth:`unpersist` now INVALIDATES the result
    frames rather than merely releasing caches: a checkpointed frame's
    truncated lineage cannot recompute once its blocks are freed, and a
    later action on ``docs``/``audit``/``sets`` (or anything derived
    from them) fails with a missing-block error instead of silently
    recomputing. Materialize (collect / write / localCheckpoint) every
    result you still need BEFORE calling it — the contract every
    in-repo caller already follows."""
    docs: DataFrame
    report: DataFrame
    audit: DataFrame
    _persisted: list
    sets: DataFrame | None = None

    def unpersist(self) -> None:
        from ..session import free_local_checkpoint
        for df in self._persisted:
            df.unpersist()                 # cached frames
            free_local_checkpoint(df)      # checkpoint barriers (r14)


def prepare_corpus(docs: DataFrame, *, quality_min: float = 0.2,
                   jaccard_min: float = 0.5, shingle_k: int = 3,
                   split_weights: dict[str, float] | None = None,
                   split_seed: int = 42,
                   cc_iters: int = 6,
                   reliable_barriers: bool = False) -> CorpusResult:
    """Compose the corpus-prep stages over a (doc_id, text, source, lang)
    relation. See module docstring for ordering rationale.

    Keeper policy (exact and near tiers): highest quality score, ties by
    lowest doc_id — deterministic, and the kept doc is the one the
    quality gate already ranked best.
    """
    split_weights = split_weights or {"train": 0.9, "val": 0.05,
                                      "test": 0.05}

    scrubbed = docs.select(
        "doc_id", "source", "lang",
        scrub_pii(F.col("text")).alias("text"))

    # quality inline (round 12): the score is row-local, so computing it
    # in the same projection replaces a shuffle join of the relation
    # against its own quality projection; quality_score_col is THE
    # shared expression, so values cannot drift from text_quality.
    base = (scrubbed
            .withColumn("q", quality_score_col(F.col("text")))
            .withColumn("has_text",
                        F.col("text").isNotNull())
            .withColumn("quality_ok",
                        F.coalesce(F.col("q") >= quality_min,
                                   F.lit(False))))

    # exact dedup among quality survivors: best-quality doc per
    # normalized-text fingerprint keeps; NULL text never enters (flag
    # already false) — empty/whitespace docs share the md5('') group.
    fp = md5_hash64(normalize_text(F.col("text")), seed=0)
    alive = F.col("has_text") & F.col("quality_ok")
    # dropped docs partition by their own doc_id (not one shared NULL
    # key): a mostly-filtered corpus must not funnel every dropped row
    # into a single window partition.
    w = Window.partitionBy(
        F.when(alive, fp).otherwise(F.col("doc_id"))).orderBy(
        F.col("q").desc_nulls_last(), F.col("doc_id"))
    persisted = base.withColumn(
        "exact_keep", alive & (F.row_number().over(w) == 1)).persist()

    # near dedup over exact survivors: LSH candidates -> exact-Jaccard
    # verify -> bounded min-label CC -> quality keeper per cluster.
    survivors = persisted.filter("exact_keep")
    # eagerly materialized (rounds 12+13): the shingle-set relation is
    # read by BOTH verify sides plus signature generation, and those
    # consumers' query stages materialize CONCURRENTLY under AQE — a
    # lazy barrier leaves each of them re-running the full
    # scrub+quality+window+tokenize+shingle lineage in parallel before
    # the cache lands (the r12 "13 s -> 7 s" persist only fixed the
    # sequential re-pay); the eager materialization also builds the
    # upstream `persisted` frame's cache in the same pass.
    # pre-partitioned by doc_id (round-13 twin-stage audit): both
    # verify joins key the sets side by doc_id; a doc_id-partitioned
    # barrier satisfies both distribution requirements, so the relation
    # shuffles ONCE here instead of once per verify side.
    # eager localCheckpoint, not persist+count (round 14, verdict #5):
    # same materialization barrier (AQE-concurrency serialization, doc_id
    # partitioning preserved through LogicalRDD), but the checkpoint also
    # TRUNCATES lineage — every later action in the chain re-analyzes the
    # accumulated tree, so with persist barriers Catalyst planning grew
    # with chain depth (measured: 4.3-4.4 s of inter-job planning gap per
    # corpus_extend_admissions run; 3.1-3.5 s with checkpoints, wall
    # 7.8-8.0 -> 6.4-7.2 s, 63 -> 58 jobs). Blocks are freed by
    # CorpusResult.unpersist via free_local_checkpoint. Cluster caveat,
    # same trade orders_scd2_current adjudicated in r11: checkpoint
    # blocks are not recomputable after executor loss — acceptable for
    # barriers consumed within the same query, documented here.
    # durability mode via _barrier (round 15, verdict follow-up):
    # reliable_barriers=True swaps every localCheckpoint barrier for a
    # reliable checkpoint — executor-loss survivable on a cluster.
    sets = _barrier(_shingle_sets(survivors, shingle_k)
                    .repartition("doc_id"), reliable_barriers)
    extra_persists: list = [sets]
    # threshold on the RAW jaccard inside the verify (round 12): the
    # rounded output column sits one ulp from the oracle's decision at
    # an exact half boundary, the raw quotient is bit-exact cross-engine
    pairs = (_mh_verify(sets, _mh_candidates(sets,
                                             persisted_out=extra_persists),
                        min_jaccard=jaccard_min)
             .select("doc_a", "doc_b"))
    labels = propagate_min_labels(pairs, iters=cc_iters)
    clustered = (survivors.join(labels, survivors.doc_id == labels.id,
                                "left")
                 .withColumn("cluster",
                             F.coalesce(F.col("label"), F.col("doc_id"))))
    keep_w = Window.partitionBy("cluster").orderBy(
        F.col("q").desc_nulls_last(), F.col("doc_id"))
    kept = (clustered.withColumn("rn", F.row_number().over(keep_w))
            .filter(F.col("rn") == 1)
            .select(F.col("doc_id").alias("keep_id")))

    audit = persisted.join(
        kept, persisted.doc_id == kept.keep_id, "left").withColumn(
        "near_keep", F.col("exact_keep") & F.col("keep_id").isNotNull()
    ).drop("keep_id")

    # deterministic split over the FINAL survivors
    out = _split_expr(split_weights, split_seed)

    final = (audit.filter("near_keep")
             .select("doc_id", "text", "source", "lang",
                     F.col("q").alias("quality_score"),
                     out.alias("split")))

    agg = audit.agg(
        F.count("*").alias("total"),
        F.sum(F.col("has_text").cast("long")).alias("with_text"),
        F.sum((F.col("has_text") & F.col("quality_ok")).cast("long"))
         .alias("quality_pass"),
        F.sum(F.col("exact_keep").cast("long")).alias("exact_kept"),
        F.sum(F.col("near_keep").cast("long")).alias("near_kept"))
    report = agg.select(F.explode(F.array(
        F.struct(F.lit("input").alias("stage"),
                 F.col("total").alias("docs_in"),
                 F.col("with_text").alias("docs_out")),
        F.struct(F.lit("quality_gate").alias("stage"),
                 F.col("with_text").alias("docs_in"),
                 F.col("quality_pass").alias("docs_out")),
        F.struct(F.lit("exact_dedup").alias("stage"),
                 F.col("quality_pass").alias("docs_in"),
                 F.col("exact_kept").alias("docs_out")),
        F.struct(F.lit("near_dedup").alias("stage"),
                 F.col("exact_kept").alias("docs_in"),
                 F.col("near_kept").alias("docs_out")),
    )).alias("s")).select("s.stage", "s.docs_in", "s.docs_out")

    return CorpusResult(docs=final, report=report, audit=audit,
                        _persisted=[persisted, *extra_persists],
                        sets=sets)


def extend_corpus(corpus_docs: DataFrame, new_docs: DataFrame, *,
                  quality_min: float = 0.2, jaccard_min: float = 0.5,
                  shingle_k: int = 3,
                  split_weights: dict[str, float] | None = None,
                  split_seed: int = 42,
                  corpus_sets: DataFrame | None = None,
                  corpus_bands: DataFrame | None = None,
                  corpus_fps: DataFrame | None = None,
                  reliable_barriers: bool = False) -> CorpusResult:
    """Incremental corpus growth — the production shape (corpora are
    never rebuilt; batches land): admit from ``new_docs`` only what is
    clean, good, and novel against BOTH the existing corpus and the rest
    of the batch. Admitted docs carry the full prepare_corpus contract
    (including a deterministic ``split``), the report gains two corpus-
    tier stages (``corpus_exact_dedup``, ``corpus_near_dedup``) so it
    reconciles with ``docs``, and the audit gains a ``corpus_keep`` flag.

    **Corpus stability invariant**: existing corpus rows are never
    evicted or re-ranked — a new near-duplicate of a kept doc is dropped
    even if it scores higher (re-opening old keep decisions would
    invalidate every downstream artifact trained on them). Within the
    batch, the quality keeper applies as in :func:`prepare_corpus`.

    Consequence (pinned in tests): extending with an already-admitted
    batch admits ZERO rows, so at-least-once batch delivery is safe once
    the caller unions admitted docs into the corpus between batches.

    Identity policy: ``doc_id`` IS the delivery identity. Batch rows
    whose id already exists in the corpus are prior deliveries and are
    skipped up front — by id, content ignored (a redelivery with EDITED
    text is a rewrite migration, not an ingest; same policy family as
    the SCD2 late-update rule). This also keeps the id spaces feeding
    the candidate self-join disjoint by construction, which the
    ``doc_a < doc_b`` predicate requires.

    Candidate generation probes the band index ONE-SIDED (round 12):
    the index and its hot-bucket cap are built over corpus ∪ batch (so
    cap decisions are identical to a combined self-join), but only
    (corpus band) × (batch band) joins run — corpus-corpus candidates,
    quadratic-ish in corpus age, are never generated.

    State-reuse hooks (round 12 — the fully incremental production
    shape; decisions identical by construction since each state IS the
    relation the default path recomputes): ``corpus_sets`` = the
    (doc_id, shs) shingle relation of ``corpus_docs`` (feeds the exact-
    Jaccard verify's corpus side), ``corpus_bands`` = its
    (doc_id, band, band_key) minhash band index (kills the corpus-side
    signature compute), ``corpus_fps`` = its distinct-able (fp)
    fingerprint relation for the exact tier. With all three supplied
    the corpus TEXT column is never read — per-batch corpus access
    reduces to one pruned doc_id scan plus the fixed-width index
    states. The contract's ``corpus_extend_admissions`` supplies all
    three; callers without state get the self-contained recompute.
    """
    split_weights = split_weights or {"train": 0.9, "val": 0.05,
                                      "test": 0.05}
    # id-identity replay skip (see docstring): rows whose doc_id is
    # already in the corpus were delivered before
    new_docs = new_docs.join(corpus_docs.select("doc_id"), "doc_id",
                             "left_anti")

    res = prepare_corpus(new_docs, quality_min=quality_min,
                         jaccard_min=jaccard_min, shingle_k=shingle_k,
                         split_weights=split_weights,
                         split_seed=split_seed,
                         reliable_barriers=reliable_barriers)
    batch = res.docs

    # exact tier vs corpus: the corpus text is already scrubbed, the
    # batch text came scrubbed out of prepare_corpus — same identity.
    # corpus_fps: the maintained (fp) fingerprint state, when supplied
    # — with all three states the corpus TEXT column is never read in
    # this function (only its pruned doc_id column, for the id skip).
    fp = md5_hash64(normalize_text(F.col("text")), seed=0)
    cfps = (corpus_fps.select(F.col("fp").alias("__fp"))
            if corpus_fps is not None
            else corpus_docs.select(fp.alias("__fp"))).distinct()
    after_exact = (batch.withColumn("__fp", fp)
                   .join(cfps, "__fp", "left_anti").drop("__fp"))

    # near tier vs corpus, ONE-SIDED band probing (round 12 — previously
    # a self-join over the combined corpus ∪ batch band index generated
    # corpus-corpus and batch-batch candidates only to discard them; at
    # scale the corpus-corpus side is quadratic-ish in corpus age, and
    # this is the production shape the docstring already prescribed):
    # the band index is built over corpus ∪ survivors so the hot-bucket
    # cap counts COMBINED bucket sizes — candidate decisions are
    # bit-identical to the two-sided form — but only (corpus band) ×
    # (batch band) joins run, emitting exactly the cross pairs the drop
    # decision reads. after_exact and the combined set relation are
    # persisted: after_exact feeds the batch-side shingle sets, the
    # admitted anti-join, and the report counts; the combined sets feed
    # signature generation plus both verify sides.
    after_exact = _barrier(after_exact, reliable_barriers)
    # eager checkpoint barrier: see prepare_corpus (round 14) — concurrent AQE
    # stages (bset semi-join, admitted anti-join, report counts) would
    # otherwise each re-run the exact-tier anti-join lineage in parallel
    # corpus_sets: callers that maintain the corpus shingle index as
    # state (the incremental production shape, or a memoized projection
    # of the same corpus) pass it in; it must be the (doc_id, shs)
    # relation _shingle_sets would compute over corpus_docs. Default
    # recomputes. Batch-side sets reuse the prepare-tier relation
    # (res.sets ⋉ after_exact — survivor text is unchanged, so the
    # tokenize+shingle pass is not repaid).
    cset = (corpus_sets.select("doc_id", "shs")
            if corpus_sets is not None
            else _shingle_sets(corpus_docs, shingle_k)) \
        .withColumn("is_new", F.lit(False))
    bset = (res.sets.join(after_exact.select("doc_id"), "doc_id",
                          "left_semi")
            .withColumn("is_new", F.lit(True)))
    # repartition by doc_id before persist (round-13 twin-stage audit):
    # the two verify sides join this relation by doc_id, so the cached
    # partitioning serves both joins and the union shuffles once here
    # instead of once per side; eager count for the same AQE-concurrency
    # reason as prepare_corpus
    both = _barrier(cset.unionByName(bset).repartition("doc_id"),
                    reliable_barriers)
    extra: list = [after_exact, both]
    if corpus_bands is not None:
        # band-index state (round 12): the caller maintains the corpus
        # band index incrementally, so the corpus side's minhash — the
        # last per-batch term proportional to corpus age — is never
        # recomputed; only the batch side is signed. Decisions are
        # identical by construction: the state IS the relation
        # _mh_bands(_mh_signatures(cset)) would compute.
        # batch-side sets read BACK from the `both` checkpoint rather
        # than rebuilding bset's semi-join lineage (round 14 — the last
        # corpus twin pair: the union build and this branch each ran the
        # semi-join once); the is_new rows of `both` ARE bset by
        # construction, and the checkpoint read costs zero exchanges.
        bset_ck = both.filter(F.col("is_new")).select("doc_id", "shs")
        bands = (corpus_bands.select("doc_id", "band", "band_key")
                 .withColumn("is_new", F.lit(False))
                 .unionByName(
                     _mh_bands(_mh_signatures(bset_ck,
                                              persisted_out=extra))
                     .withColumn("is_new", F.lit(True))))
    else:
        bands = _mh_bands(_mh_signatures(both, persisted_out=extra,
                                         carry=("is_new",)),
                          carry=("is_new",))
    # ONE (band, band_key)-partitioned materialization of the combined
    # band index (round 14, twin-stage audit follow-up): the relation
    # has THREE consumers — the hot-bucket count, and the two one-sided
    # probe relations below — whose stages materialize concurrently
    # under AQE, so without a cache the union+semi-join subtree ran
    # once per consumer (the r13 baseline's duplicated-exchange group).
    # Interleaved A/B at sf0.1 (3 reps each): executor time 66-76 s →
    # 56-63 s, duplicated twin-stage time 11-14 s → 5-7 s, wall a wash
    # at fixture scale; a broadcast(bb) variant measured NO better
    # (73-97 s) because the hot count and corpus probe still re-ran the
    # subtree. The (band, band_key) partitioning serves all three
    # consumers (hot's groupBy and both self-join sides), so the cache
    # build is the ONLY full exchange of the relation — vs two join-side
    # exchanges plus the agg shuffle before. This differs from the
    # _mh_candidates adjudication (cache LOSES there) because this
    # subtree carries a semi-join + union per rebuild, not a cheap
    # explode over already-cached signatures.
    bands = _barrier(bands.repartition("band", "band_key"),
                     reliable_barriers)
    extra.append(bands)
    hot = _mh_hot_buckets(bands, _LSH_BUCKET_CAP)
    bands = bands.join(F.broadcast(hot), ["band", "band_key"], "left_anti")
    bc = bands.filter(~F.col("is_new")).select("doc_id", "band", "band_key")
    bb = bands.filter(F.col("is_new")).select("doc_id", "band", "band_key")
    cand = (bc.alias("a").join(bb.alias("b"),
                               (F.col("a.band") == F.col("b.band"))
                               & (F.col("a.band_key") == F.col("b.band_key")))
            .groupBy(F.col("a.doc_id").alias("doc_a"),
                     F.col("b.doc_id").alias("doc_b"))
            .agg(F.count(F.lit(1)).alias("n_shared_bands")))
    pairs = _mh_verify(both.select("doc_id", "shs"), cand,
                       min_jaccard=jaccard_min)
    # batch docs near-dup of ANY corpus doc: dropped (corpus stability);
    # pairs are already oriented (doc_a = corpus, doc_b = batch)
    dup_of_corpus = (pairs.select(F.col("doc_b").alias("doc_id"))
                     .distinct())
    admitted = after_exact.join(dup_of_corpus, "doc_id", "left_anti")

    # report: append the corpus-tier stages so the chain still ends at
    # count(docs); audit: flag which batch-kept docs survived the corpus
    counts = (batch.agg(F.count("*").alias("n0"))
              .crossJoin(after_exact.agg(F.count("*").alias("n1")))
              .crossJoin(admitted.agg(F.count("*").alias("n2"))))
    extra_rows = counts.select(F.explode(F.array(
        F.struct(F.lit("corpus_exact_dedup").alias("stage"),
                 F.col("n0").alias("docs_in"),
                 F.col("n1").alias("docs_out")),
        F.struct(F.lit("corpus_near_dedup").alias("stage"),
                 F.col("n1").alias("docs_in"),
                 F.col("n2").alias("docs_out")),
    )).alias("s")).select("s.stage", "s.docs_in", "s.docs_out")
    report = res.report.unionByName(extra_rows)
    audit = res.audit.join(
        admitted.select("doc_id", F.lit(True).alias("__adm")),
        "doc_id", "left").withColumn(
        "corpus_keep", F.col("near_keep")
        & F.coalesce(F.col("__adm"), F.lit(False))).drop("__adm")

    return CorpusResult(docs=admitted, report=report, audit=audit,
                        _persisted=[*res._persisted, *extra])
