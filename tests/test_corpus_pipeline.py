"""End-to-end corpus preparation (pipelines/corpus.py): composition of
the contract-checked stages, checked here on a planted corpus where
every stage's keep/drop decision is known by construction, plus a
full-fixture run for shape/determinism."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from data_engineering_projects_spark.pipelines.corpus import prepare_corpus


def _words(n, tag):
    # disjoint per-tag vocabulary: docs with different tags share ZERO
    # shingles, so only the intended pairs can near-dup
    return " ".join(f"{tag}{i}" for i in range(n))


PLANTED = [
    # 1 & 2: identical AFTER pii scrub (differ only in embedded email) —
    # exact dedup must collapse them, proving scrub-before-dedup ordering
    (1, _words(60, "alpha") + " contact bob@x.com please", "web", "en"),
    (2, _words(60, "alpha") + " contact eve@y.org please", "web", "en"),
    # 3 & 4: near-dups (same prefix, doc 3 has a tail; equal capped
    # quality => keeper is the min doc_id, 3)
    (3, _words(64, "beta") + " extra tail words here", "web", "en"),
    (4, _words(64, "beta"), "books", "en"),
    # 5: too short — dropped at the quality gate
    (5, "tiny doc only", "web", "en"),
    # 6: NULL text — dropped at input
    (6, None, "web", "en"),
    # 7: unique good doc — kept
    (7, _words(70, "gamma"), "books", "en"),
]


def _planted(spark):
    return spark.createDataFrame(
        PLANTED, "doc_id long, text string, source string, lang string")


def test_planted_corpus_stage_decisions(spark):
    res = prepare_corpus(_planted(spark), quality_min=0.2,
                         jaccard_min=0.5)
    try:
        final = {r["doc_id"]: r for r in res.docs.collect()}
        report = {r["stage"]: (r["docs_in"], r["docs_out"])
                  for r in res.report.collect()}
        # stage arithmetic, known by construction
        assert report["input"] == (7, 6)            # null text dropped
        assert report["quality_gate"] == (6, 5)     # tiny doc dropped
        assert report["exact_dedup"] == (5, 4)      # email twins merge
        assert report["near_dedup"] == (4, 3)       # beta pair merges
        # keeper identities: both tiers tie on capped quality →
        # min doc_id wins (1 for the email twins, 3 for the beta pair)
        assert set(final) == {1, 3, 7}
        # the kept text is the SCRUBBED form
        assert "[EMAIL]" in final[1]["text"]
        assert "bob@x.com" not in final[1]["text"]
        # split column is one of the configured names
        assert {r["split"] for r in final.values()} <= {"train", "val",
                                                        "test"}
        # audit drill-down agrees with the report
        audit = {r["doc_id"]: r for r in res.audit.collect()}
        assert audit[6]["has_text"] is False
        assert audit[5]["quality_ok"] is False
        assert audit[2]["exact_keep"] is False
        assert audit[4]["near_keep"] is False and audit[4]["exact_keep"]
    finally:
        res.unpersist()


def test_fixture_run_shape_and_determinism(spark, sf_dir):
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    res1 = prepare_corpus(docs)
    try:
        rep = {r["stage"]: (r["docs_in"], r["docs_out"])
               for r in res1.report.collect()}
        # monotone contraction, nothing lost to accounting
        assert rep["input"][0] == docs.count()
        chain = ["input", "quality_gate", "exact_dedup", "near_dedup"]
        for a, b in zip(chain, chain[1:]):
            assert rep[a][1] == rep[b][0]
            assert rep[b][1] <= rep[b][0]
        assert rep["near_dedup"][1] > 0
        ids1 = sorted(r["doc_id"] for r in res1.docs.collect())
    finally:
        res1.unpersist()
    res2 = prepare_corpus(docs)
    try:
        ids2 = sorted(r["doc_id"] for r in res2.docs.collect())
        assert ids1 == ids2  # fully deterministic end-to-end
        # split proportions near the configured weights
        splits = dict(res2.docs.groupBy("split").count().collect())
        total = sum(splits.values())
        assert abs(splits.get("train", 0) / total - 0.9) < 0.05
        # no Python-eval nodes anywhere in the final plan
        plan = res2.docs._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan and "ArrowEval" not in plan
    finally:
        res2.unpersist()


def test_extend_corpus_admission_decisions(spark):
    """Incremental growth: near/exact dups of the CORPUS drop (stability
    — even when the newcomer scores higher), batch-internal dups resolve
    as in prepare_corpus, novel good docs admit, and re-extending with
    an already-admitted batch admits zero."""
    from data_engineering_projects_spark.pipelines.corpus import (
        extend_corpus, prepare_corpus)

    corpus_raw = spark.createDataFrame(
        [(1, _words(60, "alpha"), "web", "en"),
         (2, _words(70, "gamma"), "books", "en")],
        "doc_id long, text string, source string, lang string")
    corpus_res = prepare_corpus(corpus_raw)
    corpus = corpus_res.docs.localCheckpoint(eager=True)
    corpus_res.unpersist()
    new = spark.createDataFrame([
        # near-dup of corpus doc 1, LONGER (higher would-be quality) —
        # must still drop: corpus stability
        (11, _words(60, "alpha") + " plus extra trailing content words",
         "web", "en"),
        # exact dup of corpus doc 2 (post-scrub identity)
        (12, _words(70, "gamma"), "web", "en"),
        # batch-internal near pair: 13 kept (tie -> min id), 14 dropped
        (13, _words(64, "delta") + " tail one", "web", "en"),
        (14, _words(64, "delta"), "web", "en"),
        # novel good doc
        (15, _words(66, "epsilon"), "books", "en"),
        # too short
        (16, "tiny", "web", "en"),
    ], "doc_id long, text string, source string, lang string")
    res = extend_corpus(corpus, new)
    try:
        admitted = {r["doc_id"]: r for r in res.docs.collect()}
        assert set(admitted) == {13, 15}
        # admitted docs carry the full contract incl. split
        assert all(r["split"] in ("train", "val", "test")
                   for r in admitted.values())
        # report reconciles: corpus-tier stages chain to count(docs)
        rep = {r["stage"]: (r["docs_in"], r["docs_out"])
               for r in res.report.collect()}
        assert rep["corpus_exact_dedup"] == (rep["near_dedup"][1],
                                             rep["corpus_exact_dedup"][1])
        assert rep["corpus_near_dedup"][1] == 2
        assert rep["corpus_exact_dedup"][1] == rep["corpus_near_dedup"][0]
        # audit: corpus-dropped docs flagged (11 near-dup, 12 exact)
        aud = {r["doc_id"]: r for r in res.audit.collect()}
        assert aud[11]["near_keep"] and not aud[11]["corpus_keep"]
        assert aud[12]["near_keep"] and not aud[12]["corpus_keep"]
        assert aud[13]["corpus_keep"] and aud[15]["corpus_keep"]
    finally:
        res.unpersist()
    # id-identity replay: redelivering rows whose ids are already IN
    # the corpus (even with edited text) admits nothing
    edited = spark.createDataFrame(
        [(1, _words(60, "alpha") + " sneaky edit", "web", "en")],
        "doc_id long, text string, source string, lang string")
    res3 = extend_corpus(corpus, edited)
    try:
        assert res3.docs.count() == 0
    finally:
        res3.unpersist()
    # replay safety: union admitted into corpus, re-extend same batch
    grown = corpus.unionByName(
        spark.createDataFrame(
            [(13, _words(64, "delta") + " tail one", "web", "en"),
             (15, _words(66, "epsilon"), "books", "en")],
            "doc_id long, text string, source string, lang string")
        .selectExpr("doc_id", "text", "source", "lang"),
        allowMissingColumns=True)
    # grown lacks quality_score; extend_corpus only reads doc_id/text
    res2 = extend_corpus(grown.select("doc_id", "text", "source", "lang"),
                         new)
    try:
        assert res2.docs.count() == 0
    finally:
        res2.unpersist()


def test_reliable_barriers_same_decisions_and_guard(spark, tmp_path):
    """Round-15 verdict #2: ``reliable_barriers=True`` swaps the four
    localCheckpoint barriers for reliable checkpoints (executor-loss
    survivable on a cluster) behind the same helper — decisions must be
    IDENTICAL to the default mode, checkpoint files must land under the
    session checkpoint dir, and calling without a checkpoint dir must
    raise the guidance error instead of failing mid-plan."""
    import pytest

    from data_engineering_projects_spark.pipelines.corpus import (
        extend_corpus, prepare_corpus)

    sc = spark.sparkContext
    prev = sc.getCheckpointDir()
    corpus_raw = spark.createDataFrame(
        [(1, _words(60, "alpha"), "web", "en"),
         (2, _words(70, "gamma"), "books", "en")],
        "doc_id long, text string, source string, lang string")
    new = spark.createDataFrame(
        [(11, _words(60, "alpha") + " plus extra trailing content words",
          "web", "en"),
         (13, _words(64, "delta") + " tail one", "web", "en"),
         (14, _words(64, "delta"), "web", "en"),
         (15, _words(66, "epsilon"), "books", "en")],
        "doc_id long, text string, source string, lang string")
    try:
        if prev is None:
            with pytest.raises(ValueError, match="setCheckpointDir"):
                prepare_corpus(corpus_raw, reliable_barriers=True)
        ckdir = str(tmp_path / "ck")
        sc.setCheckpointDir(ckdir)
        res_c = prepare_corpus(corpus_raw, reliable_barriers=True)
        corpus = res_c.docs.localCheckpoint(eager=True)
        res_c.unpersist()
        res = extend_corpus(corpus, new, reliable_barriers=True)
        admitted = sorted(r["doc_id"] for r in res.docs.collect())
        assert admitted == [13, 15]  # identical to the default-mode run
        rep = {r["stage"]: (r["docs_in"], r["docs_out"])
               for r in res.report.collect()}
        assert rep["corpus_near_dedup"][1] == 2
        # the barriers really went through the reliable checkpoint dir
        import os
        assert any(files for _, _, files in os.walk(ckdir))
        # reliable frames stay usable after unpersist (files re-read) —
        # the documented softening of the r14 unpersist finality
        res.unpersist()
        assert sorted(r["doc_id"] for r in res.docs.collect()) \
            == [13, 15]
    finally:
        if prev is not None:
            sc.setCheckpointDir(prev)


def test_extend_corpus_fixture_no_residual_dups(spark, sf_dir):
    """Fixture-scale consistency: prepare on the first 400 docs, extend
    with the remaining 100 — then re-running candidate generation over
    corpus ∪ admitted must verify ZERO cross pairs at the admission
    threshold (the extension left no near-dup behind)."""
    from data_engineering_projects_spark.contract.extensions import (
        _mh_candidates, _mh_verify)
    from data_engineering_projects_spark.pipelines.corpus import (
        _shingle_sets, extend_corpus, prepare_corpus)

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    first = docs.filter("doc_id < 400")
    rest = docs.filter("doc_id >= 400")
    prep = prepare_corpus(first)
    corpus = prep.docs.localCheckpoint(eager=True)
    prep.unpersist()
    res = extend_corpus(corpus, rest)
    leftovers: list = []
    try:
        admitted = res.docs.localCheckpoint(eager=True)
        assert admitted.count() > 0
        both = (_shingle_sets(corpus, 3).withColumn("new", F.lit(False))
                .unionByName(_shingle_sets(admitted, 3)
                             .withColumn("new", F.lit(True))))
        pairs = _mh_verify(both.select("doc_id", "shs"),
                           _mh_candidates(both.select("doc_id", "shs"),
                                          persisted_out=leftovers)) \
            .filter(F.col("jaccard") >= 0.5)
        flags = both.select("doc_id", "new")
        cross = (pairs
                 .join(flags.withColumnRenamed("doc_id", "doc_a")
                       .withColumnRenamed("new", "na"), "doc_a")
                 .join(flags.withColumnRenamed("doc_id", "doc_b")
                       .withColumnRenamed("new", "nb"), "doc_b")
                 .filter(F.col("na") != F.col("nb")))
        assert cross.count() == 0
    finally:
        for df in leftovers:
            df.unpersist()
        res.unpersist()


# --- round-11: admission-order invariance (r10 verdict #6) -------------
#
# extend_corpus's batching invariant has to be stated carefully. WHICH
# member of a near-dup family survives is NOT batching-invariant — the
# corpus-stability policy keeps whichever representative landed first,
# even when a later batch carries a higher-quality member (pinned
# deterministically below). What IS invariant, for families whose
# members are mutually near-dup (the transitive case; non-transitive
# chains x~y~z, x!~z can legitimately admit either 1 or 2 survivors
# depending on arrival grouping — that is inherent to threshold dedup,
# not a batching bug): any partition of the batch into sub-batches
# admits EXACTLY ONE representative per novel family and ZERO members
# of families already represented in the corpus.

from hypothesis import assume, given, settings, strategies as st  # noqa: E402


@st.composite
def _family_batches(draw):
    n_fam = draw(st.integers(2, 4))
    fams = []  # (in_corpus, n_new_members)
    for _ in range(n_fam):
        fams.append((draw(st.booleans()), draw(st.integers(1, 3))))
    assume(any(not c for c, _ in fams))
    n_batches = draw(st.integers(1, 3))
    assigns = [[draw(st.integers(0, n_batches - 1)) for _ in range(n)]
               for _, n in fams]
    return fams, n_batches, assigns


def _fam_member(f, i):
    # shared 60-word family prefix => within-family Jaccard ~0.9;
    # disjoint per-family vocab => cross-family Jaccard 0
    return _words(60, f"fam{f}x") + f" fam{f}xtail{i} fam{f}xtl{i}b"


@settings(max_examples=5, deadline=None)
@given(_family_batches())
def test_property_batching_admits_one_rep_per_novel_family(spark, plan):
    from data_engineering_projects_spark.pipelines.corpus import (
        extend_corpus, prepare_corpus)

    fams, n_batches, assigns = plan
    corpus_raw = spark.createDataFrame(
        [(f * 100, _words(60, f"fam{f}x"), "web", "en")
         for f, (in_c, _) in enumerate(fams) if in_c],
        "doc_id long, text string, source string, lang string")
    new_rows = []
    for f, (_, n) in enumerate(fams):
        for i in range(n):
            new_rows.append((f * 100 + i + 1, _fam_member(f, i),
                             "web", "en", assigns[f][i]))
    new = spark.createDataFrame(
        new_rows,
        "doc_id long, text string, source string, lang string, b int")

    if corpus_raw.count() == 0:
        corpus = prepare_corpus(
            spark.createDataFrame(
                [(99_999, _words(80, "unrelatedz"), "web", "en")],
                "doc_id long, text string, source string, lang string")
        ).docs.localCheckpoint(eager=True)
    else:
        prep = prepare_corpus(corpus_raw)
        corpus = prep.docs.localCheckpoint(eager=True)
        prep.unpersist()
    cols = ["doc_id", "text", "source", "lang"]

    def admitted_of(state, batch):
        res = extend_corpus(state, batch.select(*cols))
        try:
            return res.docs.select(*cols).localCheckpoint(eager=True)
        finally:
            res.unpersist()

    oneshot = admitted_of(corpus, new)
    state, batched_ids = corpus, set()
    for b in range(n_batches):
        bdf = new.filter(F.col("b") == b)
        if bdf.count() == 0:
            continue
        adm = admitted_of(state, bdf)
        batched_ids |= {r["doc_id"] for r in adm.select("doc_id").collect()}
        state = state.select(*cols).unionByName(adm).localCheckpoint(
            eager=True)

    oneshot_ids = {r["doc_id"] for r in oneshot.select("doc_id").collect()}
    for ids in (oneshot_ids, batched_ids):
        per_fam = {f: sorted(i for i in ids if i // 100 == f)
                   for f in range(len(fams))}
        for f, (in_c, _) in enumerate(fams):
            want = 0 if in_c else 1
            assert len(per_fam[f]) == want, (f, fams, ids)


def test_extend_corpus_batching_changes_representative_not_count(spark):
    """The documented NON-invariance, pinned: a novel near-dup pair
    split across batches keeps the FIRST-arrived member (corpus
    stability — the later, higher-quality member is dropped), while
    one-shot keeps the quality keeper. Same family count either way."""
    from data_engineering_projects_spark.pipelines.corpus import (
        extend_corpus, prepare_corpus)

    prep = prepare_corpus(spark.createDataFrame(
        [(1, _words(80, "base"), "web", "en")],
        "doc_id long, text string, source string, lang string"))
    corpus = prep.docs.localCheckpoint(eager=True)
    prep.unpersist()
    # quality = min(n_tokens/50, 1) * stopword factor: 40 tokens scores
    # 0.4x, 64 tokens caps the length factor — strictly higher. Jaccard
    # over the shared 40-word prefix = 38/62 ~ 0.61 >= 0.5: a real pair.
    short = (10, _words(40, "pairz"), "web", "en")          # arrives first
    long_ = (11, _words(40, "pairz") + " "
             + " ".join(f"pairztail{i}" for i in range(24)),
             "web", "en")                                    # higher quality
    schema = "doc_id long, text string, source string, lang string"

    res1 = extend_corpus(corpus, spark.createDataFrame([short, long_],
                                                       schema))
    try:
        oneshot = {r["doc_id"] for r in res1.docs.collect()}
    finally:
        res1.unpersist()

    resa = extend_corpus(corpus, spark.createDataFrame([short], schema))
    try:
        grown = corpus.select("doc_id", "text", "source", "lang") \
            .unionByName(resa.docs.select("doc_id", "text", "source",
                                          "lang")).localCheckpoint(True)
        first_ids = {r["doc_id"] for r in resa.docs.collect()}
    finally:
        resa.unpersist()
    resb = extend_corpus(grown, spark.createDataFrame([long_], schema))
    try:
        second_ids = {r["doc_id"] for r in resb.docs.collect()}
    finally:
        resb.unpersist()

    assert first_ids == {10} and second_ids == set()  # stability
    assert len(oneshot) == 1  # one representative either way
    # one-shot picks the quality keeper; batched kept the first arrival
    assert oneshot == {11}


def test_extend_corpus_accepts_precomputed_corpus_sets(spark):
    """The corpus_sets state-reuse hook (round 12): passing the exact
    (doc_id, shs) relation _shingle_sets would compute over the corpus
    must change NOTHING — identical audit flags, identical admitted
    docs — because it is the same relation, just not recomputed. This
    is the contract the incremental production shape (persisted corpus
    shingle index) relies on."""
    from data_engineering_projects_spark.pipelines.corpus import (
        _shingle_sets, extend_corpus)

    corpus = _planted(spark).filter("doc_id in (1, 3, 7)") \
        .select("doc_id", "text", "source", "lang")
    batch = spark.createDataFrame([
        (10, _words(64, "beta") + " drifted tail", "web", "en"),  # ~3
        (11, _words(66, "delta"), "web", "en"),                   # novel
    ], "doc_id long, text string, source string, lang string")

    def decisions(**kw):
        res = extend_corpus(corpus, batch, **kw)
        out = sorted(
            (r["doc_id"], r["exact_keep"], r["near_keep"],
             r["corpus_keep"]) for r in res.audit.collect())
        admitted = sorted(r["doc_id"] for r in res.docs.collect())
        res.unpersist()
        return out, admitted

    base = decisions()
    reused = decisions(corpus_sets=_shingle_sets(corpus, 3))
    assert reused == base
    # all three state hooks together (corpus_extend_admissions' shape)
    from data_engineering_projects_spark.contract.extensions import (
        _mh_bands, _mh_signatures)
    from data_engineering_projects_spark.functions.text import (
        md5_hash64, normalize_text)
    sets3 = _shingle_sets(corpus, 3)
    full = decisions(
        corpus_sets=sets3,
        corpus_bands=_mh_bands(_mh_signatures(sets3)),
        corpus_fps=corpus.select(
            md5_hash64(normalize_text(F.col("text")), seed=0)
            .alias("fp")))
    assert full == base
    # and the decisions themselves are the planted expectations:
    # 10 is a near-dup of corpus doc 3 (dropped), 11 is admitted
    assert base[1] == [11]


def test_cluster_executor_loss_barrier_modes():
    """Round-16 verdict #3: the reliable-barriers deployment guidance
    rested on an untested failure-mode claim. tools/cluster_loss_probe
    runs extend_corpus on local-cluster[2,1,1024] (real separate
    executor JVMs) and SIGKILLs every executor right after the first
    materialization barrier: default localCheckpoint barriers must fail
    the query (blocks lost, lineage truncated), reliable_barriers=True
    must complete the same mid-query loss with admissions identical to
    an undisturbed run. Subprocess because a second SparkContext cannot
    share this suite's JVM."""
    import json
    import subprocess
    import sys

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, os.path.join(here, "tools",
                                      "cluster_loss_probe.py")],
        capture_output=True, text=True, timeout=540)
    assert proc.returncode == 0, proc.stderr[-2000:]
    verdict = json.loads(proc.stdout.strip().splitlines()[-1])
    assert verdict["local_failed"] is True
    assert verdict["reliable_admitted"] == verdict["undisturbed"]
    assert verdict["kills"] >= 4        # both legs actually lost JVMs
