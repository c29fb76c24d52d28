"""Scale stress at 2x-5x the largest driver fixture.

Two families, selected with ``--family``:

``iterative`` (round-6 VERDICT item #7) — the three slowest batch
queries are iterative, and their cost at scale grows in PER-ROUND work
(rows), not in ROUND COUNT:

- ``dedup_clusters_star`` — star-contraction connected components over
  the MinHash-LSH pair graph; rounds track log(diameter). The documents
  copies get the candidates family's rotation (below), so the pair graph
  is k disjoint copies of the 1x graph: rounds must stay flat while
  per-round time scales with rows.
- ``embed_top_eigenvector`` — 3 fixed power-iteration rounds.
- ``events_pagerank_types`` — 5 fixed PageRank rounds over the
  schema-bounded event-type node set.

``candidates`` (round 8) — the dedup candidate generators and the IVF
search must scale LINEARLY in corpus size, never quadratically:

- ``dedup_minhash_lsh`` / ``dedup_ngram_jaccard`` — copy k of the
  documents table gets every letter rotated by k within [a-z] (and
  every digit within [0-9]) via ``translate``. A per-copy character
  bijection maps tokens, and therefore 3-word shingles, bijectively:
  each copy's shingle universe is disjoint from every other copy's
  (up to 60-bit hash chance), intra-copy shingle document frequencies
  are IDENTICAL to the base table's, and cross-copy verified Jaccard
  is ~0 (only punctuation-only tokens survive rotation unchanged). So
  the workload is exactly k independent instances of the 1x workload:
  candidate pairs — and therefore output rows — must come out at
  exactly k * rows(1x), and wall time ~linear in k. A super-linear
  rows ratio would prove cross-copy candidate leakage; a super-linear
  time ratio would expose an all-pairs step hiding behind the sf0.1
  constants.
- ``embed_knn_ivf_nprobe`` — vectors copied verbatim under shifted
  vec_ids; the 10 probe queries stay fixed (``vec_id < 10``), each
  label cell grows k×, so per-query candidate cost (and wall time) must
  grow ~k — the IVF cost model (cell size), never corpus pair count.

``streaming`` (round 8) — the watermarked rollups and the
stream-stream join on k-fold events with SHIFTED user ids, so state
keys (user x window/session) scale linearly with data — the state
volume the partition-sizing rule (`contract/sessions.py::
_with_state_partitions`) computes from. Output rows must scale ~k
(per-user windows replicate under new users); wall time should grow
sub-linearly while the rule raises the state partition count with the
admitted volume.

Fixture: NOT driver data — a clearly-marked local derivation under
/tmp. Each scaled table unions k id-shifted copies of the sf0.1
parquet (ids offset by k * 10^9 per copy). Outside the documents
rotation (candidates and iterative families), timestamps, text, and
vectors are copied as-is: the other iterative queries key on
ids/types/dims, and value distributions are irrelevant to their plan
shape.

Usage::

    python tools/stress_scale.py [--family iterative|candidates]
                                 [--mults 1,2,5] [--base /root/testdata/sf0.1]

Prints one JSON line per (multiplier, query) with wall seconds, output
rows, and, for the star-contraction query, the converged round count;
plus a summary
line. Results are recorded in SCALING.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

_OFFSET = 1_000_000_000  # multiple of 64: chain layout repeats per copy

FAMILIES = {
    "iterative": ["dedup_clusters_star", "embed_top_eigenvector",
                  "events_pagerank_types"],
    "candidates": ["dedup_minhash_lsh", "dedup_ngram_jaccard",
                   "embed_knn_ivf_nprobe"],
    "streaming": ["streaming_hourly_rollup", "streaming_session_rollup",
                  "streaming_click_attribution"],
    # special-cased in main(): the full dedup path run END-TO-END with
    # per-stage wall + row counts (r8 verdict #5) — the other families
    # cover candidate generation and CC separately; this chains them.
    "pipeline": [],
    # special-cased in main(): a planted mega-dup cluster (N identical
    # docs — every band lands in ONE bucket) unioned with the real
    # corpus; candidate rows/wall measured capped (_LSH_BUCKET_CAP,
    # round 10) vs uncapped. Capped must stay FLAT as the cluster
    # grows; uncapped grows ~N^2 — the quadratic term the cap removes.
    "megabucket": [],
    # same shape for the Levenshtein blocking key (_LEV_BLOCK_CAP): a
    # planted block of N identical docs (same length band, same first
    # word) where each uncapped pair ALSO pays the O(len^2) DP verify.
    "megablock": [],
    # special-cased in main(): the COMPOSED corpus-prep pipeline
    # (pipelines/corpus.py) on rotated documents: final rows and every
    # stage count must scale exactly linearly (per-copy character
    # bijections make copies independent corpora), wall ~linear.
    "corpus": [],
    # special-cased in main(): PQ encode + ADC search (operators/pq.py)
    # under k-fold embeddings (vectors verbatim, ids shifted; codebook
    # trained ONCE on the 1x corpus — index params are fixed at build
    # time in production). Claims: code rows exactly linear, encode and
    # ADC-scan wall ~linear, shortlist size per query FLAT (k x
    # overfetch regardless of corpus size).
    "pq": [],
    # special-cased in main(): planted 90%-one-key join skew — wall for
    # the four (AQE x salted) cells on a forced sort-merge join, reduce
    # partition histograms, and skew_report's tier decisions (r10
    # verdict #7).
    "skew": [],
    # special-cased in main(): the IVF-PQ recall-vs-cost operating grid
    # (r10 verdict #5) — recall@10 + wall across (nprobe x overfetch)
    # at 1x and 5x corpus with the index trained on the 1x corpus.
    "ivfpq": [],
    # special-cased in main(): the hot-list stage of the round-10 LSH
    # output cap, timed IN ISOLATION at 1x/2x/5x rotated documents
    # (r10 verdict #3: "fixed overhead, amortizes at scale" must be a
    # measured curve, not an argument). Per mult: signature-build wall,
    # hot-list-aggregate wall alone, and the full candidate join capped
    # vs with the cap forced off (bucket_cap=None - the pre-cap plan).
    "hotlist": [],
    # special-cased in main(): the ivfpq grid re-run on a CLUSTERED
    # embedding corpus (r11 verdict #4 — the r11 grid used uniform
    # random vectors, PQ's worst case; production recall claims need a
    # measured row on cluster-structured data).
    "ivfpq_clustered": [],
    # special-cased in main(): the ANN scale decade (round 17, verdict
    # #5) — IVF assign/candidates/search + PQ encode + IVF-PQ/ADC
    # search at 1x/10x/100x clustered embeddings, per-stage rows +
    # wall + executor time, recall@10 vs exact truth per decade point.
    "ann_decade": [],
    # special-cased in main(): the mergeable-sketch partition tier
    # (operators/sketches.py). Claims under k-fold events with shifted
    # users: build wall ~linear, sketch GRAIN flat (types x days — data
    # volume must not widen the state table), per-row sketch bytes flat
    # (KLL/HLL are fixed-size at saturation), rollup wall flat (merge
    # cost rides grain, not raw rows), merged p85 stays in rank bound.
    "sketches": [],
}

#: table -> id column to shift per copy (other tables are copied as-is).
SCALED = {"documents": "doc_id", "embeddings": "vec_id",
          "events": "event_id"}

_LC = "abcdefghijklmnopqrstuvwxyz"
_DG = "0123456789"


def _cipher_word(word: str, i: int) -> str:
    """Python-side image of :func:`_rotate_sql`'s copy-``i`` cipher for
    a lowercase word — used to build the stopword-restoring token map."""
    import random
    if i == 0:
        return word
    rnd = random.Random(i)
    lcl, dgl = list(_LC), list(_DG)
    rnd.shuffle(lcl)
    rnd.shuffle(dgl)
    m = {**dict(zip(_LC, lcl)), **dict(zip(_DG, dgl))}
    return "".join(m.get(c, c) for c in word)


def _rotate_sql(col: str, i: int, keep_stopwords: bool = False) -> str:
    """Per-copy character bijection: a SEEDED random substitution
    cipher per copy (round 15 — rotation repeated at period 10 for
    digits / 26 for letters, capping the sound multiplier at 10; the
    scale decade needs 10x-100x). Copy 0 is the identity; copy i>0
    permutes [a-z] and [0-9] with random.Random(i) shuffles (uppercase
    folds into the permuted lowercase — normalize_text lowercases
    anyway). Char classes and token lengths are preserved, so
    intra-copy shingle structure and quality decisions are IDENTICAL
    to the base table's; cross-copy, a whole token collides only if
    two copies' permutations agree on every character — for letters
    that is ~1/26 per char (26! distinct permutations), for digit-only
    tokens the full-permutation collision odds are C(k,2)/10! ≈ 0.14%
    at k=100 copies, and a candidate leak additionally needs a whole
    3-token shingle to collide. Same up-to-hash-chance soundness class
    as the old rotation's 60-bit argument, valid to ~1000 copies.

    ``keep_stopwords`` (round 16, verdict #6): restore the quality
    gate's 7 stopwords to themselves AFTER the cipher, in one
    token-level pass (single CASE over space-split tokens — no
    cascading replace), so the stopword-ratio component of the quality
    score is identical across copies UP TO HASH CHANCE — a non-stopword
    token whose cipher image happens to equal a plain stopword (e.g.
    cipher(x) == 'the') counts as a stopword in that copy, the same
    soundness class as the cipher's whole-token collision argument —
    and the composed prepare_corpus
    decade becomes an exact-linearity witness (the plain cipher
    perturbs stopword ratios, so quality_gate_out scaled ~93.5x at
    100x instead of 100.0x, masking the scaling signal). Soundness
    note: stopwords become SHARED vocabulary across copies, so a
    cross-copy LSH candidate is no longer impossible-by-construction —
    it now needs a full shingle (3 consecutive tokens) of stopwords on
    both sides AND the exact-Jaccard verify still kills any such pair
    (whole-doc overlap stays ~0 cross-copy), so admissions remain
    sound; only the zero-cross-copy-CANDIDATE witness weakens to
    zero-cross-copy-ADMISSION."""
    import random
    if i == 0:
        lc, dg = _LC, _DG
    else:
        rnd = random.Random(i)
        lcl, dgl = list(_LC), list(_DG)
        rnd.shuffle(lcl)
        rnd.shuffle(dgl)
        lc, dg = "".join(lcl), "".join(dgl)
    src = _LC + _LC.upper() + _DG
    dst = lc + lc + dg
    out = f"translate({col}, '{src}', '{dst}')"
    if keep_stopwords and i != 0:
        from data_engineering_projects_spark.contract.extensions import (
            _STOPWORDS)
        cases = " ".join(
            f"WHEN '{_cipher_word(w, i)}' THEN '{w}'" for w in _STOPWORDS)
        out = (f"array_to_string(list_transform(string_split({out}, ' '),"
               f" t -> CASE t {cases} ELSE t END), ' ')")
    return out


def build_fixture(base: str, mult: int, out_dir: str,
                  rotate_docs: bool = False,
                  shift_users: bool = False,
                  keep_stopwords: bool = False) -> None:
    import duckdb

    # Disjoint-shingle-universe invariant (round-8 ADVICE, relaxed
    # round 15): the old rotation repeated at period 10 (digits) / 26
    # (letters), capping sound multipliers at 10; the seeded
    # substitution cipher (see _rotate_sql) is sound to ~1000 copies
    # (beyond that, pairwise digit-permutation collision odds leave
    # the hash-chance class).
    if rotate_docs and mult > 1000:
        raise ValueError(
            f"rotate_docs substitution-cipher soundness argued only to "
            f"1000 copies; got {mult}")

    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    for t in os.listdir(base):
        if not t.endswith(".parquet"):
            continue
        name = t[:-len(".parquet")]
        dst = os.path.join(out_dir, t)
        if os.path.exists(dst):
            continue
        if name in SCALED and mult > 1:
            idc = SCALED[name]
            def copy_sql(i: int) -> str:
                repl = f"{idc} + {i * _OFFSET} AS {idc}"
                if rotate_docs and name == "documents":
                    repl += (f", {_rotate_sql('text', i, keep_stopwords)}"
                             f" AS text")
                if shift_users and name == "events":
                    # each copy brings NEW users: streaming state keys
                    # (user x window/session) scale linearly with data,
                    # which is what the state-partition rule sizes
                    repl += f", user_id + {i * _OFFSET} AS user_id"
                return f"SELECT * REPLACE ({repl}) FROM src"
            copies = " UNION ALL ".join(copy_sql(i) for i in range(mult))
            con.execute(f"CREATE OR REPLACE VIEW src AS "
                        f"SELECT * FROM '{base}/{t}'")
            # write-then-rename: an interrupted COPY must never leave a
            # partial parquet that a later run's exists-check reuses
            con.execute(f"COPY ({copies}) TO '{dst}.tmp' (FORMAT PARQUET)")
            os.replace(f"{dst}.tmp", dst)
        else:
            shutil.copyfile(os.path.join(base, t), dst)
    con.close()


def _rest_stages(port: int) -> list[dict]:
    """Completed Spark stages via the UI REST API (same capture as
    tools/twin_stage_audit.py) — the executor-TIME source the wall
    clock can't provide (at local[32], 32 threads of executor work
    hide behind one wall second; executor time is the cluster-cost
    metric a 1000-executor deployment pays)."""
    import urllib.request
    app = json.load(urllib.request.urlopen(
        f"http://localhost:{port}/api/v1/applications"))[0]["id"]
    return json.load(urllib.request.urlopen(
        f"http://localhost:{port}/api/v1/applications/{app}"
        f"/stages?status=complete&details=false"))


def run_pipeline(spark, sf_dir: str,
                 rest_port: int | None = None) -> list[dict]:
    """One end-to-end dedup pass, each stage persisted + counted so its
    wall time and output cardinality are attributable: shingle sets ->
    LSH band-bucket candidates -> exact-Jaccard verify -> connected
    components (star contraction) -> quality-aware canonical keep.
    Fresh persists per call (not the contract memo) so every multiplier
    measures from cold relations. With ``rest_port`` (round 15, verdict
    #1 — exponents in executor time, not just wall) each stage also
    records the summed executorRunTime of the Spark stages it ran."""
    import time as _t

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    import data_engineering_projects_spark.contract.extensions as ext
    from data_engineering_projects_spark.operators.clustering import (
        connected_components_star)

    stages: list[dict] = []
    persisted = []

    def stage(name: str, build):
        n0 = (max((s["stageId"] for s in _rest_stages(rest_port)),
                  default=-1) if rest_port else -1)
        t0 = _t.perf_counter()
        df = build().persist()
        persisted.append(df)
        rows = df.count()  # materializes the persist
        rec = {"stage": name, "rows": rows,
               "sec": round(_t.perf_counter() - t0, 2)}
        if rest_port:
            rec["exec_sec"] = round(sum(
                s["executorRunTime"] for s in _rest_stages(rest_port)
                if s["stageId"] > n0) / 1000, 2)
        stages.append(rec)
        return df

    sets = stage("shingle_sets",
                 lambda: ext._doc_shingle_sets(spark, sf_dir))
    cand = stage("lsh_candidates", lambda: ext._mh_candidates(sets))
    pairs = stage("verify",
                  lambda: ext._mh_verify(sets, cand)
                             .select("doc_a", "doc_b"))
    # local_finish_edges=0: this family measures how the DISTRIBUTED
    # contraction's stage cost scales with data; the driver finish (on by
    # default for production callers) would short-circuit it at these
    # fixture sizes. Equivalence of the two paths is pinned in
    # tests/test_operators.py / test_properties.py.
    labels = stage("cc_labels",
                   lambda: connected_components_star(
                       pairs, local_finish_edges=0))

    def keep():
        from data_engineering_projects_spark.sources import (load_table,
                                                             widen)
        members = labels.select(F.col("id").alias("doc_id"))
        docs = (widen(load_table(spark, sf_dir, "documents"))
                .select("doc_id", "text")
                .join(members, "doc_id", "left_semi"))
        quality = ext._quality_score_project(docs)
        wq = Window.partitionBy("label").orderBy(
            F.desc_nulls_last("quality_score"), F.asc("id"))
        return (labels.join(quality, labels["id"] == quality["doc_id"])
                .withColumn("keep_doc_id", F.first("id").over(wq))
                .select(F.col("label").alias("cluster_id"), "keep_doc_id")
                .distinct())

    stage("canonical_keep", keep)
    for df in persisted:
        df.unpersist()
    return stages


def run_megabucket(spark, base: str, sizes: list[int]) -> list[dict]:
    """Candidate generation with a planted mega-dup cluster of each size
    unioned onto the real corpus's shingle sets: N identical shingle
    sets share every MinHash band bucket, so the uncapped self-join
    emits C(N,2) pairs while the capped path (bucket > _LSH_BUCKET_CAP
    dropped) must hold candidate rows at the no-cluster baseline."""
    from pyspark.sql import functions as F

    import data_engineering_projects_spark.contract.extensions as ext

    sets = ext._doc_shingle_sets(spark, base).persist()
    sets.count()
    # one fixed synthetic shingle set, disjoint from real md5-derived
    # hashes with overwhelming probability
    mega_shs = F.array(*[F.lit(1_000_000 + i).cast("long")
                         for i in range(30)])
    results = []
    for n in sizes:
        rel = sets
        if n:
            mega = (spark.range(n)
                    .select((F.col("id") + 5_000_000_000).alias("doc_id"),
                            mega_shs.alias("shs")))
            rel = sets.unionByName(mega)
        for label, cap in [("capped", ext._LSH_BUCKET_CAP),
                           ("uncapped", 1 << 40)]:
            # warm pass at n=0 happens implicitly: every (n, mode) run
            # reuses the persisted sets and hot codegen from the prior
            t0 = time.perf_counter()
            rows = ext._mh_candidates(rel, bucket_cap=cap).count()
            rec = {"cluster": n, "mode": label, "rows": rows,
                   "sec": round(time.perf_counter() - t0, 2)}
            results.append(rec)
            print(json.dumps(rec), flush=True)
    sets.unpersist()
    return results


def run_hotlist(spark, base: str, mults: list[int]) -> list[dict]:
    """The LSH cap's hot-list stage measured in isolation at k-fold
    rotated documents (r10 verdict #3): per mult, the signature-build
    wall (persisted relation), the hot-bucket aggregate wall ALONE (the
    stage the cap added), and the full candidate generation with the
    cap on vs forced off (bucket_cap=None — the pre-cap plan). The
    cap's net cost is BOTH the isolated hot_sec and the cap-vs-nocap
    delta (each includes one signature compute, so the delta cancels
    it); if the share of total wall falls with data size, the "fixed
    overhead, amortizes at scale" claim is measured, not argued."""
    import data_engineering_projects_spark.contract.extensions as ext

    results = []
    warm = True
    for mult in mults:
        base_tag = os.path.basename(os.path.normpath(base))
        sf_dir = (base if mult == 1
                  else f"/tmp/depa_stress_{base_tag}_hotlist_x{mult}")
        if mult > 1:
            build_fixture(base, mult, sf_dir, rotate_docs=True)
        sets = ext._doc_shingle_sets(spark, sf_dir).persist()
        sets.count()
        if warm:  # throwaway pass: JIT/codegen hot before mult=1 times
            leak: list = []
            ext._mh_candidates(sets, persisted_out=leak).count()
            for df in leak:
                df.unpersist()
            warm = False
        leaks: list = []
        t0 = time.perf_counter()
        mh = ext._mh_signatures(sets, persisted_out=leaks)
        n_docs = mh.count()
        sig_sec = time.perf_counter() - t0
        bands = ext._mh_bands(mh)
        t0 = time.perf_counter()
        n_hot = ext._mh_hot_buckets(bands, ext._LSH_BUCKET_CAP).count()
        hot_sec = time.perf_counter() - t0
        rec = {"mult": mult, "n_docs": n_docs,
               "sig_sec": round(sig_sec, 3),
               "hot_sec": round(hot_sec, 3), "hot_rows": n_hot}
        for label, cap in [("cap", ext._LSH_BUCKET_CAP), ("nocap", None)]:
            t0 = time.perf_counter()
            rows = ext._mh_candidates(sets, bucket_cap=cap,
                                      persisted_out=leaks).count()
            rec[f"cand_{label}_sec"] = round(time.perf_counter() - t0, 3)
            rec[f"cand_{label}_rows"] = rows
        for df in leaks:
            df.unpersist()
        sets.unpersist()
        results.append(rec)
        print(json.dumps(rec), flush=True)
    return results


def run_megablock(spark, base: str, sizes: list[int]) -> list[dict]:
    """docs_levenshtein_near with a planted block of N identical docs
    unioned onto the real documents table (via a temp parquet dir the
    query loads like any sf_dir): capped pair rows must hold at the
    no-block baseline; uncapped adds C(N,2) pairs, each paying the
    O(len^2) edit-distance verify."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    import data_engineering_projects_spark.contract.extensions as ext

    results = []
    for n in sizes:
        work = tempfile.mkdtemp(prefix="depa_megablock_")
        try:
            docs = spark.read.parquet(os.path.join(base,
                                                   "documents.parquet"))
            if n:
                planted = (spark.range(n)
                           .select((F.col("id") + 5_000_000_000)
                                   .alias("doc_id"),
                                   F.lit("identical boilerplate text row")
                                   .alias("text"))
                           .withColumn("n_chars",
                                       F.length("text").cast(
                                           dict(docs.dtypes)["n_chars"])))
                docs = docs.select("doc_id", "text", "n_chars").unionByName(
                    planted)
            else:
                docs = docs.select("doc_id", "text", "n_chars")
            docs.write.parquet(os.path.join(work, "documents.parquet"))
            for label, cap in [("capped", ext._LEV_BLOCK_CAP),
                               ("uncapped", 1 << 40)]:
                orig = ext._LEV_BLOCK_CAP
                ext._LEV_BLOCK_CAP = cap
                try:
                    t0 = time.perf_counter()
                    rows = ext.docs_levenshtein_near(spark, work).count()
                finally:
                    ext._LEV_BLOCK_CAP = orig
                rec = {"block": n, "mode": label, "rows": rows,
                       "sec": round(time.perf_counter() - t0, 2)}
                results.append(rec)
                print(json.dumps(rec), flush=True)
        finally:
            shutil.rmtree(work, ignore_errors=True)
    return results








def run_corpus(spark, base: str, mults: list[int],
               keep_stopwords: bool = False) -> list[dict]:
    """End-to-end prepare_corpus under k-fold rotated documents.
    ``keep_stopwords`` (round 16, verdict #6) ciphers copies with the
    stopword-preserving variant so quality decisions are exactly
    copy-invariant and every stage must scale exactly linearly."""
    from data_engineering_projects_spark.pipelines.corpus import (
        prepare_corpus)
    from data_engineering_projects_spark.sources import load_table, widen

    results = []
    for mult in mults:
        base_tag = os.path.basename(os.path.normpath(base))
        sw = "_sw" if keep_stopwords else ""
        sf_dir = (base if mult == 1
                  else f"/tmp/depa_stress_{base_tag}_corpus{sw}_x{mult}")
        if mult > 1:
            build_fixture(base, mult, sf_dir, rotate_docs=True,
                          keep_stopwords=keep_stopwords)
        docs = widen(load_table(spark, sf_dir, "documents"))
        res = prepare_corpus(docs)  # warm codegen/JIT on this fixture
        res.report.collect(); res.unpersist()
        t0 = time.perf_counter()
        res = prepare_corpus(docs)
        rep = {r["stage"]: (r["docs_in"], r["docs_out"])
               for r in res.report.collect()}
        final_rows = res.docs.count()
        sec = time.perf_counter() - t0
        res.unpersist()
        rec = {"mult": mult, "sec": round(sec, 2),
               "final_rows": final_rows,
               **{f"{st}_out": v[1] for st, v in rep.items()}}
        results.append(rec)
        print(json.dumps(rec), flush=True)
    return results


def run_pq(spark, base: str, mults: list[int]) -> list[dict]:
    """PQ encode + ADC-shortlist scaling under k-fold embeddings."""
    from pyspark.sql import functions as F

    from data_engineering_projects_spark.operators.pq import (
        pq_adc_topk, pq_encode, pq_train)

    emb1 = spark.read.parquet(os.path.join(base, "embeddings.parquet"))
    codebook = pq_train(emb1, m=16, k=32, n_iters=2).persist()
    codebook.count()
    queries = emb1.filter("vec_id < 10").persist()
    queries.count()
    results = []
    for mult in mults:
        base_tag = os.path.basename(os.path.normpath(base))
        sf_dir = (base if mult == 1
                  else f"/tmp/depa_stress_{base_tag}_pq_x{mult}")
        if mult > 1:
            build_fixture(base, mult, sf_dir)
        emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
        pq_encode(emb, codebook, m=16) \
            .write.format("noop").mode("overwrite").save()  # warm
        t0 = time.perf_counter()
        codes = pq_encode(emb, codebook, m=16).persist()
        n_codes = codes.count()
        enc_sec = time.perf_counter() - t0
        pq_adc_topk(queries, codes, codebook, k=50, m=16) \
            .write.format("noop").mode("overwrite").save()  # warm
        t1 = time.perf_counter()
        short = pq_adc_topk(queries, codes, codebook, k=50, m=16)
        short_rows = short.count()
        search_sec = time.perf_counter() - t1
        codes.unpersist()
        rec = {"mult": mult, "code_rows": n_codes,
               "encode_sec": round(enc_sec, 2),
               "search_sec": round(search_sec, 2),
               "shortlist_rows": short_rows}
        results.append(rec)
        print(json.dumps(rec), flush=True)
    codebook.unpersist()
    queries.unpersist()
    return results


def run_skew(spark, base: str, mult: int = 5) -> dict:
    """Planted-skew A/B for the salting operators (r10 verdict #7):
    salted_join/salted_agg were result-identity-tested but never
    measured UNDER skew. Plant a 90%-one-key join key on mult-fold
    events, force the non-broadcastable-dim scenario the operators
    document (autoBroadcastJoinThreshold=-1 — a broadcastable dim needs
    no salt), and record wall + reduce-side partition histograms for
    the four (AQE x salted) cells, plus skew_report's tier decisions on
    the planted vs a uniform key — the mitigation decision matrix
    validated by numbers."""
    from pyspark.sql import functions as F

    from data_engineering_projects_spark.operators.skew import (
        salted_join, skew_report)

    base_tag = os.path.basename(os.path.normpath(base))
    sf_dir = (base if mult == 1
              else f"/tmp/depa_stress_{base_tag}_skew_x{mult}")
    if mult > 1:
        build_fixture(base, mult, sf_dir)
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    # 90% of rows on key 0, the rest uniform over 1..1000
    planted = ev.select(
        F.when(F.rand(3) < 0.9, F.lit(0))
         .otherwise(F.pmod(F.col("event_id"), 1000) + 1)
         .cast("long").alias("k"),
        "value").persist()
    n = planted.count()
    dim = spark.range(0, 1001).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("attr")).persist()
    dim.count()

    def joined(mode):
        if mode == "salted":
            return salted_join(planted, dim, "k", n_salts=16)
        return planted.join(dim, "k")

    def run_cell(aqe, mode):
        spark.conf.set("spark.sql.adaptive.enabled", str(aqe).lower())
        t0 = time.perf_counter()
        agg = joined(mode).agg(
            F.sum("value").alias("sv"), F.sum("attr").alias("sa"),
            F.count(F.lit(1)).alias("n")).collect()[0]
        sec = time.perf_counter() - t0
        return sec, (round(agg["sv"] or 0.0, 2), agg["sa"], agg["n"])

    out = {"mult": mult, "n_rows": n, "cells": {}}
    sums = set()
    old_bt = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        for aqe in (True, False):
            for mode in ("plain", "salted"):
                run_cell(aqe, mode)  # warm
                sec, agg = run_cell(aqe, mode)
                out["cells"][f"aqe={aqe},join={mode}"] = round(sec, 2)
                sums.add(agg)
        out["results_identical"] = len(sums) == 1

        # reduce-side partition histogram (AQE off so the raw shuffle
        # layout is visible): rows per join-output partition
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        for mode in ("plain", "salted"):
            hist = (joined(mode)
                    .withColumn("pid", F.spark_partition_id())
                    .groupBy("pid").count()
                    .agg(F.max("count").alias("mx"),
                         F.count(F.lit(1)).alias("parts"),
                         F.sum("count").alias("total")).collect()[0])
            out[f"hist_{mode}"] = {
                "max_partition_rows": hist["mx"],
                "n_partitions": hist["parts"],
                "max_share": round(hist["mx"] / hist["total"], 3)}
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bt)

    # decision matrix: skew_report must say "salt" for the planted key
    # and not-"salt" for the uniform remainder
    rep = skew_report(planted, ["k"]).collect()[0]
    out["report_planted"] = {"tier": rep["tier"],
                             "max_share": round(rep["max_share"], 3)}
    uni = planted.filter("k > 0")
    rep2 = skew_report(uni, ["k"]).collect()[0]
    out["report_uniform"] = {"tier": rep2["tier"],
                             "max_share": round(rep2["max_share"], 4)}
    planted.unpersist()
    dim.unpersist()
    print(json.dumps(out), flush=True)
    return out


def run_ivfpq(spark, base: str, mults: list[int]) -> list[dict]:
    """IVF-PQ operating curve (r10 verdict #5): recall@10 and search
    wall across the (nprobe x overfetch) grid at 1x and 5x corpus, so a
    user picks operating points from recorded data instead of the two
    point samples the pytest tier pins. Index (PQ codebook + IVF
    centroids) is trained ONCE on the 1x corpus — index params are
    fixed at build time in production; k-fold embeddings replicate
    vectors verbatim under shifted ids, so ground-truth ties replicate
    across copies and RANK semantics keep recall comparable."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from data_engineering_projects_spark.operators.pq import (
        _l2sq, ivf_pq_search, pq_encode, pq_train)
    from data_engineering_projects_spark.operators.similarity import (
        ivf_assign, ivf_train)

    M, N_CELLS, K = 16, 8, 10
    emb1 = spark.read.parquet(os.path.join(base, "embeddings.parquet"))
    cb = pq_train(emb1, m=M, k=32, n_iters=2).persist()
    cb.count()
    cents = ivf_train(emb1, n_cells=N_CELLS, n_iters=2).persist()
    cents.count()
    queries = emb1.filter("vec_id < 10").persist()
    queries.count()

    def brute_truth(emb):
        q = queries.select(F.col("vec_id").alias("query_id"),
                           F.col("embedding").cast("array<double>")
                           .alias("qv"))
        c = emb.select(F.col("vec_id").alias("neighbor_id"),
                       F.col("embedding").cast("array<double>")
                       .alias("cv"))
        d = (F.broadcast(q).crossJoin(c)
             .filter("query_id != neighbor_id")
             .select("query_id", "neighbor_id",
                     _l2sq(F.col("qv"), F.col("cv")).alias("dist")))
        w = Window.partitionBy("query_id").orderBy(
            F.round("dist", 9).asc(), "neighbor_id")
        return d.withColumn("rk", F.rank().over(w)).filter(f"rk <= {K}")

    results = []
    for mult in mults:
        base_tag = os.path.basename(os.path.normpath(base))
        sf_dir = (base if mult == 1
                  else f"/tmp/depa_stress_{base_tag}_ivfpq_x{mult}")
        if mult > 1:
            build_fixture(base, mult, sf_dir)
        emb = spark.read.parquet(os.path.join(sf_dir,
                                              "embeddings.parquet"))
        assigned = (ivf_assign(emb, cents).select("vec_id", "cell")
                    .join(pq_encode(emb, cb, m=M), "vec_id").persist())
        assigned.count()
        truth = {(r["query_id"], r["neighbor_id"])
                 for r in brute_truth(emb).collect()}
        warm = True
        for nprobe in (1, 2, 4, 8):
            for overfetch in (1, 2, 5):
                if warm:  # codegen warm pass, discarded
                    ivf_pq_search(queries, assigned, cents, cb, emb,
                                  k=K, nprobe=nprobe,
                                  overfetch=overfetch, m=M) \
                        .write.format("noop").mode("overwrite").save()
                    warm = False
                t0 = time.perf_counter()
                got = {(r["query_id"], r["neighbor_id"])
                       for r in ivf_pq_search(
                           queries, assigned, cents, cb, emb, k=K,
                           nprobe=nprobe, overfetch=overfetch,
                           m=M).collect()}
                sec = time.perf_counter() - t0
                rec = {"mult": mult, "nprobe": nprobe,
                       "overfetch": overfetch,
                       "recall": round(len(got & truth)
                                       / max(len(truth), 1), 3),
                       "sec": round(sec, 2)}
                results.append(rec)
                print(json.dumps(rec), flush=True)
        assigned.unpersist()
    cb.unpersist()
    cents.unpersist()
    queries.unpersist()
    return results


def _make_clustered_embeddings(spark, out_dir: str, n: int,
                               n_clusters: int = 8, dim: int = 64,
                               noise: float = 0.15) -> None:
    """Deterministic cluster-structured embedding fixture: unit-norm
    centers from a seeded RNG, each vector = its center + Gaussian
    noise (sigma=noise per dim), labels = cluster id. Matches the real
    embeddings schema (vec_id BIGINT, embedding FLOAT[], label INT)."""
    import numpy as np

    os.makedirs(out_dir, exist_ok=True)
    dst = os.path.join(out_dir, "embeddings.parquet")
    if os.path.exists(dst):
        return
    rng = np.random.RandomState(7)
    centers = rng.randn(n_clusters, dim)
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = np.arange(n) % n_clusters
    vecs = (centers[labels]
            + np.random.RandomState(11).randn(n, dim) * noise)
    import pandas as pd
    pdf = pd.DataFrame({
        "vec_id": np.arange(n, dtype="int64"),
        "embedding": [v.astype("float32") for v in vecs],
        "label": labels.astype("int32"),
    })
    spark.createDataFrame(
        pdf, schema="vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(dst)


def run_ivfpq_clustered(spark, base: str, mults: list[int]) -> list[dict]:
    """The run_ivfpq operating grid on CLUSTERED embeddings (8
    unit-norm centers, sigma=0.15 noise — comfortably separated but not
    trivial). `mults` scale the corpus SIZE natively (fresh vectors,
    same cluster structure) rather than k-folding, since the question
    is recall on cluster-structured data, not replica handling. The
    sized corpora match run_ivfpq's 1x/5x (2000/10000 at the sf0.1
    base) so rows are comparable grid-cell by grid-cell."""
    n_base = spark.read.parquet(
        os.path.join(base, "embeddings.parquet")).count()
    results = []
    base_tag = os.path.basename(os.path.normpath(base))
    dirs = {}
    for mult in mults:
        d = f"/tmp/depa_stress_{base_tag}_ivfpqc_x{mult}"
        _make_clustered_embeddings(spark, d, n_base * mult)
        dirs[mult] = d
    # train on the 1x clustered corpus, search each sized corpus — the
    # same index-fixed-at-build-time discipline as run_ivfpq.
    for mult in mults:
        for rec in _ivfpq_grid_on(spark, dirs[1], dirs[mult], mult):
            rec["clustered"] = True
            results.append(rec)
    return results


def _ivfpq_grid_on(spark, train_base: str, search_dir: str,
                   mult: int) -> list[dict]:
    """run_ivfpq's grid with the index trained on ``train_base`` and
    the search corpus read from ``search_dir`` (no k-fold)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from data_engineering_projects_spark.operators.pq import (
        _l2sq, ivf_pq_search, pq_encode, pq_train)
    from data_engineering_projects_spark.operators.similarity import (
        ivf_assign, ivf_train)

    M, N_CELLS, K = 16, 8, 10
    emb1 = spark.read.parquet(os.path.join(train_base,
                                           "embeddings.parquet"))
    cb = pq_train(emb1, m=M, k=32, n_iters=2).persist()
    cb.count()
    cents = ivf_train(emb1, n_cells=N_CELLS, n_iters=2).persist()
    cents.count()
    queries = emb1.filter("vec_id < 10").persist()
    queries.count()
    emb = spark.read.parquet(os.path.join(search_dir,
                                          "embeddings.parquet"))
    assigned = (ivf_assign(emb, cents).select("vec_id", "cell")
                .join(pq_encode(emb, cb, m=M), "vec_id").persist())
    assigned.count()
    q = queries.select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").cast("array<double>").alias("qv"))
    c = emb.select(F.col("vec_id").alias("neighbor_id"),
                   F.col("embedding").cast("array<double>").alias("cv"))
    d = (F.broadcast(q).crossJoin(c).filter("query_id != neighbor_id")
         .select("query_id", "neighbor_id",
                 _l2sq(F.col("qv"), F.col("cv")).alias("dist")))
    w = Window.partitionBy("query_id").orderBy(
        F.round("dist", 9).asc(), "neighbor_id")
    truth = {(r["query_id"], r["neighbor_id"]) for r in
             d.withColumn("rk", F.rank().over(w)).filter(f"rk <= {K}")
             .collect()}
    results = []
    warm = True
    for nprobe in (1, 2, 4, 8):
        for overfetch in (1, 2, 5):
            if warm:
                ivf_pq_search(queries, assigned, cents, cb, emb, k=K,
                              nprobe=nprobe, overfetch=overfetch, m=M) \
                    .write.format("noop").mode("overwrite").save()
                warm = False
            t0 = time.perf_counter()
            got = {(r["query_id"], r["neighbor_id"]) for r in
                   ivf_pq_search(queries, assigned, cents, cb, emb,
                                 k=K, nprobe=nprobe, overfetch=overfetch,
                                 m=M).collect()}
            rec = {"mult": mult, "nprobe": nprobe, "overfetch": overfetch,
                   "recall": round(len(got & truth) / max(len(truth), 1),
                                   3),
                   "sec": round(time.perf_counter() - t0, 2)}
            results.append(rec)
            print(json.dumps(rec), flush=True)
    assigned.unpersist()
    cb.unpersist()
    cents.unpersist()
    queries.unpersist()
    return results


def run_ann_decade(spark, base: str, mults: list[int],
                   rest_port: int | None = None) -> list[dict]:
    """ANN scale decade (round 17, verdict #5), mirroring the dedup
    decade: clustered embeddings at 1x/10x/100x the base corpus size
    (FRESH vectors from the same 8-center distribution — k-folding
    would replicate exact duplicates and distort recall ties), index
    params FIXED from the 1x corpus (the index-built-once production
    discipline). Per decade point every stage is persisted + counted
    and timed (wall + optional summed executorRunTime via the REST
    API — the cluster-cost metric 32 local threads hide):

    - ``ivf_assign``: rows must equal N exactly (linear);
    - ``ivf_candidates``: the nprobe=4 cell-restricted candidate set
      for the 10 fixed queries — ~linear in N at a fixed
      nprobe/n_cells fraction, vs the 10 x N brute row count
      (recorded as ``brute_rows`` for the ratio);
    - ``ivf_top10``: the full IVF search; recall@10 vs the exact
      cosine truth (rank-with-ties) at the SAME decade point;
    - ``pq_encode``: rows must equal N exactly;
    - ``ivfpq_top10``: the composed IVF+PQ/ADC+rerank search
      (operators/pq.py::ivf_pq_search, the embed_pq_adc_topk shape);
      recall@10 vs the exact L2 truth.

    The scale claims this instrument records: rows exactly linear for
    assign/encode, candidates ~linear with a constant ~nprobe/n_cells
    fraction of brute, search wall/executor time growing no faster
    than linear with a constant-factor separation from brute, and
    recall@10 STABLE across the decade (cluster-structured data: cell
    boundaries don't degrade as density grows)."""
    import time as _t

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from data_engineering_projects_spark.operators.pq import (
        _l2sq, ivf_pq_search, pq_encode, pq_train)
    from data_engineering_projects_spark.operators.similarity import (
        cosine_similarity, ivf_assign, ivf_index_health, ivf_search,
        ivf_train)

    M, N_CELLS, K, NPROBE = 16, 8, 10, 4
    n_base = spark.read.parquet(
        os.path.join(base, "embeddings.parquet")).count()
    base_tag = os.path.basename(os.path.normpath(base))
    dirs = {}
    for mult in sorted(set(mults) | {1}):
        d = f"/tmp/depa_stress_{base_tag}_anndec_x{mult}"
        _make_clustered_embeddings(spark, d, n_base * mult)
        dirs[mult] = d

    # index fixed at build time, trained on the 1x corpus
    emb1 = spark.read.parquet(os.path.join(dirs[1],
                                           "embeddings.parquet"))
    cb = pq_train(emb1, m=M, k=32, n_iters=2).persist()
    cb.count()
    cents = ivf_train(emb1, n_cells=N_CELLS, n_iters=2).persist()
    cents.count()
    queries = emb1.filter("vec_id < 10").persist()
    queries.count()

    results = []
    for mult in mults:
        emb = spark.read.parquet(
            os.path.join(dirs[mult], "embeddings.parquet"))
        n = emb.count()
        stages: list[dict] = []
        persisted = []

        def stage(name: str, build, collectable: bool = False):
            n0 = (max((s["stageId"] for s in _rest_stages(rest_port)),
                      default=-1) if rest_port else -1)
            t0 = _t.perf_counter()
            df = build().persist()
            persisted.append(df)
            rows = df.count()
            rec = {"stage": name, "rows": rows,
                   "sec": round(_t.perf_counter() - t0, 2)}
            if rest_port:
                rec["exec_sec"] = round(sum(
                    s["executorRunTime"]
                    for s in _rest_stages(rest_port)
                    if s["stageId"] > n0) / 1000, 2)
            stages.append(rec)
            return df

        assigned = stage("ivf_assign", lambda: ivf_assign(emb, cents))

        # the nprobe-cell candidate relation ivf_search scans — counted
        # here explicitly so the decade table shows the equi-join's
        # row bound next to brute's 10 x N (same probe ranking as
        # similarity.ivf_search)
        def candidates():
            sim = cosine_similarity(F.col("embedding"),
                                    F.col("centroid"))
            w = Window.partitionBy("vec_id").orderBy(
                F.desc(F.round(sim, 9)), "cell")
            probes = (queries.crossJoin(F.broadcast(cents))
                      .withColumn("r", F.row_number().over(w))
                      .filter(F.col("r") <= NPROBE)
                      .select(F.col("vec_id").alias("query_id"), "cell"))
            return (assigned.select(F.col("vec_id").alias("neighbor_id"),
                                    "cell")
                    .join(F.broadcast(probes), "cell")
                    .filter("query_id != neighbor_id"))

        stage("ivf_candidates", candidates)
        ivf_got = stage("ivf_top10",
                        lambda: ivf_search(queries, assigned, cents,
                                           k=K, nprobe=NPROBE))

        # exact cosine truth at this decade point (rank with ties)
        def cos_truth():
            q = queries.select(F.col("vec_id").alias("query_id"),
                               F.col("embedding").alias("qv"))
            c = emb.select(F.col("vec_id").alias("neighbor_id"),
                           F.col("embedding").alias("cv"))
            s = (F.broadcast(q).crossJoin(c)
                 .filter("query_id != neighbor_id")
                 .select("query_id", "neighbor_id",
                         cosine_similarity(F.col("qv"), F.col("cv"))
                         .alias("sim")))
            w = Window.partitionBy("query_id").orderBy(
                F.desc(F.round("sim", 9)), "neighbor_id")
            return (s.withColumn("rk", F.rank().over(w))
                    .filter(f"rk <= {K}"))

        brute = stage("brute_cosine_truth", cos_truth)
        truth_cos = {(r["query_id"], r["neighbor_id"])
                     for r in brute.collect()}
        got_cos = {(r["query_id"], r["neighbor_id"])
                   for r in ivf_got.collect()}
        codes = stage("pq_encode", lambda: pq_encode(emb, cb, m=M))
        acodes = (assigned.select("vec_id", "cell")
                  .join(codes, "vec_id").persist())
        acodes.count()
        persisted.append(acodes)
        adc_got = stage(
            "ivfpq_top10",
            lambda: ivf_pq_search(queries, acodes, cents, cb, emb,
                                  k=K, nprobe=NPROBE, overfetch=2, m=M))

        def l2_truth():
            q = queries.select(F.col("vec_id").alias("query_id"),
                               F.col("embedding").cast("array<double>")
                               .alias("qv"))
            c = emb.select(F.col("vec_id").alias("neighbor_id"),
                           F.col("embedding").cast("array<double>")
                           .alias("cv"))
            d = (F.broadcast(q).crossJoin(c)
                 .filter("query_id != neighbor_id")
                 .select("query_id", "neighbor_id",
                         _l2sq(F.col("qv"), F.col("cv")).alias("dist")))
            w = Window.partitionBy("query_id").orderBy(
                F.round("dist", 9).asc(), "neighbor_id")
            return (d.withColumn("rk", F.rank().over(w))
                    .filter(f"rk <= {K}"))

        truth_l2 = {(r["query_id"], r["neighbor_id"])
                    for r in stage("brute_l2_truth", l2_truth).collect()}
        got_l2 = {(r["query_id"], r["neighbor_id"])
                  for r in adc_got.collect()}
        # overfetch remedy curve at the LARGEST decade point (round 17:
        # the decade's real finding — recall_ivfpq DEGRADES with density
        # at fixed overfetch, because ADC quantization error is constant
        # while true-neighbor distance gaps shrink as the corpus
        # densifies; the exact rerank can only fix ordering INSIDE the
        # shortlist, so the shortlist must widen with density)
        # closed-loop remedy check (round 17, after ivf_index_health
        # landed): at every decade point, ask the health operator what
        # overfetch the measured density calls for (vec_id < n_base
        # plays build-time membership, so tn/tb = mult exactly) and
        # measure recall AT that suggestion — the operator's clamp rule
        # must actually buy the recall back, not just scale a number
        health_sug = int(ivf_index_health(
            assigned.filter(F.col("vec_id") < n_base).select("cell"),
            assigned.filter(F.col("vec_id") >= n_base).select("cell"))
            .select("suggested_overfetch").first()[0])
        t0 = _t.perf_counter()
        got_sug = {(r["query_id"], r["neighbor_id"]) for r in
                   ivf_pq_search(queries, acodes, cents, cb, emb,
                                 k=K, nprobe=NPROBE,
                                 overfetch=health_sug, m=M).collect()}
        at_suggested = {
            "overfetch": health_sug,
            "recall": round(len(got_sug & truth_l2)
                            / max(len(truth_l2), 1), 3),
            "sec": round(_t.perf_counter() - t0, 2)}
        overfetch_curve = {}
        if mult == max(mults):
            for of in (2, 5, 10, 20, 50):
                t0 = _t.perf_counter()
                got_of = {(r["query_id"], r["neighbor_id"]) for r in
                          ivf_pq_search(queries, acodes, cents, cb, emb,
                                        k=K, nprobe=NPROBE,
                                        overfetch=of, m=M).collect()}
                overfetch_curve[str(of)] = {
                    "recall": round(len(got_of & truth_l2)
                                    / max(len(truth_l2), 1), 3),
                    "sec": round(_t.perf_counter() - t0, 2)}
        rec = {"mult": mult, "n": n,
               "stages": stages,
               "brute_rows": 10 * (n - 1),
               "recall_ivf": round(len(got_cos & truth_cos)
                                   / max(len(truth_cos), 1), 3),
               "recall_ivfpq": round(len(got_l2 & truth_l2)
                                     / max(len(truth_l2), 1), 3),
               "at_suggested_overfetch": at_suggested,
               **({"overfetch_curve": overfetch_curve}
                  if overfetch_curve else {})}
        results.append(rec)
        print(json.dumps(rec), flush=True)
        for df in persisted:
            df.unpersist()
    cb.unpersist()
    cents.unpersist()
    queries.unpersist()
    return results


def run_sketches(spark, base: str, mults: list[int]) -> list[dict]:
    """Per-mult: timed sketch build over k-fold events (shifted users),
    grain/row-size stats, timed grain-only rollup, and a merged-p85
    rank-error check against the exact rank on the same data."""
    from pyspark.sql import functions as F

    from data_engineering_projects_spark.operators.sketches import (
        build_sketch_partitions, kll_rank_error, rollup_sketch_partitions,
        sketch_quantiles)
    from data_engineering_projects_spark.sources import load_table

    results = []
    for mult in mults:
        base_tag = os.path.basename(os.path.normpath(base))
        sf_dir = (base if mult == 1
                  else f"/tmp/depa_stress_{base_tag}_sketches_x{mult}")
        if mult > 1:
            build_fixture(base, mult, sf_dir, shift_users=True)
        ev = load_table(spark, sf_dir, "events").select(
            "event_type", F.to_date("ts").alias("day"), "value", "user_id")

        def build():
            return build_sketch_partitions(
                ev, ["event_type", "day"], ["value"],
                distinct_col="user_id", kll_k=2048)

        build().write.format("noop").mode("overwrite").save()  # warm
        t0 = time.perf_counter()
        sk = build().persist()
        grain = sk.count()
        build_sec = time.perf_counter() - t0
        szs = sk.select(
            (F.octet_length("kll_value") + F.octet_length("hll_user_id"))
            .alias("b")).agg(F.max("b").alias("mx")).first()
        t1 = time.perf_counter()
        merged = rollup_sketch_partitions(sk, [], ["value"],
                                          distinct_col="user_id")
        row = sketch_quantiles(merged, "value", {"p85": 0.85},
                               distinct_col="user_id").first()
        rollup_sec = time.perf_counter() - t1
        total = ev.count()
        below = ev.filter(F.col("value") <= row["p85"]).count()
        err = abs(below / total - 0.85)
        sk.unpersist()
        rec = {"mult": mult, "grain_rows": grain,
               "build_sec": round(build_sec, 2),
               "rollup_sec": round(rollup_sec, 2),
               "max_sketch_bytes": szs["mx"],
               "p85_rank_err": round(err, 5),
               "rank_bound": round(kll_rank_error(2048) * 1.5, 5),
               "distinct_users_est": row["distinct_user_id"]}
        results.append(rec)
        print(json.dumps(rec), flush=True)
    return results


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--family", default="iterative", choices=sorted(FAMILIES))
    ap.add_argument("--mults", default="1,2,5")
    ap.add_argument("--base", default="/root/testdata/sf0.1")
    ap.add_argument("--master", default="local[16]")
    ap.add_argument("--keep-stopwords", action="store_true",
                    help="corpus family: stopword-preserving cipher "
                         "(round 16, verdict #6)")
    args = ap.parse_args()
    queries = FAMILIES[args.family]

    from data_engineering_projects_spark import contract
    from data_engineering_projects_spark.session import get_session
    from data_engineering_projects_spark.operators import clustering

    contract.load_all()
    spark = get_session("stress", master=args.master,
                        shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")

    if args.family == "corpus":
        mults = [int(m) for m in args.mults.split(",")]
        results = run_corpus(spark, args.base, mults,
                             keep_stopwords=args.keep_stopwords)
        b = results[0]
        stage_keys = [k for k in b if k.endswith("_out")]
        summary = {
            str(r["mult"]): {
                "time_ratio": round(r["sec"] / max(b["sec"], .01), 2),
                "final_rows_ratio":
                    round(r["final_rows"] / max(b["final_rows"], 1), 2),
                **{k + "_ratio": round(r[k] / max(b[k], 1), 2)
                   for k in stage_keys}}
            for r in results}
        print(json.dumps({"summary": summary}))
        spark.stop()
        return 0

    if args.family == "pq":
        mults = [int(m) for m in args.mults.split(",")]
        results = run_pq(spark, args.base, mults)
        b = results[0]
        summary = {
            str(r["mult"]): {
                "code_rows_ratio":
                    round(r["code_rows"] / max(b["code_rows"], 1), 2),
                "encode_time_ratio":
                    round(r["encode_sec"] / max(b["encode_sec"], .01), 2),
                "search_time_ratio":
                    round(r["search_sec"] / max(b["search_sec"], .01), 2),
                "shortlist_rows": r["shortlist_rows"]}
            for r in results}
        print(json.dumps({"summary": summary}))
        spark.stop()
        return 0

    if args.family == "skew":
        mult = max(int(m) for m in args.mults.split(","))
        out = run_skew(spark, args.base, mult)
        print(json.dumps({"summary": out}))
        spark.stop()
        return 0

    if args.family == "ivfpq":
        mults = [int(m) for m in args.mults.split(",")]
        results = run_ivfpq(spark, args.base, mults)
        grid = {}
        for r in results:
            grid.setdefault(str(r["mult"]), {})[
                f"nprobe={r['nprobe']},overfetch={r['overfetch']}"] = {
                "recall": r["recall"], "sec": r["sec"]}
        print(json.dumps({"summary": grid}))
        spark.stop()
        return 0

    if args.family == "ann_decade":
        # UI-enabled session: stage executor time from the REST API,
        # same re-create pattern as the pipeline family
        spark.stop()
        from pyspark.sql import SparkSession

        from data_engineering_projects_spark.session import (
            _RUNTIME_CONFS, _fast_local_dir, tune)
        port = 4048
        b = (SparkSession.builder.master(args.master)
             .config("spark.sql.shuffle.partitions", "32")
             .config("spark.ui.enabled", "true")
             .config("spark.ui.port", str(port))
             .config("spark.ui.showConsoleProgress", "false"))
        fast = _fast_local_dir()
        if fast:
            b = b.config("spark.local.dir", fast)
        for k, v in _RUNTIME_CONFS.items():
            b = b.config(k, v)
        spark = tune(b.getOrCreate())
        spark.sparkContext.setLogLevel("ERROR")
        mults = [int(m) for m in args.mults.split(",")]
        run_ann_decade(spark, args.base, [1], rest_port=None)  # warm JIT
        results = run_ann_decade(spark, args.base, mults,
                                 rest_port=port)
        summary = {str(r["mult"]): {
            "n": r["n"], "recall_ivf": r["recall_ivf"],
            "recall_ivfpq": r["recall_ivfpq"],
            "brute_rows": r["brute_rows"],
            **({"overfetch_curve": r["overfetch_curve"]}
               if "overfetch_curve" in r else {}),
            **{s["stage"]: {"rows": s["rows"], "sec": s["sec"],
                            **({"exec_sec": s["exec_sec"]}
                               if "exec_sec" in s else {})}
               for s in r["stages"]}} for r in results}
        print(json.dumps({"summary": summary}))
        spark.stop()
        return 0

    if args.family == "ivfpq_clustered":
        mults = [int(m) for m in args.mults.split(",")]
        results = run_ivfpq_clustered(spark, args.base, mults)
        grid = {}
        for r in results:
            grid.setdefault(str(r["mult"]), {})[
                f"nprobe={r['nprobe']},overfetch={r['overfetch']}"] = {
                "recall": r["recall"], "sec": r["sec"]}
        print(json.dumps({"summary": grid, "clustered": True}))
        spark.stop()
        return 0

    if args.family == "sketches":
        mults = [int(m) for m in args.mults.split(",")]
        results = run_sketches(spark, args.base, mults)
        base_r = results[0]
        summary = {
            str(r["mult"]): {
                "build_time_ratio":
                    round(r["build_sec"] / max(base_r["build_sec"], .01), 2),
                "grain_ratio":
                    round(r["grain_rows"] / max(base_r["grain_rows"], 1), 2),
                "rollup_time_ratio":
                    round(r["rollup_sec"] / max(base_r["rollup_sec"], .01), 2),
                "sketch_bytes_ratio":
                    round(r["max_sketch_bytes"]
                          / max(base_r["max_sketch_bytes"], 1), 2),
                "p85_in_bound": r["p85_rank_err"] <= r["rank_bound"],
                "users_ratio":
                    round(r["distinct_users_est"]
                          / max(base_r["distinct_users_est"], 1), 2)}
            for r in results}
        print(json.dumps({"summary": summary}))
        spark.stop()
        return 0

    if args.family == "hotlist":
        mults = [int(m) for m in args.mults.split(",")]
        results = run_hotlist(spark, args.base, mults)
        b = results[0]
        summary = {
            str(r["mult"]): {
                "hot_sec": r["hot_sec"],
                "hot_time_ratio":
                    round(r["hot_sec"] / max(b["hot_sec"], .01), 2),
                "cap_minus_nocap_sec":
                    round(r["cand_cap_sec"] - r["cand_nocap_sec"], 3),
                "hot_share_of_cand":
                    round(r["hot_sec"] / max(r["cand_cap_sec"], .01), 3),
                "cand_cap_sec": r["cand_cap_sec"],
                "cand_nocap_sec": r["cand_nocap_sec"],
                "rows_equal": r["cand_cap_rows"] == r["cand_nocap_rows"],
                "sig_sec": r["sig_sec"]}
            for r in results}
        print(json.dumps({"summary": summary}))
        spark.stop()
        return 0

    if args.family == "megablock":
        sizes = [0] + [int(m) for m in args.mults.split(",") if int(m) > 0]
        results = run_megablock(spark, args.base, sizes)
        by = {(r["block"], r["mode"]): r for r in results}
        base_rows = by[(0, "capped")]["rows"]
        summary = {
            str(n): {
                "capped_rows_over_base":
                    round(by[(n, "capped")]["rows"] / max(base_rows, 1), 4),
                "uncapped_rows_over_base":
                    round(by[(n, "uncapped")]["rows"] / max(base_rows, 1), 4),
                "capped_sec": by[(n, "capped")]["sec"],
                "uncapped_sec": by[(n, "uncapped")]["sec"]}
            for n in sizes}
        print(json.dumps({"summary": summary}))
        spark.stop()
        return 0

    if args.family == "megabucket":
        sizes = [0] + [int(m) for m in args.mults.split(",") if int(m) > 0]
        results = run_megabucket(spark, args.base, sizes)
        by = {(r["cluster"], r["mode"]): r for r in results}
        base_rows = by[(0, "capped")]["rows"]
        summary = {
            str(n): {
                "capped_rows_over_base":
                    round(by[(n, "capped")]["rows"] / max(base_rows, 1), 4),
                "uncapped_rows_over_base":
                    round(by[(n, "uncapped")]["rows"] / max(base_rows, 1), 4),
                "capped_sec": by[(n, "capped")]["sec"],
                "uncapped_sec": by[(n, "uncapped")]["sec"]}
            for n in sizes}
        print(json.dumps({"summary": summary}))
        spark.stop()
        return 0

    if args.family == "pipeline":
        # re-create the session with the UI on: stage executor time
        # (the cluster-cost metric) comes from the REST API
        spark.stop()
        from pyspark.sql import SparkSession

        from data_engineering_projects_spark.session import (
            _RUNTIME_CONFS, _fast_local_dir, tune)
        port = 4047
        b = (SparkSession.builder.master(args.master)
             .config("spark.sql.shuffle.partitions", "32")
             .config("spark.ui.enabled", "true")
             .config("spark.ui.port", str(port))
             .config("spark.ui.showConsoleProgress", "false"))
        fast = _fast_local_dir()
        if fast:
            b = b.config("spark.local.dir", fast)
        for k, v in _RUNTIME_CONFS.items():
            b = b.config(k, v)
        spark = tune(b.getOrCreate())
        spark.sparkContext.setLogLevel("ERROR")
        run_pipeline(spark, args.base)  # warm JIT/codegen, discard
        results = []
        for mult in [int(m) for m in args.mults.split(",")]:
            base_tag = os.path.basename(os.path.normpath(args.base))
            sf_dir = (args.base if mult == 1
                      else f"/tmp/depa_stress_{base_tag}_pipeline_x{mult}")
            if mult > 1:
                build_fixture(args.base, mult, sf_dir, rotate_docs=True)
            for s in run_pipeline(spark, sf_dir, rest_port=port):
                rec = {"mult": mult, **s}
                results.append(rec)
                print(json.dumps(rec), flush=True)
        summary = {}
        for sname in [r["stage"] for r in results if r["mult"] ==
                      min(r2["mult"] for r2 in results)]:
            rs = {r["mult"]: r for r in results if r["stage"] == sname}
            base = rs[min(rs)]
            summary[sname] = {
                m: {"sec": rs[m]["sec"],
                    "time_ratio": round(rs[m]["sec"] / max(base["sec"], .01), 2),
                    **({"exec_sec": rs[m]["exec_sec"],
                        "exec_ratio": round(rs[m]["exec_sec"]
                                            / max(base["exec_sec"], .01), 2)}
                       if "exec_sec" in rs[m] else {}),
                    "rows": rs[m]["rows"],
                    "rows_ratio": round(rs[m]["rows"] / max(base["rows"], 1), 2)}
                for m in sorted(rs)}
        print(json.dumps({"summary": summary}))
        spark.stop()
        return 0

    # surface the star-contraction round count without changing the
    # contract query's signature: route the operator through a wrapper
    # that records stats for the duration of the stress run.
    # local_finish_edges=0: the iterative family's claim is that the
    # DISTRIBUTED loop's round count stays flat under data growth — the
    # driver finish (production default) would collapse rounds to 0 at
    # fixture sizes and measure nothing.
    rounds_box: dict = {}
    orig_ccs = clustering.connected_components_star

    def ccs_with_stats(pairs, src="doc_a", dst="doc_b", max_iters=30):
        return orig_ccs(pairs, src, dst, max_iters, stats=rounds_box,
                        local_finish_edges=0)

    import data_engineering_projects_spark.contract.extensions as ext
    ext.connected_components_star = ccs_with_stats

    # same for pagerank: the contract query does a call-time
    # `from ..operators.graph import pagerank`, so patching the module
    # attribute routes it; forcing the distributed rounds keeps this
    # family measuring the loop the 100 TB path runs, not the driver
    # bypass that fixture-sized aggregated graphs take by default.
    from data_engineering_projects_spark.operators import graph as _graph
    orig_pr = _graph.pagerank

    def pr_distributed(nodes, edges, *a, **kw):
        kw["local_finish_edges"] = 0
        return orig_pr(nodes, edges, *a, **kw)

    _graph.pagerank = pr_distributed

    # warm JIT/codegen on each query once (bench.py's discipline) so the
    # mult=1 baseline is not inflated by first-run compilation. The
    # candidates family additionally warms per fixture (below) so every
    # mult's timed run sees the same steady state: shared shingle sets
    # persisted, codegen hot — the timed part is the candidate join +
    # verify, the step whose scaling is under test.
    for name in queries:
        contract.QUERIES[name](spark, args.base) \
            .write.format("noop").mode("overwrite").save()

    count_rows = args.family in ("candidates", "streaming")
    results = []
    for mult in [int(m) for m in args.mults.split(",")]:
        base_tag = os.path.basename(os.path.normpath(args.base))
        sf_dir = (args.base if mult == 1
                  else f"/tmp/depa_stress_{base_tag}_{args.family}_x{mult}")
        if mult > 1:
            build_fixture(args.base, mult, sf_dir,
                          rotate_docs=args.family in ("candidates",
                                                      "iterative"),
                          shift_users=args.family == "streaming")
        for name in queries:
            rounds_box.clear()
            if count_rows:
                contract.QUERIES[name](spark, sf_dir) \
                    .write.format("noop").mode("overwrite").save()
            t0 = time.perf_counter()
            df = contract.QUERIES[name](spark, sf_dir)
            rows = None
            if count_rows:
                rows = df.count()
            else:
                df.write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            rec = {"mult": mult, "query": name, "sec": round(dt, 2)}
            if rows is not None:
                rec["rows"] = rows
            if rounds_box:
                rec["cc_rounds"] = rounds_box["rounds"]
            results.append(rec)
            print(json.dumps(rec), flush=True)
    summary = {}
    for name in queries:
        rs = {r["mult"]: r for r in results if r["query"] == name}
        base = rs[min(rs)]
        summary[name] = {
            m: {"sec": rs[m]["sec"],
                "time_ratio": round(rs[m]["sec"] / base["sec"], 2),
                **({"rows": rs[m]["rows"],
                    "rows_ratio": round(rs[m]["rows"] / max(base["rows"], 1), 2)}
                   if "rows" in rs[m] else {}),
                **({"cc_rounds": rs[m]["cc_rounds"]}
                   if "cc_rounds" in rs[m] else {})}
            for m in sorted(rs)}
    print(json.dumps({"summary": summary}))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
