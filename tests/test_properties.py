"""Property-based tests (hypothesis): the expression library's Column
builders must agree with independent pure-Python references on randomized
inputs — catching convention drift (day-of-week, bucket edges, clamp
boundaries) that example-based tests can miss.

One Spark job per property run: hypothesis generates a batch of inputs,
the whole batch goes through one DataFrame evaluation, and rows are
compared against the python reference element-wise.
"""

from __future__ import annotations

import datetime as dt

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from data_engineering_projects_spark.functions.cleaning import clean_range
from data_engineering_projects_spark.functions.temporal import (
    period_bucket, time_bucket, wday_pandas,
)
from data_engineering_projects_spark.functions.text import shingles_from_tokens


def _py_period(ts: dt.datetime) -> str | None:
    """Independent reference for the NPMRDS period bucket
    (1_AWS/README.md:79-89): pandas convention wday Mon=1..Sun=7, with
    the reference's preserved quirk that "weekday" is 1<wday<7 (Tue-Sat)
    and 'we' is the 6-20h complement (Sun+Mon)."""
    wday = ts.weekday() + 1
    hour = ts.hour
    if 1 < wday < 7 and 6 <= hour < 10:
        return "amp"
    if 1 < wday < 7 and 10 <= hour < 16:
        return "mid"
    if 1 < wday < 7 and 16 <= hour < 20:
        return "pmp"
    if 6 <= hour < 20:
        return "we"
    return None


TS = st.datetimes(min_value=dt.datetime(2000, 1, 1),
                  max_value=dt.datetime(2030, 12, 31))


@settings(max_examples=20, deadline=None)
@given(st.lists(TS, min_size=1, max_size=50))
def test_period_bucket_matches_reference(spark, tss):
    rows = [(t.replace(microsecond=0),) for t in tss]
    df = spark.createDataFrame(rows, "ts timestamp")
    got = [r["p"] for r in
           df.select(period_bucket(F.col("ts")).alias("p")).collect()]
    want = [_py_period(t) for (t,) in rows]
    assert got == want


@settings(max_examples=20, deadline=None)
@given(st.lists(TS, min_size=1, max_size=50))
def test_wday_pandas_convention(spark, tss):
    rows = [(t.replace(microsecond=0),) for t in tss]
    df = spark.createDataFrame(rows, "ts timestamp")
    got = [r["w"] for r in
           df.select(wday_pandas(F.col("ts")).alias("w")).collect()]
    want = [t.weekday() + 1 for (t,) in rows]
    assert got == want  # Mon=1 .. Sun=7, never the SQL Sun=1 convention


@settings(max_examples=20, deadline=None)
@given(st.lists(
    st.one_of(st.none(), st.floats(min_value=-1e6, max_value=1e6,
                                   allow_nan=False)),
    min_size=1, max_size=50))
def test_clean_range_clamps_to_null(spark, vals):
    lo, hi = 0.0, 120.0
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    got = [r["c"] for r in
           df.select(clean_range(F.col("v"), lo, hi).alias("c")).collect()]
    want = [v if v is not None and lo <= v <= hi else None for v in vals]
    assert got == want


@settings(max_examples=20, deadline=None)
@given(st.lists(st.text(alphabet="abc ", min_size=0, max_size=40),
                min_size=1, max_size=30))
def test_shingles_count_invariant(spark, texts):
    """len(shingles) == max(len(tokens) - k + 1, 0) for every input,
    including the <k-token edge where Spark's descending sequence(1,0)
    must be guarded to match an empty result."""
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    from data_engineering_projects_spark.functions.text import tokens
    out = (df.select(tokens(F.col("text")).alias("toks"))
             .select(F.size("toks").alias("nt"),
                     F.size(shingles_from_tokens("toks", 3)).alias("ns"))
             .collect())
    for r in out:
        assert r["ns"] == max(r["nt"] - 2, 0), r


@settings(max_examples=15, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=5),
                min_size=1, max_size=60))
def test_topk_tie_semantics(spark, vals):
    """T1 vs T5: limit-k returns exactly min(k, n) rows; rank-k returns
    every row tied into the top k — rank output is always a superset."""
    from data_engineering_projects_spark.operators.topk import (
        topk_limit, topk_rank,
    )
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)],
                               "id long, v long")
    k = 3
    lim = topk_limit(df, k, F.desc("v"), F.asc("id")).collect()
    rnk = topk_rank(df, k, [F.desc("v")]).collect()
    assert len(lim) == min(k, len(vals))
    kth_vals = sorted(vals, reverse=True)[:k]
    assert len(rnk) == sum(1 for v in vals if v >= kth_vals[-1])
    assert {r["id"] for r in lim} <= {r["id"] for r in rnk} or \
        len(rnk) >= len(lim)


def test_time_bucket_total_cover(spark):
    """Every hour 0-23 lands in exactly one dbt time bucket."""
    df = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1, h),) for h in range(24)], "ts timestamp")
    out = df.select(time_bucket(F.col("ts")).alias("b")).collect()
    assert all(r["b"] is not None for r in out)


@settings(max_examples=10, deadline=None)
@given(st.lists(st.decimals(min_value=0, max_value=1000, places=2),
                min_size=1, max_size=40))
def test_dec_avg_is_exact_for_2dp(spark, vals):
    """dec_avg must equal the exact rational mean of 2dp values (computed
    in python Fractions) to the double's correct rounding — independent of
    anything Spark does with partitioning."""
    from fractions import Fraction
    from data_engineering_projects_spark.functions.determinism import dec_avg
    fvals = [float(v) for v in vals]
    df = spark.createDataFrame([(v,) for v in fvals], "v double").repartition(7)
    got = df.agg(dec_avg(F.col("v")).alias("m")).collect()[0]["m"]
    exact = sum(Fraction(str(v)) for v in fvals) / len(fvals)
    assert abs(got - float(exact)) <= abs(float(exact)) * 1e-15 + 1e-15


@settings(max_examples=10, deadline=None)
@given(st.lists(st.floats(min_value=0.1, max_value=100,
                          allow_nan=False, allow_infinity=False),
                min_size=1, max_size=40))
def test_fold_avg_matches_python_sorted_fold(spark, vals):
    """fold_avg must be bit-identical to a python left fold over the
    ascending-sorted values — the engine-neutral definition the DuckDB
    oracle shares."""
    from data_engineering_projects_spark.functions.determinism import fold_avg
    df = spark.createDataFrame([(v,) for v in vals], "v double").repartition(5)
    got = df.agg(fold_avg(F.col("v")).alias("m")).collect()[0]["m"]
    acc = 0.0
    for v in sorted(vals):
        acc += v
    assert got == acc / len(vals)


def test_canon_is_signed_zero_and_ulp_strict():
    """The local oracle canon must be at least as strict as the driver's
    hash: it distinguishes -0.0 from 0.0 (the masked r1/r2 red-row class)
    and single-ulp float differences; NaN still canonicalizes to NULL."""
    from tests.oracle import _canon_cell
    assert _canon_cell(-0.0) != _canon_cell(0.0)
    assert _canon_cell(1.0 + 2.220446049250313e-16) != _canon_cell(1.0)
    assert _canon_cell(float("nan")) == "NULL"
    assert _canon_cell(0.1 + 0.2) != _canon_cell(0.3)


def test_plus_zero_kills_signed_zero_on_both_engines(spark):
    """The dbt_congestion_hourly guard: ROUND(negative*0.0, 6) diverges
    between engines (DuckDB keeps -0.0, Spark's BigDecimal ROUND yields
    +0.0); appending `+ 0.0` makes both emit +0.0 with every other value
    untouched (IEEE 754: -0.0 + 0.0 = +0.0)."""
    import duckdb
    s_raw = spark.sql(
        "SELECT ROUND(CAST(-1.5 AS DOUBLE) * CAST(0.0 AS DOUBLE), 6) AS v"
    ).collect()[0]["v"]
    d_raw = duckdb.sql(
        "SELECT ROUND(CAST(-1.5 AS DOUBLE) * CAST(0.0 AS DOUBLE), 6) AS v"
    ).fetchone()[0]
    assert repr(s_raw) == "0.0" and repr(d_raw) == "-0.0"  # the divergence
    s = spark.sql(
        "SELECT ROUND(CAST(-1.5 AS DOUBLE) * CAST(0.0 AS DOUBLE), 6) + 0.0 AS v"
    ).collect()[0]["v"]
    d = duckdb.sql(
        "SELECT ROUND(CAST(-1.5 AS DOUBLE) * CAST(0.0 AS DOUBLE), 6) + 0.0 AS v"
    ).fetchone()[0]
    assert repr(s) == repr(d) == "0.0"


def test_half_round_agrees_where_engine_round_diverges(spark):
    """half_round is bit-identical on Spark and DuckDB, including on the
    decimal half-boundaries where the engines' ROUNDs part ways: the
    daily mean (96.013224 + 12.886776) / 2 = 54.449999999999996 (Spark
    ROUND gives 54.4, DuckDB 54.5), a 6dp-mean quotient on a 6dp
    boundary, and negative and tiny-negative congestion values."""
    import duckdb
    from data_engineering_projects_spark.functions.determinism import (
        HALF_ROUND_SQL, half_round)
    cases = [((96.013224 + 12.886776) / 2, 1), ((32.849571 + 0.0) / 2, 6),
             (-0.0125, 3), (-0.0004, 3), (0.616992 / 192, 6), (0.0, 3)]
    df = spark.createDataFrame(
        [tuple(x for x, _ in cases)],
        ", ".join(f"x{i} double" for i in range(len(cases))))
    got = list(df.select(*[half_round(F.col(f"x{i}"), d)
                           for i, (_, d) in enumerate(cases)]).first())
    sql = ", ".join(HALF_ROUND_SQL.format(c=f"CAST({x!r} AS DOUBLE)", d=d)
                    for x, d in cases)
    want = list(duckdb.sql(f"SELECT {sql}").fetchone())
    assert [repr(v) for v in got] == [repr(v) for v in want]
    assert want[0] == 54.5 and want[2] == -0.013
    x = repr(cases[0][0])
    s = spark.sql(f"SELECT ROUND(CAST({x} AS DOUBLE), 1) AS r").first()["r"]
    d = duckdb.sql(f"SELECT ROUND(CAST({x} AS DOUBLE), 1)").fetchone()[0]
    assert (s, d) == (54.4, 54.5)            # plain ROUND: engines disagree


@settings(max_examples=8, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 30), st.integers(0, 30)),
                min_size=1, max_size=25))
def test_min_label_propagation_matches_union_find(spark, edges):
    """Bounded propagation must agree with an exact union-find on graphs
    whose diameter fits the iteration budget (25 edges -> diameter <= 25,
    so iters=26 always converges)."""
    from data_engineering_projects_spark.operators.clustering import (
        propagate_min_labels)
    edges = [(a, b) for a, b in edges if a != b]
    if not edges:
        return
    parent = {}
    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {x: find(x) for x in parent}
    pairs = spark.createDataFrame(edges, "doc_a bigint, doc_b bigint")
    got = {r.id: r.label
           for r in propagate_min_labels(pairs, iters=26).collect()}
    assert got == want  # default path: driver bypass at these sizes
    got_dist = {r.id: r.label
                for r in propagate_min_labels(
                    pairs, iters=26, local_finish_edges=0).collect()}
    assert got_dist == want  # forced-distributed loop agrees


def test_round_of_derived_ratio_diverges_but_raw_quotient_matches(spark):
    """The derived-ratio ROUND trap caught by the sf0.1 sweep
    (embed_label_centroids): 0.616992/192 = 0.0032135 exactly — a
    7-decimal rational whose double sits just below the 6dp half-boundary.
    Spark ROUNDs the shortest repr HALF_UP (down -> 0.003213); DuckDB's
    float-multiply ROUND lands on the boundary (up -> 0.003214). The raw
    quotient, by contrast, is the identical double on both engines — so
    dec_avg outputs must be emitted UNROUNDED."""
    import duckdb
    s = spark.sql(
        "SELECT ROUND(CAST(0.616992 AS DOUBLE) / 192, 6) AS r,"
        "       CAST(0.616992 AS DOUBLE) / 192 AS q").collect()[0]
    d = duckdb.sql(
        "SELECT ROUND(CAST(0.616992 AS DOUBLE) / 192, 6) AS r,"
        "       CAST(0.616992 AS DOUBLE) / 192 AS q").fetchone()
    assert repr(s["q"]) == repr(d[1])        # raw quotient: bit-identical
    assert s["r"] != d[0]                    # ROUND of it: engines disagree


@settings(max_examples=8, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 30), st.integers(0, 30)),
                min_size=1, max_size=25))
def test_star_contraction_matches_union_find(spark, edges):
    """connected_components_star must agree with exact union-find on ANY
    graph (it is exact CC, no diameter bound) — including duplicate and
    self-loop edges — on BOTH execution paths: the fully-distributed
    contraction loop (local_finish_edges=0) and the default bounded
    driver finish (these fixtures sit under CC_LOCAL_FINISH_EDGES, so
    the default exercises _local_min_labels end to end)."""
    from data_engineering_projects_spark.operators.clustering import (
        connected_components_star)
    parent = {}
    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    real = [(a, b) for a, b in edges if a != b]
    if not real:
        return
    for a, b in real:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {x: find(x) for x in parent}
    pairs = spark.createDataFrame(edges, "doc_a bigint, doc_b bigint")
    stats_d: dict = {}
    distributed = {r.id: r.label
                   for r in connected_components_star(
                       pairs, stats=stats_d,
                       local_finish_edges=0).collect()}
    assert distributed == want
    assert stats_d["local_finish"] is False
    stats_l: dict = {}
    local = {r.id: r.label
             for r in connected_components_star(
                 pairs, stats=stats_l).collect()}
    assert local == want
    assert stats_l["local_finish"] is True and stats_l["rounds"] == 0


def test_star_contraction_long_chain(spark):
    """A 60-node path (diameter 59) — far beyond propagate_min_labels'
    default budget — must fully label in O(log d) star rounds; the
    ``stats`` out-param must report a round count in the log-diameter
    regime (not the linear-propagation one), and REPLICATING the chain
    (a second, disjoint id-shifted copy — the stress_scale.py fixture
    shape) must not increase rounds: data growth scales per-round work,
    never round count."""
    from data_engineering_projects_spark.operators.clustering import (
        connected_components_star)
    chain = [(i, i + 1) for i in range(60)]
    stats: dict = {}
    pairs = spark.createDataFrame(chain, "doc_a bigint, doc_b bigint")
    got = {r.id: r.label
           for r in connected_components_star(
               pairs, stats=stats, local_finish_edges=0).collect()}
    assert got == {i: 0 for i in range(61)}
    assert 1 <= stats["rounds"] <= 12, stats  # log2(59)~6 plus slack
    assert stats["local_finish"] is False

    two = chain + [(i + 1000, i + 1001) for i in range(60)]
    stats2: dict = {}
    pairs2 = spark.createDataFrame(two, "doc_a bigint, doc_b bigint")
    got2 = {r.id: r.label
            for r in connected_components_star(
                pairs2, stats=stats2, local_finish_edges=0).collect()}
    assert got2 == {**{i: 0 for i in range(61)},
                    **{i + 1000: 1000 for i in range(61)}}
    assert stats2["rounds"] <= stats["rounds"] + 1, (stats, stats2)


@settings(max_examples=8, deadline=None)
@given(st.lists(
    st.lists(st.tuples(st.integers(min_value=0, max_value=5),
                       st.integers(min_value=0, max_value=2),
                       st.integers(min_value=0, max_value=99)),
             min_size=1, max_size=6),
    min_size=1, max_size=3))
def test_partition_pruned_merge_equals_reference_upsert(spark, batches):
    """The partition-pruned merge (partition_by ⊆ unique_key) must equal
    a naive in-memory upsert for ANY batch sequence — including batches
    that revisit keys, revisit partitions, or contain intra-batch
    duplicate keys (last-write-wins is not promised for intra-batch
    dups, so dedupe within batch first like a real pipeline would)."""
    import shutil
    import tempfile

    from data_engineering_projects_spark.plans.models import ModelGraph

    wh = tempfile.mkdtemp(prefix="merge_prop_")
    try:
        ref: dict[tuple[int, int], int] = {}
        state = {"rows": []}
        g = ModelGraph(warehouse_dir=wh)

        @g.model(materialization="incremental", unique_key=["k", "p"],
                 partition_by=["p"], incremental_strategy="merge")
        def t(s, v):
            return s.createDataFrame(state["rows"], "k long, p long, v long")

        for batch in batches:
            dedup = {}
            for k, p, v in batch:       # last occurrence wins in-batch
                dedup[(k, p)] = v
            ref.update(dedup)
            state["rows"] = [(k, p, v) for (k, p), v in dedup.items()]
            out = g.run(spark)["t"]
        got = {(r["k"], r["p"]): r["v"] for r in out.collect()}
        assert got == ref
    finally:
        shutil.rmtree(wh, ignore_errors=True)


@settings(max_examples=10, deadline=None)
@given(st.lists(
    st.tuples(st.integers(0, 2),        # day offset
              st.integers(0, 24 * 60 - 1)),  # minute within day
    min_size=1, max_size=40))
def test_max_concurrency_matches_brute_force(spark, starts):
    """The day-keyed sweep (carry-in + midnight endpoint attribution)
    must agree with a brute-force interval counter — including inputs
    where intervals straddle midnight or end exactly ON midnight (a
    23:30 start), the two cases the round-5 ADVICE flagged. Oracle
    parity cannot catch these: both engines replay the same SQL, so a
    shared truncation would hash green.

    Brute force: concurrency(x) = #{i : s_i <= x < s_i + 30min} is a
    right-continuous step function that only increases at starts, so
    each day's peak is attained at a start within the day or at the
    day's midnight (the carry-in); days appear in the output iff they
    contain a boundary (a start, or an end attributed via end - 1us)."""
    from data_engineering_projects_spark.operators.intervals import (
        max_concurrency_by_day)

    base = dt.datetime(2024, 3, 1)
    dur = dt.timedelta(minutes=30)
    ivals = [(base + dt.timedelta(days=d, minutes=m),
              base + dt.timedelta(days=d, minutes=m) + dur)
             for d, m in starts]

    def conc(x: dt.datetime) -> int:
        return sum(1 for s, e in ivals if s <= x < e)

    days = {s.date() for s, _ in ivals} | \
           {(e - dt.timedelta(microseconds=1)).date() for _, e in ivals}
    want = {}
    for day in days:
        mid = dt.datetime.combine(day, dt.time())
        cands = [mid] + [s for s, _ in ivals if s.date() == day]
        want[day] = max(conc(x) for x in cands)

    rows = [(i, s) for i, (s, _) in enumerate(ivals)]
    ev = spark.createDataFrame(rows, "event_id bigint, ts timestamp")
    got = {r["day"]: r["max_concurrent"]
           for r in max_concurrency_by_day(ev).collect()}
    assert got == want


@settings(max_examples=8, deadline=None)
@given(
    st.lists(st.tuples(st.integers(0, 2), st.integers(0, 50)),
             min_size=1, max_size=25),            # left (key, t)
    st.lists(st.tuples(st.integers(0, 2), st.integers(0, 50),
                       st.integers(0, 999)),
             min_size=0, max_size=25))            # right (key, t, v)
def test_asof_join_matches_brute_force(spark, lefts, rights):
    """The union+carry-forward as-of rendering must agree with the
    nested-loop definition (latest right with right_ts <= left_ts, same
    key) on random inputs — including the equal-timestamp boundary,
    which hypothesis hits constantly on a 0..50 integer time domain.
    The right side is deduped to one row per (key, t) (the operator's
    documented precondition), keeping the max v like the contract query
    keeps a max id."""
    from data_engineering_projects_spark.operators.asof import (
        asof_join_backward)

    base = dt.datetime(2024, 5, 1)
    rd = {}
    for k, t, v in rights:
        rd[(k, t)] = max(v, rd.get((k, t), -1))
    right_rows = [(k, base + dt.timedelta(seconds=t), v)
                  for (k, t), v in sorted(rd.items())]
    left_rows = [(i, k, base + dt.timedelta(seconds=t))
                 for i, (k, t) in enumerate(lefts)]

    left = spark.createDataFrame(left_rows, "lid bigint, k bigint, lts timestamp")
    right = spark.createDataFrame(right_rows, "k bigint, rts timestamp, v bigint") \
        if right_rows else spark.createDataFrame([], "k bigint, rts timestamp, v bigint")
    got = {r["lid"]: r["v"]
           for r in asof_join_backward(left, right, "k", "lts", "rts",
                                       ["v"]).collect()}

    want = {}
    for lid, k, lts in left_rows:
        best = None
        for rk, rts, v in right_rows:
            if rk == k and rts <= lts and (best is None or rts > best[0]):
                best = (rts, v)
        want[lid] = best[1] if best else None
    assert got == want


@settings(max_examples=8, deadline=None)
@given(
    st.lists(st.tuples(st.integers(0, 1), st.integers(0, 400)),
             min_size=1, max_size=20),                    # points (key, t)
    st.lists(st.tuples(st.integers(0, 1), st.integers(0, 400),
                       st.integers(0, 300)),
             min_size=0, max_size=15),                    # intervals (key, s, dur)
    st.sampled_from([60, 100, 128, 3600]))                # bucket seconds
def test_interval_join_matches_brute_force(spark, points, ivals, bucket_s):
    """The bucketed interval equi-join must emit exactly the nested-loop
    pairs (start <= t <= end, equal key) for random inputs and bucket
    widths BOTH larger and smaller than the intervals — the multi-bucket
    explode path and the bucket-boundary points are where an off-by-one
    would hide."""
    from data_engineering_projects_spark.operators.rangejoin import (
        interval_join)

    base = dt.datetime(2024, 5, 1)
    p_rows = [(i, k, base + dt.timedelta(seconds=t))
              for i, (k, t) in enumerate(points)]
    i_rows = [(j, k, base + dt.timedelta(seconds=s),
               base + dt.timedelta(seconds=s + d))
              for j, (k, s, d) in enumerate(ivals)]
    p = spark.createDataFrame(p_rows, "pid bigint, k bigint, pt timestamp")
    i = spark.createDataFrame(i_rows,
                              "iid bigint, k bigint, s timestamp, e timestamp") \
        if i_rows else spark.createDataFrame(
            [], "iid bigint, k bigint, s timestamp, e timestamp")
    got = {(r["pid"], r["iid"])
           for r in interval_join(p.withColumnRenamed("k", "k1"),
                                  i.withColumnRenamed("k", "k1"),
                                  "pt", "s", "e", keys=["k1"],
                                  bucket_seconds=bucket_s).collect()}
    want = {(pid, iid)
            for pid, pk, pt in p_rows
            for iid, ik, s, e in i_rows
            if pk == ik and s <= pt <= e}
    assert got == want


@settings(max_examples=5, deadline=None)
@given(st.integers(0, 2**31 - 1), st.integers(2, 5))
def test_ivf_full_probe_equals_brute_force(spark, seed, n_cells):
    """IVF exactness invariant: with ``nprobe >= n_cells`` every query
    probes every cell, so the candidate set is the whole corpus and the
    search must return EXACTLY the brute-force top-k — same neighbors,
    same ranks, same rounded sims. This pins the partition-restriction
    machinery (assign + per-cell equi-join) as lossless when not
    pruning, independent of how the centroids converged."""
    import random

    from data_engineering_projects_spark.operators.similarity import (
        cosine_topk_hof, ivf_assign, ivf_search, ivf_train)

    rng = random.Random(seed)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(6)]) for i in range(30)]
    corpus = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    queries = corpus.filter(F.col("vec_id") % 7 == 0)

    cents = ivf_train(corpus, n_cells=n_cells, n_iters=1)
    assigned = ivf_assign(corpus, cents)
    got = {(r["query_id"], r["neighbor_id"], r["knn_rank"], r["sim"])
           for r in ivf_search(queries, assigned, cents, k=5,
                               nprobe=n_cells).collect()}
    want = {(r["query_id"], r["neighbor_id"], r["knn_rank"], r["sim"])
            for r in cosine_topk_hof(queries, corpus, k=5).collect()}
    assert got == want


@settings(max_examples=10, deadline=None)
@given(st.lists(
    st.text(alphabet="aA zZ09.,!éÉüÜñÑçÇøØåÅß€—…中日«»\t\n", max_size=80),
    min_size=1, max_size=20))
def test_blocked_fingerprint_code_point_parity(spark, texts):
    """Validates the claim the round-6 `docs_crosslang_dups` docstring
    makes (round-5 ADVICE): the blocked prefix fingerprint
    md5(substr(normalize(text), 1, 60)) matches cross-engine because
    Spark `substring` and DuckDB `substr` both count CODE POINTS, both
    md5 the UTF-8 encoding, and lower/regexp/trim agree on unconditional
    one-to-one case mappings — exercised here on adversarial NON-ASCII
    input (accented Latin, ß, €, em-dash/ellipsis, CJK, guillemets),
    not just the shipped ASCII corpus."""
    import duckdb

    from data_engineering_projects_spark.functions.text import (
        normalize_text, NORMALIZE_TEXT_SQL)

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r["doc_id"]: r["fp"] for r in df.select(
        "doc_id",
        F.md5(F.substring(normalize_text(F.col("text")), 1, 60)).alias("fp")
    ).collect()}

    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE docs (doc_id BIGINT, text VARCHAR)")
        con.executemany("INSERT INTO docs VALUES (?, ?)", rows)
        want = dict(con.execute(
            f"SELECT doc_id, md5(substr("
            f"{NORMALIZE_TEXT_SQL.format(c='text')}, 1, 60)) FROM docs"
        ).fetchall())
    finally:
        con.close()
    assert got == want


@settings(max_examples=10, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 2), st.integers(0, 7200)),
                min_size=1, max_size=40))
def test_sessionize_matches_brute_force(spark, events):
    """The one-shuffle lag-flag + running-sum sessionization must agree
    with a direct python sessionizer on random per-key event times —
    including exact-gap boundaries (gap == threshold stays in-session;
    only STRICTLY greater opens a new one) and duplicate timestamps
    (ties ordered by id). Uses a 600s gap over a 0..7200s domain so
    hypothesis constantly crosses the threshold both ways."""
    from data_engineering_projects_spark.operators.windows import sessionize

    base = dt.datetime(2024, 6, 1)
    rows = [(i, k, base + dt.timedelta(seconds=s))
            for i, (k, s) in enumerate(events)]
    df = spark.createDataFrame(rows, "event_id bigint, k bigint, ts timestamp")
    got = {r["event_id"]: r["session_no"]
           for r in sessionize(df, "k", "ts", "event_id",
                               gap_seconds=600).collect()}

    want = {}
    for k in {k for _, k, _ in rows}:
        seq = sorted(((ts, i) for i, kk, ts in rows if kk == k))
        sess, prev = 0, None
        for ts, i in seq:
            if prev is None or (ts - prev).total_seconds() > 600:
                sess += 1
            want[i] = sess
            prev = ts
    assert got == want


@settings(max_examples=10, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 2), st.integers(0, 60)),
                min_size=1, max_size=40))
def test_islands_matches_brute_force(spark, pairs):
    """The ``seq - row_number`` island key must group exactly the
    maximal runs of consecutive integers per key — compared against a
    direct python run-grouper on random (key, seq) sets (deduped, the
    operator's documented precondition). Rows are in the same island iff
    the brute-force run id matches."""
    from data_engineering_projects_spark.operators.windows import islands

    rows = sorted({(k, s) for k, s in pairs})
    df = spark.createDataFrame(rows, "k bigint, seq bigint")
    got = {(r["k"], r["seq"]): r["island"]
           for r in islands(df, "k", "seq").collect()}

    want = {}
    for k in {k for k, _ in rows}:
        seq = sorted(s for kk, s in rows if kk == k)
        run = 0
        for i, s in enumerate(seq):
            if i == 0 or s != seq[i - 1] + 1:
                run += 1
            want[(k, s)] = run
    # same-island iff same brute-force run: compare the induced partitions
    by_run = {}
    for (k, s), r in want.items():
        by_run.setdefault((k, r), set()).add((k, s))
    by_island = {}
    for (k, s), isl in got.items():
        by_island.setdefault((k, isl), set()).add((k, s))
    assert sorted(by_run.values(), key=sorted) == \
        sorted(by_island.values(), key=sorted)
