"""Property tests (SURVEY.md §5.2(4)): randomized semantics checks against
brute-force replicas — dedup-keep-last (D2), clip (L8), and planted-structure
checks for the hash-based dedup family on constructed corpora."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from dask_recommender_system_spark.registry import REGISTRY, load_all_operators

load_all_operators()

# one (user, item, rating) triple; times assigned uniquely afterwards so
# keep-last is well-defined without modeling pandas' stable-sort tiebreak
_triples = st.lists(
    st.tuples(
        st.integers(0, 3), st.integers(0, 3), st.integers(1, 5)
    ),
    min_size=1,
    max_size=30,
)


@given(triples=_triples, perm_seed=st.integers(0, 10**6))
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_dedup_keep_last_matches_bruteforce(spark, triples, perm_seed):
    """D2 (run_als.py:10): one row per (user,item), the one with max time."""
    import random

    times = list(range(len(triples)))
    random.Random(perm_seed).shuffle(times)
    rows = [(u, i, float(r), t) for (u, i, r), t in zip(triples, times)]

    expect = {}
    for u, i, r, t in rows:
        if (u, i) not in expect or t > expect[(u, i)][1]:
            expect[(u, i)] = (r, t)

    df = spark.createDataFrame(rows, "user int, item int, rating double, time int")
    w = W.partitionBy("user", "item").orderBy(F.col("time").desc())
    got = {
        (r["user"], r["item"]): (r["rating"], r["time"])
        for r in df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
        .collect()
    }
    assert got == expect


@given(
    preds=st.lists(
        st.floats(-100, 100, allow_nan=False, allow_infinity=False),
        min_size=1,
        max_size=50,
    ),
    lo=st.floats(-10, 0),
    span=st.floats(0, 10),
)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_clip_bounds_and_idempotence(spark, preds, lo, span):
    """L8 (models/als.py:212): clip lands in [lo,hi]; clipping twice is
    clipping once; in-range values pass through untouched."""
    hi = lo + span
    df = spark.createDataFrame([(float(p),) for p in preds], "pred double")
    clip = F.least(F.greatest(F.col("pred"), F.lit(lo)), F.lit(hi))
    out = df.select(
        "pred", clip.alias("c1"), F.least(F.greatest(clip, F.lit(lo)), F.lit(hi)).alias("c2")
    ).collect()
    for r in out:
        assert lo <= r["c1"] <= hi
        assert r["c1"] == r["c2"]
        if lo <= r["pred"] <= hi:
            assert r["c1"] == r["pred"]


def _write_docs(spark, tmp_path, docs):
    d = str(tmp_path / "docfix")
    spark.createDataFrame(
        [(i, t, "en", "fix") for i, t in enumerate(docs)],
        "doc_id long, text string, lang string, source string",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    return d


def test_minhash_planted_duplicates(spark, tmp_path):
    """Exact duplicates share every minhash component → jaccard_dist 0;
    token-disjoint docs share none → no candidate pair."""
    base = "the quick brown fox jumps over the lazy dog again and again " * 3
    other = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do " * 3
    docs = [base, base, other]
    d = _write_docs(spark, tmp_path, docs)
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard_dist"]
        for r in REGISTRY["dedup_minhash"].fn(spark, d).collect()
    }
    assert pairs.get((0, 1)) == 0.0
    assert (0, 2) not in pairs and (1, 2) not in pairs


def test_simhash_planted_near_duplicates(spark, tmp_path):
    """A one-token edit of a high-vocabulary doc lands at Hamming 3 of
    120 — the exact boundary of the 4x30-bit-key pigeonhole guarantee
    (<= 3 differing bits leave >= 1 clean key; this fixture dirties 3 of
    the 4 keys, so the one guaranteed-clean key is doing the work) —
    and must be emitted; disjoint-vocab docs never pair."""
    from dask_recommender_system_spark.operators.dedup import SIMHASH_T

    base = [f"word{i:03d}" for i in range(400)]
    edited = list(base)
    edited[4] = "MUTATED"
    docs = [" ".join(base), " ".join(edited),
            " ".join(f"zzz{i:03d}" for i in range(400))]
    d = _write_docs(spark, tmp_path, docs)
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in REGISTRY["dedup_simhash"].fn(spark, d).collect()
    }
    assert got.get((0, 1)) == 3
    assert 3 <= SIMHASH_T
    assert (0, 2) not in got and (1, 2) not in got


def test_frame_sample_cardinality_and_determinism(spark, sf_dir):
    """multimodal_frame_sample: exactly N_FRAMES rows per doc; two runs
    produce identical output (stub decode is deterministic)."""
    from dask_recommender_system_spark.operators.multimodal import N_FRAMES

    fn = REGISTRY["multimodal_frame_sample"].fn
    a = fn(spark, sf_dir).orderBy("doc_id", "frame_idx").collect()
    n_docs = REGISTRY["multimodal_decode"].fn(spark, sf_dir).count()
    assert len(a) == n_docs * N_FRAMES
    b = fn(spark, sf_dir).orderBy("doc_id", "frame_idx").collect()
    assert a == b


def test_user_ewma_matches_pandas_replica(spark, sf_dir):
    """GROUPED_MAP EWMA equals an independent driver-side replica."""
    import pandas as pd

    got = (
        REGISTRY["user_ewma"].fn(spark, sf_dir)
        .orderBy("user_id", "interaction_id")
        .toPandas()
    )
    assert len(got) > 0
    from dask_recommender_system_spark.data import load_table, ratings_from_df
    from dask_recommender_system_spark.operators.grouped import EWMA_ALPHA

    r = (
        ratings_from_df(
            load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "orders")
        )
        .filter(F.col("user_id") % 100 == 0)
        .toPandas()
    )
    r = r.drop_duplicates().sort_values(
        ["user_id", "ts", "interaction_id", "rating"]
    )
    r["ewma"] = r.groupby("user_id")["rating"].transform(
        lambda s: s.ewm(alpha=EWMA_ALPHA, adjust=False).mean()
    )
    # interaction_id is NOT unique in the synthetic data (lineitem repeats
    # (orderkey, linenumber) with different ts) — compare as sorted value
    # lists, not by key join
    want_vals = sorted(
        (int(u), int(i), round(float(e), 6))
        for u, i, e in zip(r["user_id"], r["interaction_id"], r["ewma"])
    )
    got_vals = sorted(
        (int(u), int(i), round(float(e), 6))
        for u, i, e in zip(got["user_id"], got["interaction_id"], got["ewma"])
    )
    assert got_vals == want_vals


def test_embedding_quantize_roundtrip_error(spark, sf_dir):
    """int8 quantization: dequantized components within ~scale/2 + half an
    ulp of rounding slack; scale positive; q values in [-127, 127]."""
    rows = REGISTRY["embedding_quantize_int8"].fn(spark, sf_dir).collect()
    assert rows
    import numpy as np

    emb = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    }
    for r in rows[:2000]:
        x = emb[r["vec_id"]][r["pos"]]
        s, q = r["scale"], r["qval"]
        assert s > 0
        assert -127 <= q <= 127
        # scale is rounded to 9 places for output; allow that rounding slack
        assert abs(q * s - x) <= s / 2 + 1e-6


def test_quantize_pandas_kernel_matches_jvm(spark, sf_dir):
    """The whole-batch numpy pandas_udf twin must agree exactly with the
    JVM transform/array_max implementation (same floor(x/s + 0.5) rule)."""
    import numpy as np
    import pandas as pd

    from dask_recommender_system_spark.operators.grouped import (
        quantize_int8_batch,
        quantize_int8_cols,
    )
    from pyspark.sql import functions as F

    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        .limit(100)
    )
    scale, q = quantize_int8_cols(F.col("v"))
    jvm = {r["vec_id"]: r["q"] for r in emb.select("vec_id", q.alias("q")).collect()}
    local = emb.toPandas()
    py = quantize_int8_batch(local["v"].map(np.asarray))
    for vid, qv in zip(local["vec_id"], py):
        assert list(qv) == list(jvm[vid]), vid


_asof_left = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 20)),  # (key, ts)
    min_size=1,
    max_size=25,
)
_asof_right = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 20), st.integers(0, 99)),
    min_size=0,
    max_size=25,
)


@given(left=_asof_left, right=_asof_right)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_asof_join_matches_bruteforce(spark, left, right):
    """X7 union-window as-of join vs brute force, including duplicate
    right timestamps (ties -> max tiebreak), left rows with no match
    (inner drops, left keeps NULL), and boundary equality (inclusive)."""
    from dask_recommender_system_spark.operators.extended import asof_join

    lrows = [(i, k, t) for i, (k, t) in enumerate(left)]
    rrows = [(k, t, v) for (k, t, v) in right]
    ldf = spark.createDataFrame(lrows, "lid int, k int, t int")
    rdf = spark.createDataFrame(rrows, "k int, t int, val int")

    def brute(lid, k, t):
        cands = [(rt, v) for (rk, rt, v) in rrows if rk == k and rt <= t]
        return max(cands) if cands else None  # (max ts, then max val=tiebreak)

    expect_inner = {
        lid: m[1] for (lid, k, t) in lrows if (m := brute(lid, k, t)) is not None
    }
    got_inner = {
        r["lid"]: r["asof_val"]
        for r in asof_join(
            ldf, rdf, "k", "t", "t", ["val"], tiebreak="val", how="inner"
        ).collect()
    }
    assert got_inner == expect_inner

    expect_left = {lid: (m[1] if (m := brute(lid, k, t)) else None) for (lid, k, t) in lrows}
    got_left = {
        r["lid"]: r["asof_val"]
        for r in asof_join(
            ldf, rdf, "k", "t", "t", ["val"], tiebreak="val", how="left"
        ).collect()
    }
    assert got_left == expect_left


_cc_edges = st.lists(
    st.tuples(st.integers(0, 14), st.integers(0, 14)),
    min_size=0,
    max_size=30,
)


@given(edges=_cc_edges)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_min_label_components_matches_union_find(spark, edges):
    """X25 label propagation vs brute-force union-find on random graphs,
    including self-loops, parallel edges, singletons, and chains longer
    than one propagation round."""
    from dask_recommender_system_spark.operators.dedup import min_label_components

    nodes = list(range(15))
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    expect = {}
    for n in nodes:
        root = find(n)
        expect.setdefault(root, []).append(n)
    expect_lbl = {n: min(expect[find(n)]) for n in nodes}

    pairs = spark.createDataFrame(
        edges or [(0, 0)], "a int, b int"
    )  # empty DataFrames need a schema row; (0,0) self-loop is a no-op
    ndf = spark.createDataFrame([(n,) for n in nodes], "node int")
    got = {
        r["node"]: r["lbl"] for r in min_label_components(pairs, ndf).collect()
    }
    assert got == expect_lbl


def test_min_label_components_raises_on_round_exhaustion(spark):
    """A chain whose diameter exceeds max_rounds must raise, not return
    silently-wrong cluster ids (ADVICE r01)."""
    import pytest as _pytest

    from dask_recommender_system_spark.operators.dedup import min_label_components

    n = 8
    pairs = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "a int, b int")
    ndf = spark.createDataFrame([(i,) for i in range(n)], "node int")
    with _pytest.raises(RuntimeError, match="did not converge"):
        min_label_components(pairs, ndf, max_rounds=2)


def test_negative_sampling_invariants(spark, sf_dir):
    """Structural invariants the oracle hash can't state directly: no
    sampled negative is a seen (user, item) positive; at most NEG_K
    negatives per positive triple; the sample is deterministic across
    re-evaluation (hash-derived, no RNG)."""
    from dask_recommender_system_spark.operators.training import NEG_K
    from dask_recommender_system_spark.registry import REGISTRY

    fn = REGISTRY["negative_sampling"].fn
    out = fn(spark, sf_dir).toPandas()
    assert out["neg_rank"].max() <= NEG_K
    per_triple = out.groupby(["user_id", "item_id", "interaction_id"]).size()
    assert per_triple.max() <= NEG_K

    from dask_recommender_system_spark.data import load_table, ratings_from_df

    seen = set(
        map(
            tuple,
            ratings_from_df(
                load_table(spark, sf_dir, "lineitem"),
                load_table(spark, sf_dir, "orders"),
            )
            .select("user_id", "item_id")
            .distinct()
            .toPandas()
            .itertuples(index=False),
        )
    )
    sampled = set(map(tuple, out[["user_id", "neg_item"]].itertuples(index=False)))
    assert not (sampled & seen), "sampled a seen positive"

    again = fn(spark, sf_dir).toPandas()
    assert len(again) == len(out)


def test_vocab_coverage_invariants(spark, sf_dir):
    """rank is a contiguous 1..|vocab| permutation; cum_share is
    monotone non-decreasing along rank and ends at 1.0; in_vocab is a
    prefix property (never 0 then 1 again down the ranking)."""
    from dask_recommender_system_spark.registry import REGISTRY

    out = (
        REGISTRY["vocab_coverage"].fn(spark, sf_dir)
        .toPandas()
        .sort_values("rnk")
        .reset_index(drop=True)
    )
    assert list(out["rnk"]) == list(range(1, len(out) + 1))
    assert (out["cum_share"].diff().dropna() >= -1e-9).all()
    assert abs(out["cum_share"].iloc[-1] - 1.0) < 1e-6
    flags = list(out["in_vocab"])
    assert flags == sorted(flags, reverse=True), "in_vocab not a prefix"


def test_heavy_hitters_exactly_true_set(spark, sf_dir):
    """The sketch+recount output must equal the exact heavy-hitter set —
    the pigeonhole superset guarantee made effective by the recount."""
    from pyspark.sql import functions as F

    from dask_recommender_system_spark.data import load_table, ratings_from_df
    from dask_recommender_system_spark.operators.scale import _HH_SKEW, HH_K
    from dask_recommender_system_spark.registry import REGISTRY

    got = {
        (r["key"], r["cnt"])
        for r in REGISTRY["heavy_hitters"].fn(spark, sf_dir).collect()
    }
    r = ratings_from_df(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "orders")
    ).select(F.expr(_HH_SKEW).alias("key"))
    total = r.count()
    exact = {
        (row["key"], row["cnt"])
        for row in r.groupBy("key").agg(F.count("*").alias("cnt")).collect()
        if row["cnt"] * HH_K > total
    }
    assert got == exact


def test_pagerank_mass_conservation(spark, sf_dir):
    """PageRank invariants: every relative rank positive, and total mass
    conserved — sum(r) = 1 exactly in exact arithmetic, so sum(rank_rel)
    = n within accumulated float tolerance."""
    from dask_recommender_system_spark.registry import REGISTRY

    out = REGISTRY["pagerank_items"].fn(spark, sf_dir).toPandas()
    assert (out["rank_rel"] > 0).all()
    n = len(out)
    assert abs(out["rank_rel"].sum() - n) < 1e-2 * n**0.5 + 1e-3


def test_triangle_core_on_planted_graphs(spark):
    """graph_triangle_stats counting core on graphs with known answers:
    K4 (4 triangles, transitivity 1), a 4-cycle (0 triangles), and K4
    plus a pendant vertex (still 4 triangles, wedges grow)."""
    from dask_recommender_system_spark.operators.graph import (
        triangle_stats_from_edges,
    )

    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    row = triangle_stats_from_edges(
        spark.createDataFrame(k4, "u long, v long")
    ).collect()[0]
    assert row["n_nodes"] == 4 and row["n_edges"] == 6
    assert row["n_triangles"] == 4
    assert abs(row["transitivity"] - 1.0) < 1e-9

    cycle = [(0, 1), (1, 2), (2, 3), (0, 3)]
    row = triangle_stats_from_edges(
        spark.createDataFrame(cycle, "u long, v long")
    ).collect()[0]
    assert row["n_triangles"] == 0

    pendant = k4 + [(3, 9)]
    row = triangle_stats_from_edges(
        spark.createDataFrame(pendant, "u long, v long")
    ).collect()[0]
    assert row["n_nodes"] == 5 and row["n_triangles"] == 4


def test_iterate_pins_releases_and_settles_on_a_planted_path(spark):
    """models.common.iterate driving min-label propagation over the path
    0-1-2-3-4. A fixed 3-round run releases exactly 2 frames, never the
    caller's unpinned round-0 input (RELEASE_STATS["failed"] stays put),
    and leaves only the final frame tracked. With ``settle`` = label sum
    it stops one round after the labels stop changing: 5 rounds of 20."""
    from dask_recommender_system_spark.models.common import (
        QUERY_CHECKPOINTS,
        RELEASE_STATS,
        iterate,
        release_query_checkpoints,
    )

    n = 5
    path = [(i, i + 1) for i in range(n - 1)]
    edges = spark.createDataFrame(path + [(b, a) for a, b in path], "src long, dst long")
    seed = spark.createDataFrame([(i, i) for i in range(n)], "node long, lbl long")
    calls = []

    def step(labels, r):
        calls.append(r)
        nbr = (
            edges.join(labels, edges.src == labels.node)
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("lbl").alias("nbr"))
        )
        return labels.join(nbr, "node", "left").select(
            "node", F.least("lbl", F.coalesce("nbr", "lbl")).alias("lbl")
        )

    def run(rounds, settle=None):
        calls.clear()
        release_query_checkpoints()
        released0, failed0 = RELEASE_STATS["released"], RELEASE_STATS["failed"]
        final, settled = iterate(seed, step, rounds, settle)
        assert RELEASE_STATS["released"] - released0 == len(calls) - 1
        assert RELEASE_STATS["failed"] == failed0
        assert len(QUERY_CHECKPOINTS) == 1 and QUERY_CHECKPOINTS[0] is final
        return {r["node"]: r["lbl"] for r in final.collect()}, settled

    labels, settled = run(3)
    assert calls == [1, 2, 3] and not settled
    assert labels == {i: max(0, i - 3) for i in range(n)}

    labels, settled = run(20, settle=lambda df: df.agg(F.sum("lbl")).first()[0])
    assert settled and calls == [1, 2, 3, 4, 5]
    assert labels == dict.fromkeys(range(n), 0)
    release_query_checkpoints()


def test_copurchase_edges_equal_the_order_keyed_self_join(spark, tmp_path):
    """copurchase_edges' in-row explode counts ORDERS per item pair, like
    the self-join of the distinct (order, part) lines: a repeated line
    adds nothing, and a one-item order adds no edge."""
    from dask_recommender_system_spark.operators.graph import copurchase_edges

    rows = [(1, 10), (1, 11), (1, 12), (1, 11), (2, 10), (2, 11), (3, 12), (4, 13)]
    path = str(tmp_path / "lineitem.parquet")
    spark.createDataFrame(rows, "l_orderkey long, l_partkey long").write.parquet(path)
    got = copurchase_edges(spark, str(tmp_path))
    lines = (
        spark.read.parquet(path)
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    a, b = lines.alias("a"), lines.alias("b")
    want = (
        a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") != F.col("b.p")))
        .groupBy(F.col("a.p").alias("u"), F.col("b.p").alias("v"))
        .agg(F.count("*").alias("c"))
    )
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    c = {(r["u"], r["v"]): r["c"] for r in got.collect()}
    assert c[(10, 11)] == c[(11, 10)] == 2 and c[(10, 12)] == 1
    assert len(c) == 6 and all(13 not in e for e in c)


def test_pca_power_iteration_matches_numpy(spark, sf_dir):
    """The fixed 8-step power method must land on numpy's leading
    eigenvector of the SAME rounded covariance (|cos| > 0.999) with the
    matching eigenvalue and a sane explained-variance ratio."""
    import numpy as np

    from dask_recommender_system_spark.operators.extended import PCA_D
    from dask_recommender_system_spark.registry import REGISTRY

    row = REGISTRY["pca_power_iteration"].fn(spark, sf_dir).collect()[0]
    v = np.array([row[f"pc1_{i}"] for i in range(PCA_D)])

    feats = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select(
            (F.col("l_quantity") / 50).alias("f0"),
            (F.col("l_extendedprice") / 100000).alias("f1"),
            (
                (1 - F.col("l_discount")) * F.col("l_extendedprice") / 100000
            ).alias("f2"),
            (F.col("l_tax") / 0.1).alias("f3"),
        )
        .toPandas()
        .to_numpy(dtype="float64")
    )
    c = np.round(np.cov(feats, rowvar=False, bias=True), 9)
    w, vecs = np.linalg.eigh(c)
    top = vecs[:, np.argmax(w)]
    cos = abs(float(v @ top) / (np.linalg.norm(v) * np.linalg.norm(top)))
    assert cos > 0.995, f"power iteration off numpy PC1: cos={cos}"
    assert abs(row["eigenvalue"] - float(np.max(w))) < 1e-3
    assert 0.0 < row["explained_var"] <= 1.0 + 1e-9


def test_split_leakage_audit_invariants(spark, sf_dir):
    """split_leakage_audit: the audit must be internally consistent with
    the split it audits — counts partition the ratings, cold rows bound
    cold users, ratios are the exact divisions of the emitted counts."""
    from dask_recommender_system_spark.data import load_table, ratings_from_df

    row = REGISTRY["split_leakage_audit"].fn(spark, sf_dir).first()
    n_ratings = ratings_from_df(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "orders")
    ).count()
    assert row["n_train"] + row["n_test"] == n_ratings
    assert row["n_train"] >= row["n_test"] > 0  # 0.8 temporal cutoff
    assert 0 <= row["n_cold_users"] <= row["n_cold_user_rows"] <= row["n_test"]
    assert 0 <= row["n_cold_items"]
    assert 0 <= row["n_repeat_pairs"] <= row["n_test"]
    assert row["pct_cold_user_rows"] == round(
        row["n_cold_user_rows"] / row["n_test"], 6
    )
    assert row["repeat_pair_ratio"] == round(
        row["n_repeat_pairs"] / row["n_test"], 6
    )


def test_split_leakage_audit_planted_branches(spark):
    """Every audit branch fires on a planted split (the sf fixtures have
    no cold users/items, so zeros there check only half the logic):
    10 ratings, cutoff at the 0.8 quantile of t=1..10 (=8) puts t=9,10 in
    test. User 100/item 7 appear only in test (cold); user 1/item 1 repeat
    across the halves."""
    from dask_recommender_system_spark.operators.relational import (
        leakage_audit_from,
    )

    rows = [
        # train: t 1..8, users 1-2, items 1-6
        (1, 1, 1), (1, 2, 2), (1, 3, 3), (2, 4, 4),
        (2, 5, 5), (2, 6, 6), (1, 4, 7), (2, 1, 8),
        # test: cold user 100 on cold item 7; repeat pair (1, 1)
        (100, 7, 9), (1, 1, 10),
    ]
    r = spark.createDataFrame(rows, "user_id long, item_id long, t long")
    row = leakage_audit_from(r).first()
    assert row["n_train"] == 8 and row["n_test"] == 2
    assert row["n_cold_users"] == 1 and row["n_cold_user_rows"] == 1
    assert row["n_cold_items"] == 1
    assert row["n_repeat_pairs"] == 1
    assert row["pct_cold_user_rows"] == 0.5
    assert row["repeat_pair_ratio"] == 0.5


def test_cross_corpus_anti_planted(spark, tmp_path):
    """dedup_cross_corpus_anti on a planted corpus where every branch
    fires: a batch doc duplicated in the reference is dropped, batch-only
    duplicates collapse to the min doc_id, unique batch docs survive."""
    rows = [
        # batch = doc_id % 3 == 0
        (0, "shared with reference corpus"),   # dup of ref doc 1 -> dropped
        (3, "batch only duplicate text"),      # batch-dup group keeper
        (6, "batch only duplicate text"),      # collapsed into doc 3
        (9, "unique fresh batch document"),    # survives alone
        # reference = doc_id % 3 != 0
        (1, "shared with reference corpus"),
        (2, "reference only text"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    d = str(tmp_path / "xcorpus")
    df.write.mode("overwrite").parquet(f"{d}/documents.parquet")
    got = {
        (r["doc_id"], r["n_batch_copies"])
        for r in REGISTRY["dedup_cross_corpus_anti"].fn(spark, d).collect()
    }
    assert got == {(3, 2), (9, 1)}


def test_quality_stratified_sample_invariants(spark, sf_dir):
    """quality_stratified_sample: the keep rule is exactly
    doc_id % 5 == 0, strata span the decile range, and within the sample
    every stratum's quality band is disjoint from the next (cuts are
    shared constants, so strata must be ordered by quality)."""
    out = REGISTRY["quality_stratified_sample"].fn(spark, sf_dir).toPandas()
    assert (out["doc_id"] % 5 == 0).all()
    assert out["stratum"].between(0, 9).all()
    by = out.groupby("stratum")["quality"]
    hi, lo = by.max(), by.min()
    strata = sorted(by.groups)
    for a, b in zip(strata, strata[1:]):
        assert hi[a] <= lo[b], f"stratum {a} overlaps {b}"


def test_boilerplate_profile_planted(spark, tmp_path):
    """boilerplate_shingle_profile on a planted corpus: a shingle pasted
    into BOILER_DF docs flags them (every other shingle unique), docs
    below the share threshold keep=1, and counts partition."""
    from dask_recommender_system_spark.operators.dedup import BOILER_DF

    boiler = "click here subscribe"
    rows = []
    for d in range(BOILER_DF):
        # 2 boiler shingles (the 3-gram + its window) inside unique filler
        rows.append((d, f"u{d}a u{d}b u{d}c {boiler} u{d}d u{d}e u{d}f"))
    rows.append((99, "entirely unique document text body here"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    p = str(tmp_path / "boiler")
    df.write.mode("overwrite").parquet(f"{p}/documents.parquet")
    out = {
        r["doc_id"]: r
        for r in REGISTRY["boilerplate_shingle_profile"].fn(spark, p).collect()
    }
    assert out[99]["n_boiler"] == 0 and out[99]["keep"] == 1
    for d in range(BOILER_DF):
        assert out[d]["n_boiler"] >= 1  # the planted shingle crossed df>=K
        assert out[d]["n_boiler"] < out[d]["n_shingles"]


def test_hierarchy_closure_depth_and_roots(spark, sf_dir):
    """hierarchy_closure_recursive: every customer resolves through its
    nation to the correct root region at depth 2 — verified against the
    direct two-join lookup."""
    from dask_recommender_system_spark.data import load_table

    out = REGISTRY["hierarchy_closure_recursive"].fn(spark, sf_dir).toPandas()
    assert set(out[out.node.str.startswith("R")]["depth"]) == {0}
    assert set(out[out.node.str.startswith("N")]["depth"]) == {1}
    assert set(out[out.node.str.startswith("C")]["depth"]) == {2}
    cust = load_table(spark, sf_dir, "customer").toPandas()
    nat = load_table(spark, sf_dir, "nation").toPandas()
    n2r = dict(zip(nat.n_nationkey, nat.n_regionkey))
    expect = {
        f"C{c}": f"R{n2r[n]}" for c, n in zip(cust.c_custkey, cust.c_nationkey)
    }
    got = dict(zip(out.node, out.root))
    assert all(got[k] == v for k, v in expect.items())


def test_rolling_distinct_users_7d_planted(spark, tmp_path):
    """rolling_distinct_users_7d on a planted frame: windows accumulate
    and expire correctly (user seen on day 0 still counts on day 6, gone
    by day 7), and repeat visits within a window count once."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = []
    for (u, day) in [(1, 0), (1, 3), (2, 0), (3, 6), (4, 13)]:
        rows.append((u, base + dt.timedelta(days=day)))
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    d = str(tmp_path / "r7d")
    df.write.mode("overwrite").parquet(f"{d}/events.parquet")
    out = {r["day"]: r["uniques_7d"]
           for r in REGISTRY["rolling_distinct_users_7d"].fn(spark, d).collect()}
    day0 = min(out)
    # day 0: users 1,2. day 3: 1 (repeat, counted once) + 2 still in window.
    assert out[day0] == 2
    assert out[day0 + 3] == 2
    # day 6: users 1,2 (from day 0) + 1's day-3 visit + 3 -> {1,2,3}
    assert out[day0 + 6] == 3
    # day 13: window is days 7..13 — user 3's day-6 visit expired (it
    # contributes through day 12), leaving only user 4
    assert out[day0 + 13] == 1


def _oracle_parity_at_batch_size_1(spark, sf_dir, name):
    """Shared body: run a carried-state mapInPandas kernel with ONE row
    per Arrow batch and compare against its recursive-CTE DuckDB oracle."""
    from .oracle_util import compare, duckdb_con

    q = REGISTRY[name]
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "1")
    try:
        got = q.fn(spark, sf_dir).toPandas()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    con = duckdb_con(sf_dir)  # .sql() is lazy — keep the connection alive
    problems = compare(got, con.sql(q.oracle).df(), name)
    assert not problems, problems


def test_token_bucket_state_survives_one_row_arrow_batches(spark, sf_dir):
    """Carried-state contract of the key-sorted mapInPandas rewrite
    (rate_limit_token_bucket): state must cross Arrow batch boundaries
    intact, so the output is EXACTLY invariant to the Arrow batch size.
    maxRecordsPerBatch=1 is the adversarial chunking that would have
    caught the applyInPandasWithState per-chunk-sort bug the sf1 sweep
    found — every row arrives in its own batch, so any per-batch
    re-sort, state reset, or batch-local assumption diverges from the
    recursive-CTE oracle immediately (VERDICT r06 item 4)."""
    _oracle_parity_at_batch_size_1(spark, sf_dir, "rate_limit_token_bucket")


def test_bin_pack_state_survives_one_row_arrow_batches(spark, sf_dir):
    """Same carried-state pin for bin_pack_next_fit: (open bin,
    remaining space) must survive 1-row Arrow batches unchanged."""
    _oracle_parity_at_batch_size_1(spark, sf_dir, "bin_pack_next_fit")


def test_ratings_cache_is_content_keyed_and_value_identical(spark, sf_dir):
    """data.ratings_cached: (1) the materialized view is value-identical
    to the live derivation; (2) the cache key tracks dataset CONTENT —
    touching a source file's mtime yields a different stage, so a
    regenerated dataset can never silently serve stale rows."""
    import os

    from dask_recommender_system_spark.data import (
        _ratings_fingerprint,
        ratings,
        ratings_cached,
    )

    # sort by the FULL row tuple, not interaction_id alone: the
    # content-hash id is not guaranteed collision-free, and a duplicate id
    # would make single-key tie order nondeterministic (ADVICE r07)
    live = sorted(map(tuple, ratings(spark, sf_dir).collect()))
    cached = sorted(map(tuple, ratings_cached(spark, sf_dir).collect()))
    assert live == cached

    fp0 = _ratings_fingerprint(sf_dir)
    # bump mtime on one source file (directory-shaped sources stat parts)
    p = f"{sf_dir}/orders.parquet"
    target = p
    if os.path.isdir(p):
        target = os.path.join(p, sorted(os.listdir(p))[0])
    st = os.stat(target)
    os.utime(target, ns=(st.st_atime_ns, st.st_mtime_ns + 1))
    try:
        assert _ratings_fingerprint(sf_dir) != fp0
    finally:
        os.utime(target, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert _ratings_fingerprint(sf_dir) == fp0


def test_exact_quantiles_cont_matches_builtin_percentile(spark):
    """r08 regression: exact_quantiles_cont (block-offset rank quantiles,
    the scale-safe replacement for the built-in exact `percentile` whose
    distinct-value buffer OOM'd the 30x sweep in decile_lift_table) must
    be bit-identical to Spark's percentile on the same multiset —
    including duplicates straddling range-partition boundaries and
    interpolated positions."""
    import random

    from dask_recommender_system_spark.models.common import exact_quantiles_cont

    rng = random.Random(87)
    # duplicates (coarse grid) + unique tail, sized so several values
    # straddle the 8 range-partition boundaries
    vals = [round(rng.uniform(0, 10), 1) for _ in range(4000)] + [
        rng.uniform(0, 10) for _ in range(1000)
    ]
    df = spark.createDataFrame([(v,) for v in vals], "v DOUBLE")
    qs = (0.1, 0.25, 0.5, 0.736, 0.9, 0.0, 1.0)
    got = exact_quantiles_cont(df, "v", qs, num_parts=8)
    want_row = df.agg(
        *[F.expr(f"percentile(v, {q})").alias(f"q{i}") for i, q in enumerate(qs)]
    ).first()
    for i, q in enumerate(qs):
        assert got[q] == want_row[f"q{i}"], (q, got[q], want_row[f"q{i}"])


@pytest.mark.parametrize("desc", [False, True])
def test_block_offsets_equals_one_global_window(spark, desc):
    """block_offsets' rank, running sum and exclusive prefix max equal
    ROW_NUMBER(), SUM() and MAX() over one plain global window — with
    ties in the order key and more range blocks than distinct keys, so
    some blocks hold no rows. Ties keep every comparison deterministic:
    the sum and max frames are RANGE frames (peers included / excluded
    together), and tied rows' row numbers are compared as a multiset."""
    from dask_recommender_system_spark.models.common import (
        QUERY_CHECKPOINTS,
        block_offsets,
    )

    keys = [5, 2, 5, 9, 2, 5, 9, 9, 2, 5, 7, 7] * 3
    rows = [(i, k, (i * 37) % 23 - 11) for i, k in enumerate(keys)]
    df = spark.createDataFrame(rows, "id LONG, k LONG, c LONG")
    order = F.col("k").desc() if desc else F.col("k")

    blocks, w, totals = block_offsets(df, order, sums=("c",), maxes=("c",), num_parts=8)
    pinned = QUERY_CHECKPOINTS[-1]
    n_blocks = blocks.select("_pid").distinct().count()
    assert pinned.rdd.getNumPartitions() > n_blocks  # some blocks are empty
    before = w.rangeBetween(W.unboundedPreceding, -1)
    got = blocks.select(
        "id",
        "k",
        (F.col("_row_off") + F.row_number().over(w)).alias("rn"),
        (F.col("_off_c") + F.sum("c").over(w)).alias("cum"),
        F.greatest(F.col("_pre_c"), F.max("c").over(before)).alias("pre"),
    ).collect()

    g = W.orderBy(order)
    want = df.select(
        "id",
        "k",
        F.row_number().over(g).alias("rn"),
        F.sum("c").over(g).alias("cum"),
        F.max("c").over(g.rangeBetween(W.unboundedPreceding, -1)).alias("pre"),
    ).collect()

    assert sorted((r["k"], r["rn"]) for r in got) == sorted((r["k"], r["rn"]) for r in want)
    assert {(r["id"], r["cum"], r["pre"]) for r in got} == {
        (r["id"], r["cum"], r["pre"]) for r in want
    }
    cs = [c for _, _, c in rows]
    assert totals == {"_row_off": len(rows), "_off_c": sum(cs), "_pre_c": max(cs)}


def test_simhash_verified_prefilter_sits_at_banding_guarantee(spark):
    """r08 regression (30x sweep found two true Jaccard>=0.5 pairs at
    Hamming 28 dropped by the old <= SIMHASH_T prefilter): the wide
    banding's pigeonhole radius is 120/width - 1 = 29, the verified
    pipeline must prefilter AT that radius, and a signature pair
    differing in exactly 29 bits must survive candidates + prefilter."""
    from dask_recommender_system_spark.operators.dedup import (
        SIMHASH_GUARANTEE,
        simhash_candidates_wide,
    )

    assert SIMHASH_GUARANTEE == 120 // 4 - 1
    # doc 2 differs from doc 1 in 29 bits: 15 low bits of sig0 plus 14
    # low bits of sig1 flipped — every OTHER 4-bit band agrees, so the
    # banding must emit the pair and a guarantee-level prefilter keeps it
    s0a, s1a = 0, 0
    s0b, s1b = (1 << 15) - 1, (1 << 14) - 1
    sig = spark.createDataFrame(
        [(1, s0a, s1a), (2, s0b, s1b)], "doc_id LONG, sig0 LONG, sig1 LONG"
    )
    cand = simhash_candidates_wide(sig)
    ham = F.bit_count(F.col("sig0_a").bitwiseXOR(F.col("sig0_b"))) + F.bit_count(
        F.col("sig1_a").bitwiseXOR(F.col("sig1_b"))
    )
    rows = cand.withColumn("h", ham).collect()
    assert len(rows) == 1 and rows[0]["h"] == 29
    assert rows[0]["h"] <= SIMHASH_GUARANTEE  # prefilter keeps it


def _set_overlap(shingle_sets, pairs):
    """{(a, b): (c, na, nb)} by Python set arithmetic, zero overlaps dropped."""
    out = {}
    for a, b in pairs:
        sa, sb = shingle_sets.get(a, set()), shingle_sets.get(b, set())
        if sa & sb:
            out[(a, b)] = (len(sa & sb), len(sa), len(sb))
    return out


def test_shingle_overlap_matches_set_arithmetic(spark):
    """operators.dedup.shingle_overlap on a planted corpus: doc 2 repeats
    its shingles (each counts once), doc 3 has fewer than 3 tokens (no
    shingles, so no pair), doc 5 shares nothing, doc 4 is the larger side
    of its pairs. The self-join form and
    the candidate probe both give Python's |A∩B|, |A|, |B|; candidates
    with zero overlap or a shingle-less side drop out."""
    from dask_recommender_system_spark.models.common import (
        release_query_checkpoints,
    )
    from dask_recommender_system_spark.operators.dedup import (
        SHINGLE_N,
        shingle_overlap,
        shingles,
    )

    texts = {
        1: "a b c d e",
        2: "a b c a b c a b c",
        3: "  x  y ",
        4: "b c  d e f g",
        5: "p q r s",
        6: "c a b c d",
    }
    docs = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    sets = {}
    for d, t in texts.items():
        tok = t.split()
        grams = {" ".join(tok[i : i + SHINGLE_N]) for i in range(len(tok) - SHINGLE_N + 1)}
        if grams:
            sets[d] = grams

    def got(cand=None):
        rows = shingle_overlap(shingles(docs), cand).collect()
        out = {(r["doc_a"], r["doc_b"]): (r["c"], r["na"], r["nb"]) for r in rows}
        assert len(out) == len(rows)
        return out

    all_pairs = [(a, b) for a in texts for b in texts if a < b]
    want = _set_overlap(sets, all_pairs)
    assert want[(1, 2)] == (1, 3, 3) and (1, 5) not in want
    assert got() == want

    cand = [(1, 4), (1, 5), (2, 6), (1, 3), (4, 6)]
    want = _set_overlap(sets, cand)
    assert want == {(1, 4): (2, 3, 4), (2, 6): (2, 3, 3), (4, 6): (1, 4, 3)}
    assert got(spark.createDataFrame(cand, "doc_a long, doc_b long")) == want
    release_query_checkpoints()


def test_snm_candidates_are_the_pairs_within_the_window(spark):
    """operators.dedup.snm_candidates equals a Python sort on
    (lowercased, trimmed SNM_KEY_LEN-char prefix, zero-padded doc_id)
    followed by every pair within SNM_WINDOW ranks: each pair once,
    doc_a the lower rank, rank_dist the rank gap. Prefixes tie in groups
    (case and leading blanks differ), so the doc_id tiebreak orders
    most of the corpus, and doc_ids of different digit counts check that
    the tiebreak is numeric. Every text is longer than SNM_KEY_LEN, so
    this tuple order equals the helper's prefix|padded-id string order."""
    from dask_recommender_system_spark.models.common import (
        release_query_checkpoints,
    )
    from dask_recommender_system_spark.operators.dedup import (
        SNM_KEY_LEN,
        SNM_WINDOW,
        snm_candidates,
    )

    stems = [
        "The quick brown fox jumps over the lazy dog",
        "  the QUICK brown fox jumps over a lazy cat",
        "Lorem ipsum dolor sit amet, consectetur",
        "zebra crossings are striped black and white",
    ]
    ids = [7, 12, 100, 3, 45, 1000, 9, 23, 512, 64, 2, 88, 31, 150, 6, 77]
    texts = {d: f"{stems[i % len(stems)]} {d}" for i, d in enumerate(ids)}
    docs = spark.createDataFrame(list(texts.items()), "doc_id long, text string")

    def key(d):
        return (texts[d].strip(" ")[:SNM_KEY_LEN].lower(), str(d).zfill(20))

    order = sorted(texts, key=key)
    assert len({key(d)[0] for d in texts}) == 3  # prefix ties
    assert all(len(t.strip(" ")) > SNM_KEY_LEN for t in texts.values())
    want = {
        (order[i], order[j], j - i)
        for i in range(len(order))
        for j in range(i + 1, min(i + SNM_WINDOW, len(order) - 1) + 1)
    }
    rows = [(r["doc_a"], r["doc_b"], r["rank_dist"]) for r in snm_candidates(docs).collect()]
    assert len(rows) == len(set(rows))
    assert set(rows) == want
    assert {r[2] for r in rows} == set(range(1, SNM_WINDOW + 1))
    release_query_checkpoints()
