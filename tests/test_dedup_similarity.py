"""Dedup ladder + embedding similarity on planted duplicates/vectors."""

from __future__ import annotations

import math

import pytest

from bigdata_electricity_spark.operators import dedup as D
from bigdata_electricity_spark.operators import similarity as S

BASE = ("the quick brown fox jumps over the lazy dog and runs far away "
        "into the deep green forest tonight")


@pytest.fixture(scope="module")
def dup_docs(spark):
    rows = [
        (1, BASE, "web"),
        (2, BASE, "web"),                                    # exact dup of 1
        (3, "The  Quick brown fox jumps over the lazy dog and runs far away "
            "into the deep green forest tonight", "web"),    # normalization dup
        (4, BASE.replace("tonight", "today"), "web"),        # near-dup of 1
        (5, "completely different text about electricity meters and spark",
            "web"),
        (6, "unrelated short doc", "news"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text", "source"])


def test_exact_dup_groups(dup_docs):
    groups = {r["keep_id"]: r["n_copies"] for r in D.exact_dup_groups(dup_docs).collect()}
    assert groups[1] == 3          # 1, 2, and case/space-normalized 3
    assert groups[4] == 1


def test_minhash_lsh_finds_near_dup(dup_docs):
    pairs = {(r["id_a"], r["id_b"]) for r in D.minhash_lsh_candidates(dup_docs).collect()}
    assert (1, 2) in pairs         # identical docs always collide
    assert (1, 4) in pairs         # 1-word-out-of-18 near-dup shares bands
    assert (1, 6) not in pairs and (5, 6) not in pairs


def test_simhash_near_dups(dup_docs):
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in D.simhash_near_dups(dup_docs, max_hamming=10).collect()}
    assert pairs[(1, 2)] == 0      # identical → identical fingerprint
    assert (1, 4) in pairs
    assert (1, 5) not in pairs


def test_ngram_jaccard(dup_docs):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in D.ngram_jaccard_pairs(dup_docs, block_cols=["source"],
                                            threshold=0.5).collect()}
    assert pairs[(1, 2)] == pytest.approx(1.0)
    assert pairs[(1, 4)] == pytest.approx(16 / 18, abs=0.01)
    assert all(b != 6 for (_, b) in pairs)  # blocked by source


@pytest.fixture(scope="module")
def vectors(spark):
    rows = [
        (1, [1.0, 0.0], 0),
        (2, [1.0, 0.1], 0),        # nearly parallel to 1
        (3, [0.0, 1.0], 0),        # orthogonal to 1
        (4, [-1.0, 0.0], 1),       # different bucket
        (5, [-1.0, -0.1], 1),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


def test_brute_force_topk(vectors):
    got = S.brute_force_topk(vectors, query_vec_id=1, k=2).collect()
    assert [r["vec_id"] for r in got] == [2, 3]
    assert got[0]["cosine"] == pytest.approx(1 / math.sqrt(1.01), abs=1e-4)
    assert got[1]["cosine"] == pytest.approx(0.0, abs=1e-6)


def test_bucketed_nn(vectors):
    nn = {r["vec_id"]: r["nn_id"] for r in S.bucketed_nearest_neighbor(vectors).collect()}
    assert nn[1] == 2
    assert nn[4] == 5              # never crosses buckets
    assert nn[2] == 1


def test_pairwise_near_dups_threshold(vectors):
    pairs = {(r["id_a"], r["id_b"]) for r in S.pairwise_near_dups(vectors, 0.9).collect()}
    assert pairs == {(1, 2), (4, 5)}


def test_token_shingles_equals_shingles(spark):
    # The fast path (materialized token array) must produce exactly the
    # shingles of the slow path for docs with >= n tokens.
    from pyspark.sql import functions as F

    from bigdata_electricity_spark.operators.dedup import shingles, token_shingles
    from bigdata_electricity_spark.operators.text import normalize_text

    rows = [("a b c d e f",), ("x  Y z W",), ("one two three four five",)]
    df = spark.createDataFrame(rows, "text string")
    both = df.select(
        shingles(F.col("text"), 3).alias("slow"),
        token_shingles(F.split(normalize_text(F.col("text")), " "), 3).alias("fast"),
    )
    for r in both.collect():
        assert r["slow"] == r["fast"]


def test_applyinpandas_zscore_matches_builtin(spark):
    # Grouped-map Arrow path (applyInPandas) must equal the built-in
    # window-aggregate z-score — demonstrating the escape hatch computes
    # the same thing the declarative hot path does.
    from bigdata_electricity_spark.plans import REGISTRY
    from bigdata_electricity_spark.sources.loaders import load_table

    sf = "/root/testdata/sf0.001"
    builtin = {r["doc_id"]: r["z"] for r in REGISTRY["normalize_zscore_by_source"].fn(spark, sf).collect()}

    docs = load_table(spark, sf, "documents").select("doc_id", "source", "n_chars")

    def zscore(pdf):
        import math

        mu = pdf.n_chars.mean()
        sd = pdf.n_chars.std()  # pandas default ddof=1 == stddev_samp
        z = (pdf.n_chars - mu) / sd
        return pdf.assign(z=(z * 1e6 + 0.5).apply(math.floor) / 1e6)[["doc_id", "z"]]

    arrow = {
        r["doc_id"]: r["z"]
        for r in docs.groupBy("source").applyInPandas(zscore, "doc_id long, z double").collect()
    }
    assert arrow == builtin


@pytest.mark.heavy
def test_ivf_probe_recall_vs_bruteforce(spark):
    # nprobe=2 of k=4 lists must recover most of the exact top-3 —
    # the IVF acceptance bar (non-vacuous: probing misses lists).
    from bigdata_electricity_spark.operators.similarity import brute_force_topk
    from bigdata_electricity_spark.plans import REGISTRY
    from bigdata_electricity_spark.sources.loaders import load_table

    sf = "/root/testdata/sf0.001"
    ivf = REGISTRY["sim_ivf_probe_topk"].fn(spark, sf).collect()
    got = {}
    for r in ivf:
        got.setdefault(r["query_id"], set()).add(r["cand_id"])
    emb = load_table(spark, sf, "embeddings")
    hits = total = 0
    for qid, cands in got.items():
        exact = {r["vec_id"] for r in brute_force_topk(emb, query_vec_id=qid, k=3).collect()}
        hits += len(cands & exact)
        total += len(exact)
    assert total == 9
    assert hits / total >= 2 / 3, f"IVF recall@3 too low: {hits}/{total}"


def test_mmr_prefers_diverse_over_duplicate(spark):
    """Planted geometry: a (rel .9), its near-dup a2 (rel .8999), and b
    (rel .85 but ~orthogonal to a in the non-query direction). Greedy
    relevance would pick [a, a2, b]; MMR at λ=0.7 must demote the dup:
    [a, b, a2]."""
    import os
    import tempfile

    from bigdata_electricity_spark.plans import REGISTRY

    rows = [
        (0, [1.0, 0.0, 0.0], 0),            # query
        (1, [0.9, 0.436, 0.0], 0),          # a
        (2, [0.8999, 0.4362, 0.0], 0),      # a2 ~ dup of a
        (3, [0.85, -0.527, 0.0], 0),        # b: relevant, diverse
        (4, [0.1, 0.0, 0.995], 0),          # far filler
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    with tempfile.TemporaryDirectory() as d:
        emb.write.mode("overwrite").parquet(os.path.join(d, "embeddings.parquet"))
        got = [
            (r["rank"], r.vec_id)
            for r in REGISTRY["sim_mmr_diversified_topk"].fn(spark, d).collect()
        ]
    assert got == [(1, 1), (2, 3), (3, 2)], got


def test_kcenter_greedy_matches_numpy(spark):
    """Replay the farthest-point traversal in numpy with the same 1e-9
    rounding; trajectory and radii must match, radius must decrease."""
    import numpy as np
    import pandas as pd

    from bigdata_electricity_spark.plans import REGISTRY

    sf = "/root/testdata/sf0.001"
    rows = REGISTRY["sample_kcenter_greedy"].fn(spark, sf).collect()
    X = np.stack(pd.read_parquet(f"{sf}/embeddings.parquet")["embedding"].to_numpy()).astype(np.float64)
    ids = pd.read_parquet(f"{sf}/embeddings.parquet")["vec_id"].to_numpy()
    U = X / np.linalg.norm(X, axis=1, keepdims=True)
    r9 = lambda a: np.floor(a * 1e9 + 0.5) / 1e9  # noqa: E731
    sel = [0]
    mask = ids != 0
    d = r9(1.0 - U[mask] @ U[ids == 0][0])
    cur_ids = ids[mask]
    radii = [np.floor(d.max() * 1e6 + 0.5) / 1e6]
    for _ in range(4):
        # argmax with (d desc, vec_id asc) tie-break
        best = cur_ids[np.lexsort((cur_ids, -d))][0]
        sel.append(int(best))
        bu = U[ids == best][0]
        keep = cur_ids != best
        d = np.minimum(d[keep], r9(1.0 - U[np.isin(ids, cur_ids[keep])] @ bu))
        cur_ids = cur_ids[keep]
        radii.append(np.floor(d.max() * 1e6 + 0.5) / 1e6)
    assert [r["vec_id"] for r in rows] == sel
    got_radii = [r["radius_after"] for r in rows]
    assert np.allclose(got_radii, radii, atol=2e-6)
    assert all(a > b for a, b in zip(got_radii, got_radii[1:]))  # coverage shrinks


def test_pq_adc_rerank_recall(spark):
    """PQ+rerank must (a) return exactly 3 ranked rows per query, (b)
    score candidates by true L2 after rerank (monotone per query), and
    (c) achieve non-vacuous recall: some true top-3 hits, some misses
    (random embeddings are PQ's worst case — full recall would mean the
    exact path leaked into candidate generation)."""
    from bigdata_electricity_spark.plans import REGISTRY

    rows = REGISTRY["sim_pq_adc_topk"].fn(spark, "/root/testdata/sf0.001").collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == {5, 17, 42}
    hits = 0
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == [1, 2, 3]
        dists = [r["l2_dist"] for r in rs]
        assert dists == sorted(dists)
        hits += sum(r["exact_hit"] for r in rs)
    assert 0 < hits < 9


@pytest.mark.heavy
def test_ivf_scaled_nlist_recall_and_structure(spark):
    # The scaled-nlist IVF (nlist = ceil(sqrt(n)), nprobe=2) trades
    # recall for sub-linear serve cost; the acceptance bar is
    # structural + a recall floor: every hit is the exact top-3
    # restricted to the probed lists, and enough of the global top-3
    # survives to be useful (seeded centroids, no Lloyd round).
    from bigdata_electricity_spark.operators.similarity import brute_force_topk
    from bigdata_electricity_spark.plans import REGISTRY
    from bigdata_electricity_spark.sources.loaders import load_table

    sf = "/root/testdata/sf0.001"
    out = REGISTRY["sim_ivf_scaled_nlist"].fn(spark, sf).collect()
    got = {}
    for r in out:
        got.setdefault(r["query_id"], []).append(r)
    assert set(got) == {5, 17, 42}
    emb = load_table(spark, sf, "embeddings")
    hits = total = 0
    for qid, rows in got.items():
        # ranks dense from 1, cosines non-increasing
        ranks = [r["rank"] for r in sorted(rows, key=lambda r: r["rank"])]
        assert ranks == list(range(1, len(rows) + 1))
        cos = [r["cosine"] for r in sorted(rows, key=lambda r: r["rank"])]
        assert cos == sorted(cos, reverse=True)
        exact = {r["vec_id"] for r in brute_force_topk(emb, query_vec_id=qid, k=3).collect()}
        hits += len({r["cand_id"] for r in rows} & exact)
        total += len(exact)
    assert total == 9
    # Non-vacuous floor: probing 2 of ~sqrt(n) unlearned lists must
    # still recover a third of the exact top-3 on this corpus.
    assert hits / total >= 1 / 3, f"scaled-nlist recall@3 too low: {hits}/{total}"


def test_simhash_grouped_expansion_equals_baseline(spark):
    """r9 scale twin: simhash_group_pairs over distinct fps, expanded
    back to id pairs (cross-group products + within-group C(k,2)), must
    equal simhash_near_dups' pair set exactly — identical quarter-block
    scheme over the same fp values, so the relation is the same; only
    the candidate granularity changes."""
    from pyspark.sql import functions as F

    rows = [(i, BASE, "web") for i in range(1, 7)]              # 6 exact copies
    rows += [(10 + i, BASE.replace("tonight", "today"), "web")  # 3 copies of a near-dup
             for i in range(3)]
    rows += [
        (20, BASE.replace("quick", "slow").replace("lazy", "busy"), "web"),
        (21, "completely different text about electricity meters and spark", "web"),
        (22, "unrelated short doc", "news"),
        (23, "", "news"),                                       # degenerate empty
        (24, "", "news"),                                       # identical empty fp
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "source"])

    baseline = {(r["id_a"], r["id_b"])
                for r in D.simhash_near_dups(docs, max_hamming=8).collect()}

    fp_groups = (
        docs.select(F.col("doc_id").alias("id"),
                    D.simhash64_udf()(F.col("text")).alias("fp"))
        .groupBy("fp").agg(F.collect_list("id").alias("ids"),
                           F.min("id").alias("rep"))
        .collect()
    )
    members = {r["rep"]: sorted(r["ids"]) for r in fp_groups}
    out = D.simhash_group_pairs(docs, max_hamming=8).collect()
    # r10 (r9 ADVICE): every ≥2-member fp group emits a self row
    # (rep, rep, 0, n, n), so the within-group Hamming-0 pairs are
    # recoverable from the relation alone — the expansion below uses
    # ONLY the operator's output rows (plus the fp table for member
    # ids), never a separately recomputed group list.
    self_reps = {r["rep_a"] for r in out if r["rep_a"] == r["rep_b"]}
    assert self_reps == {rep for rep, ids in members.items() if len(ids) >= 2}
    expanded = set()
    for r in out:
        assert r["n_a"] == len(members[r["rep_a"]])
        assert r["n_b"] == len(members[r["rep_b"]])
        if r["rep_a"] == r["rep_b"]:                 # within-group C(n,2)
            assert r["hamming"] == 0
            ids = members[r["rep_a"]]
            expanded |= {(a, b) for i, a in enumerate(ids) for b in ids[i + 1:]}
        else:                                        # cross-group products
            for a in members[r["rep_a"]]:
                for b in members[r["rep_b"]]:
                    expanded.add((min(a, b), max(a, b)))

    assert expanded == baseline
    # the planted exact-dup groups must be present via within-group pairs
    assert (1, 2) in expanded and (23, 24) in expanded


def test_ivf_build_serve_planted_geometry(spark):
    """build_ivf_index / serve_ivf_topk (r11): on planted 2-D geometry
    with two well-separated clusters, every batch query must retrieve
    its own cluster's corpus members as exact-cosine top-k, from the
    fresh index AND from a parquet-persisted cold reload (identical
    rows — the persistence certification at operator level)."""
    import math

    from pyspark.sql import DataFrame, functions as F

    from bigdata_electricity_spark.operators.similarity import (
        build_ivf_index,
        serve_ivf_topk,
    )

    # cluster A near (1, 0), cluster B near (0, 1); ids 0..5 corpus,
    # 10/11 queries (one per cluster). Small angular jitter inside each
    # cluster, ~90° between clusters.
    def vec(angle):
        return [math.cos(angle), math.sin(angle)]

    # centroids seed from the two SMALLEST ids (the operator's
    # deterministic rule), so ids interleave clusters: seed 0 lands in
    # cluster A, seed 1 in cluster B — one inverted list per cluster.
    corpus_rows = [
        (0, vec(0.00)), (2, vec(0.05)), (4, vec(0.10)),        # cluster A
        (1, vec(1.57)), (3, vec(1.62)), (5, vec(1.52)),        # cluster B
    ]
    corpus = spark.createDataFrame(corpus_rows, "vec_id long, v array<double>")
    batch = spark.createDataFrame(
        [(10, vec(0.02)), (11, vec(1.60))], "vec_id long, v array<double>"
    )
    index = build_ivf_index(corpus, nlist=2, dim=2, par=4)
    assert index["nlist"] == 2 and index["dim"] == 2

    def rows(served):
        return sorted(
            (r["qid"], r["rank"], r["mid"], round(r["cos"], 9))
            for r in served.collect()
        )

    fresh = rows(serve_ivf_topk(index, batch, k=3, nprobe=1, par=4))
    # each query's top-3 must be exactly its own cluster's members
    a_matches = {m for q, _, m, _ in fresh if q == 10}
    b_matches = {m for q, _, m, _ in fresh if q == 11}
    assert a_matches == {0, 2, 4}, fresh
    assert b_matches == {1, 3, 5}, fresh
    # rank 1 = the angularly closest member
    top = {q: m for q, r, m, _ in fresh if r == 1}
    assert top == {10: 0, 11: 3}, fresh

    # persistence: parquet roundtrip serves the identical relation
    import shutil
    import tempfile

    base = tempfile.mkdtemp(prefix="ivf_ut_")
    try:
        for name, df in index.items():
            if isinstance(df, DataFrame):
                df.write.mode("overwrite").parquet(f"{base}/{name}")
        loaded = {k: v for k, v in index.items() if not isinstance(v, DataFrame)}
        loaded.update({
            name: spark.read.parquet(f"{base}/{name}")
            for name, df in index.items() if isinstance(df, DataFrame)
        })
        reloaded = rows(serve_ivf_topk(loaded, batch, k=3, nprobe=1, par=4))
        assert reloaded == fresh
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_quantizer_ties_go_to_the_smallest_cid(spark):
    """Points planted exactly equidistant from two centroids go to the
    smaller cid in ``nearest_centroid``, in ``build_ivf_index``'s lists,
    in one Lloyd round and as ``probe_lists``' first probe — the
    assignment the oracles' ``ROW_NUMBER() OVER (ORDER BY d2, cid)``
    form picks, written out here as the reference."""
    from pyspark.sql import Window, functions as F

    from bigdata_electricity_spark.functions.vectors import squared_l2_unrolled
    from bigdata_electricity_spark.ml.clustering import lloyd_dataframe

    # ids 0-2 are the centroids (the 3 smallest ids); (1, y) is as far
    # from cid 0 at (0, 0) as from cid 2 at (2, 0), and (3, y) as far
    # from cid 2 as from cid 1 at (4, 0): every d2 is exact in double.
    rows = [(0, [0.0, 0.0]), (1, [4.0, 0.0]), (2, [2.0, 0.0]),
            (3, [1.0, 0.0]), (4, [1.0, 1.0]), (5, [3.0, 0.0]),
            (6, [3.0, -2.0]), (7, [5.0, 1.0])]
    points = spark.createDataFrame(rows, "vec_id long, v array<double>")
    cent = S.seed_centroids(points, 3)
    w = Window.partitionBy("vec_id").orderBy("d2", "cid")
    reference = sorted(
        (r["vec_id"], r["cid"])
        for r in points.crossJoin(cent)
        .select("vec_id", "cid",
                squared_l2_unrolled(F.col("v"), F.col("c"), 2).alias("d2"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .collect()
    )
    ties = {3: 0, 4: 0, 5: 1, 6: 1}
    assert {i: c for i, c in reference if i in ties} == ties

    def pairs(df, id_col):
        return sorted((r[id_col], r["cid"]) for r in df.collect())

    assert pairs(S.nearest_centroid(points, cent, 2), "vec_id") == reference
    index = S.build_ivf_index(points, nlist=3, dim=2, par=4)
    assert pairs(index["lists"], "id") == reference
    assert pairs(lloyd_dataframe(points, 2, seed_ids=[0, 1, 2], iters=1), "id") == reference
    tie_points = points.filter(F.col("vec_id").isin(list(ties)))
    assert pairs(S.probe_lists(tie_points, cent, 1, 2), "qid") == sorted(ties.items())


@pytest.mark.heavy
def test_ivf_serve_shuffle_fallback_equals_broadcast(spark):
    """r11 VERDICT task 3: a batch above broadcast_threshold must serve
    through SHUFFLE joins (no batch-side BroadcastExchange in the
    executed plan — the centroid broadcast is allowed, it is √n-bounded)
    and return the IDENTICAL relation as the broadcast path, on the real
    embeddings table through the registry's corpus/batch split."""
    import math

    from pyspark.sql import functions as F

    from bigdata_electricity_spark.operators.similarity import (
        build_ivf_index,
        serve_ivf_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    corpus = emb.filter(F.col("vec_id") % 7 != 0)
    batch = emb.filter(F.col("vec_id") % 7 == 0)
    n_corpus = corpus.count()
    nlist = int(math.ceil(math.sqrt(n_corpus)))
    dim = len(emb.select("v").first()["v"])
    index = build_ivf_index(corpus, nlist=nlist, dim=dim, par=8)

    def rows(served):
        return sorted(
            (r["qid"], r["rank"], r["mid"], round(r["cos"], 9))
            for r in served.collect()
        )

    bc = serve_ivf_topk(index, batch, k=3, nprobe=2, par=8)
    sh = serve_ivf_topk(index, batch, k=3, nprobe=2, par=8,
                        n_batch=batch.count(), broadcast_threshold=0)
    assert rows(sh) == rows(bc)
    assert len(rows(bc)) > 0

    # plan: the shuffle path's scoring joins must not broadcast the
    # batch-derived sides. Asserted on the STATIC plan (AQE off): at
    # test scale AQE may legitimately re-promote an already-shuffled
    # few-KB side to a runtime broadcast — the adaptive behavior that
    # CANNOT fire at production batch sizes (its broadcast threshold is
    # measured from shuffle stats), which is exactly why the fallback
    # only needs to hold statically.
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        sh_static = serve_ivf_topk(index, batch, k=3, nprobe=2, par=8,
                                   n_batch=9999999, broadcast_threshold=0)
        plan = sh_static._jdf.queryExecution().executedPlan().toString()
        bc_plan = serve_ivf_topk(
            index, batch, k=3, nprobe=2, par=8
        )._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
    # Assert at JOIN granularity (substring-splitting the tree text
    # bleeds across sibling subtrees after ReusedExchange reference
    # lines): every join keyed on the batch's qid, and the probe join
    # keyed on cid, must be ShuffledHashJoin — never a broadcast form.
    def join_lines(p):
        return [ln for ln in p.splitlines() if "Join" in ln]

    qid_joins = [ln for ln in join_lines(plan) if "[qid#" in ln]
    assert qid_joins and all("ShuffledHashJoin" in ln for ln in qid_joins), qid_joins
    cid_joins = [ln for ln in join_lines(plan) if "[cid#" in ln]
    assert cid_joins and all("ShuffledHashJoin" in ln for ln in cid_joins), cid_joins
    # sanity: the broadcast path DOES broadcast those same joins
    bc_qid = [ln for ln in join_lines(bc_plan) if "[qid#" in ln]
    assert bc_qid and all("BroadcastHashJoin" in ln for ln in bc_qid), bc_qid


@pytest.mark.heavy
def test_ivf_epoch_refresh_equals_fresh_build(spark):
    """refresh_ivf_index (r12 VERDICT task 2): warm-starting from the
    epoch-0 centroids and assigning ONLY the delta must serve the same
    relation as a fresh build over corpus+delta whenever the fresh
    build would seed the same centroid set — the append-only ingest
    shape (delta ids above the seed range, same nlist). Also pins the
    frozen-quantizer contract: cent is the SAME object, no existing
    list row changes."""
    import math

    from bigdata_electricity_spark.operators.similarity import (
        build_ivf_index,
        refresh_ivf_index,
        serve_ivf_topk,
    )

    def vec(angle):
        return [math.cos(angle), math.sin(angle)]

    corpus0 = spark.createDataFrame(
        [(0, vec(0.00)), (2, vec(0.05)), (4, vec(0.10)),
         (1, vec(1.57)), (3, vec(1.62)), (5, vec(1.52))],
        "vec_id long, v array<double>",
    )
    delta = spark.createDataFrame(
        [(20, vec(0.07)), (21, vec(1.55)), (22, vec(0.03))],
        "vec_id long, v array<double>",
    )
    batch = spark.createDataFrame(
        [(10, vec(0.02)), (11, vec(1.60))], "vec_id long, v array<double>"
    )

    index0 = build_ivf_index(corpus0, nlist=2, dim=2, par=4)
    refreshed = refresh_ivf_index(index0, delta, par=4)
    assert refreshed["cent"] is index0["cent"]  # frozen quantizer
    assert refreshed["nlist"] == 2 and refreshed["dim"] == 2

    fresh = build_ivf_index(corpus0.unionByName(delta), nlist=2, dim=2, par=4)

    def rows(served):
        return sorted(
            (r["qid"], r["rank"], r["mid"], round(r["cos"], 9))
            for r in served.collect()
        )

    got = rows(serve_ivf_topk(refreshed, batch, k=4, nprobe=1, par=4))
    want = rows(serve_ivf_topk(fresh, batch, k=4, nprobe=1, par=4))
    assert got == want and len(got) == 8
    # delta members must actually be retrievable post-refresh
    a_matches = {m for q, _, m, _ in got if q == 10}
    assert {20, 22} <= a_matches, got
    b_matches = {m for q, _, m, _ in got if q == 11}
    assert 21 in b_matches, got
    # refresh must not mutate or drop epoch-0 list rows
    ids0 = {r["id"] for r in index0["lists"].collect()}
    ids1 = {r["id"] for r in refreshed["lists"].collect()}
    assert ids1 == ids0 | {20, 21, 22}


def test_ivf_build_self_sizes_and_result_invariant(spark):
    """r13: build_ivf_index(n_corpus=...) sizes the assignment stage to
    the n×nlist scored intermediate (the 2M-vector sf100f build OOMed
    at the caller's par=32 until this landed). The sizing arithmetic is
    pinned on the pure helper; the hint must never change the relation
    — same planted-geometry serve rows with and without it."""
    import math

    from bigdata_electricity_spark.operators.similarity import (
        assignment_partitions,
        build_ivf_index,
        serve_ivf_topk,
    )

    # arithmetic: floor at caller's par; ceil-divide above it
    assert assignment_partitions(32, 1000, 10) == 32
    assert assignment_partitions(32, 2_000_000, 1408) == 352  # the sf100f case
    assert assignment_partitions(4, 80_000_000, 1) == 10
    assert assignment_partitions(4, 8_000_001, 1) == 4  # par still wins at 2

    def vec(angle):
        return [math.cos(angle), math.sin(angle)]

    corpus = spark.createDataFrame(
        [(0, vec(0.00)), (2, vec(0.05)), (4, vec(0.10)),
         (1, vec(1.57)), (3, vec(1.62)), (5, vec(1.52))],
        "vec_id long, v array<double>",
    )
    batch = spark.createDataFrame(
        [(10, vec(0.02)), (11, vec(1.60))], "vec_id long, v array<double>"
    )

    def rows(index):
        return sorted(
            (r["qid"], r["rank"], r["mid"], round(r["cos"], 9))
            for r in serve_ivf_topk(index, batch, k=3, nprobe=1, par=4).collect()
        )

    plain = rows(build_ivf_index(corpus, nlist=2, dim=2, par=4))
    hinted = rows(build_ivf_index(corpus, nlist=2, dim=2, par=4, n_corpus=6))
    oversized = rows(build_ivf_index(corpus, nlist=2, dim=2, par=4,
                                     n_corpus=99_000_000))
    assert plain == hinted == oversized and len(plain) == 6


def test_ivf_serve_candidate_stream_born_after_last_shuffle(spark):
    """r13: guards the serve-plan shape that fixed the sf100f bulk-serve
    disk-full (2M vectors, 286k-query batch). Two properties, both
    asserted on the STATIC fallback plan (AQE off, same rationale as
    test_ivf_serve_shuffle_fallback_equals_broadcast):

    1. JOIN ORDER — the qid join (probe winners ⋈ query vectors) sits
       BELOW the cid join in the tree: query vectors attach to the
       |batch|×nprobe winner table, never to the |batch|×nprobe×(n/nlist)
       candidate stream. The old shape (candidates ⋈ bq on qid AFTER
       the lists join) shuffled ~750M vector-laden rows by qid at the
       2M-vector point — hundreds of GB.
    2. EXCHANGE-FREE LOCAL TOP-K — the list-local (cid, qid) window
       runs directly on the cid join's hash(cid) partitioning (subset
       of the window's clustering keys): only a Sort between them,
       never an Exchange, so the pre-reduction is free and the global
       ranking shuffle moves k-bounded rows.
    """
    import math

    from pyspark.sql import functions as F

    from bigdata_electricity_spark.operators.similarity import (
        build_ivf_index,
        serve_ivf_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    corpus = emb.filter(F.col("vec_id") % 7 != 0)
    batch = emb.filter(F.col("vec_id") % 7 == 0)
    n_corpus = corpus.count()
    nlist = int(math.ceil(math.sqrt(n_corpus)))
    dim = len(emb.select("v").first()["v"])
    index = build_ivf_index(corpus, nlist=nlist, dim=dim, par=8)

    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = serve_ivf_topk(
            index, batch, k=3, nprobe=2, par=8,
            n_batch=9999999, broadcast_threshold=0,
        )._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)

    lines = plan.splitlines()

    def indent(ln):
        return len(ln) - len(ln.lstrip(" :+-"))

    cid_join = [i for i, ln in enumerate(lines)
                if "ShuffledHashJoin [cid#" in ln]
    qid_join = [i for i, ln in enumerate(lines)
                if "ShuffledHashJoin [qid#" in ln]
    assert len(cid_join) == 1, [lines[i] for i in cid_join]
    assert len(qid_join) == 1, [lines[i] for i in qid_join]
    # property 1: the qid join is a descendant of the cid join (deeper
    # in the text AND deeper-indented) — candidates never re-join by qid
    assert qid_join[0] > cid_join[0]
    assert indent(lines[qid_join[0]]) > indent(lines[cid_join[0]])

    # property 2: the list-local window clustered on (cid, qid) is an
    # ancestor of the cid join with NO Exchange on the path between them
    local_win = [
        i for i, ln in enumerate(lines)
        if "Window" in ln and "windowspecdefinition(cid#" in ln
        and "qid#" in ln
    ]
    assert local_win, "list-local (cid, qid) window missing from plan"
    between = lines[local_win[0] + 1: cid_join[0]]
    assert not any("Exchange" in ln for ln in between), between
