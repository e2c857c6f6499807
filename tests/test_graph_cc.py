"""Connected-components label propagation: closure, chains, singletons."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from bigdata_electricity_spark.operators.graph import connected_components


def _cc(spark, node_ids, edge_pairs, max_iter=25):
    nodes = spark.createDataFrame([(i,) for i in node_ids], "id long")
    edges = spark.createDataFrame(edge_pairs or [(0, 0)], "src long, dst long")
    if not edge_pairs:
        edges = edges.filter(F.lit(False))
    out = connected_components(nodes, edges, max_iter=max_iter)
    return {r["id"]: r["component"] for r in out.collect()}


def test_transitive_closure_chain(spark):
    # 1-2, 2-3, 3-4: one component even though 1-4 never appears directly.
    got = _cc(spark, [1, 2, 3, 4], [(1, 2), (2, 3), (3, 4)])
    assert got == {1: 1, 2: 1, 3: 1, 4: 1}


def test_two_components_and_singleton(spark):
    got = _cc(spark, [1, 2, 3, 10, 11, 99], [(1, 2), (2, 3), (11, 10)])
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 99: 99}


def test_edge_orientation_irrelevant(spark):
    # dst < src orientation must give the same labeling.
    got = _cc(spark, [5, 6, 7], [(7, 6), (6, 5)])
    assert got == {5: 5, 6: 5, 7: 5}


def test_no_edges_all_singletons(spark):
    got = _cc(spark, [3, 1, 2], [])
    assert got == {1: 1, 2: 2, 3: 3}


def test_long_chain_converges_within_diameter(spark):
    # Chain of 8 nodes: diameter 7, must converge (min id floods right).
    n = 8
    got = _cc(spark, list(range(n)), [(i, i + 1) for i in range(n - 1)])
    assert set(got.values()) == {0}


def test_cc_matches_union_find_property(spark):
    """Random graphs: distributed label propagation must equal a
    driver-side union-find (the sequential ground truth)."""
    from hypothesis import example, given, settings, strategies as st

    # Planted @examples: edgeless graph (all singletons), duplicate +
    # reversed edges (must not double-merge), max-diameter chain (the
    # convergence bound), and two components merged by a single late
    # bridge edge.
    @settings(max_examples=10, deadline=None)
    @example(2, [])
    @example(5, [(0, 1), (1, 0), (0, 1), (3, 4)])
    @example(14, [(i, i + 1) for i in range(13)])
    @example(6, [(0, 1), (1, 2), (3, 4), (4, 5), (2, 3)])
    @given(
        st.integers(2, 14),
        st.lists(st.tuples(st.integers(0, 13), st.integers(0, 13)), max_size=25),
    )
    def prop(n_nodes, raw_edges):
        edges = [(a, b) for a, b in raw_edges if a < n_nodes and b < n_nodes and a != b]
        parent = list(range(n_nodes))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        # Min reachable id per node = min over the component's members.
        comp_min = {}
        for v in range(n_nodes):
            r = find(v)
            comp_min[r] = min(comp_min.get(r, v), v)
        want = {v: comp_min[find(v)] for v in range(n_nodes)}
        got = _cc(spark, list(range(n_nodes)), edges)
        assert got == want

    prop()


def test_lsh_dedup_clusters_equals_exact_closure(spark):
    """r8 VERDICT task 2: the composed production path (MinHash bands →
    exact verify → star-contraction closure) must produce the SAME
    cluster partition as the exact recursive-CTE closure on a planted
    fixture whose true pairs sit in the banding's reliable region
    (J ≥ 0.8 per pair ⇒ per-pair catch ≥ 0.99; deterministic here —
    fixed xxhash64 seeds).

    The fixture plants transitivity the exact path must also honor:
    docs 1..4 chain at J≈0.82 per hop while J(1,4)=28/52≈0.54 < 0.6 —
    one cluster with NO direct 1-4 edge on either side.
    """
    import duckdb

    from bigdata_electricity_spark.operators.dedup import lsh_dedup_clusters

    t = [f"t{i}" for i in range(40)]
    x = [f"x{i}" for i in range(12)]
    docs = [
        (1, " ".join(t)),
        (2, " ".join(t[:36] + x[0:4])),
        (3, " ".join(t[:32] + x[0:8])),
        (4, " ".join(t[:28] + x[0:12])),
        (10, " ".join(f"u{i}" for i in range(20))),
        (11, " ".join(f"u{i}" for i in range(20))),  # exact duplicate
        (20, " ".join(f"v{i}" for i in range(22))),
        (21, " ".join([f"v{i}" for i in range(18)] + ["q1", "q2", "q3", "q4"])),
        (30, " ".join(f"w{i}" for i in range(20))),
        (31, " ".join([f"w{i}" for i in range(6)] + [f"z{i}" for i in range(14)])),
        (40, "lonely single document vocabulary entirely its own here"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = lsh_dedup_clusters(df, threshold=0.6).collect()

    got = {r["doc_id"]: r["cluster_id"] for r in out}
    keepers = {r["doc_id"] for r in out if r["is_keeper"]}
    assert keepers == {min(ids for ids, c in got.items() if c == comp)
                       for comp in set(got.values())}

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", docs)
    oracle = dict(con.execute("""
        WITH RECURSIVE toks AS (
            SELECT doc_id, list_distinct(string_split(text, ' ')) AS t
            FROM documents
        ), edges AS (
            SELECT a.doc_id AS s, b.doc_id AS d
            FROM toks a JOIN toks b ON a.doc_id < b.doc_id
            WHERE CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
                  / len(list_distinct(list_concat(a.t, b.t))) >= 0.6
        ), sym AS (
            SELECT s, d FROM edges UNION ALL SELECT d AS s, s AS d FROM edges
        ), reach AS (
            SELECT doc_id AS id, doc_id AS comp FROM documents
            UNION
            SELECT sym.d AS id, reach.comp
            FROM reach JOIN sym ON sym.s = reach.id
            WHERE reach.comp < sym.d
        )
        SELECT id, MIN(comp) AS component FROM reach GROUP BY id
    """).fetchall())

    assert got == oracle  # same min-id labeling => same partition
    assert oracle[4] == 1 and oracle[11] == 10 and oracle[21] == 20
    assert oracle[30] == 30 and oracle[31] == 31 and oracle[40] == 40


def test_checkpoint_blocks_released_per_iteration(spark):
    """r10 (r9 ADVICE): the CC loop must ACTUALLY free dead edge-set
    checkpoint blocks — DataFrame.unpersist on a localCheckpoint-ed
    frame is a no-op, so the release goes through the underlying
    persistent-RDD registry. A 14-node chain needs several star
    iterations (3 checkpoints each); if the release were still a no-op
    the registry would grow by ~3 per iteration. Only the FINAL edge
    set's checkpoint may survive."""
    sc = spark.sparkContext
    before = set(sc._jsc.getPersistentRDDs().keys())
    got = _cc(spark, list(range(14)), [(i, i + 1) for i in range(13)])
    assert set(got.values()) == {0}
    leaked = set(sc._jsc.getPersistentRDDs().keys()) - before
    # final converged edge set only (one checkpoint RDD)
    assert len(leaked) <= 1, f"dead checkpoint RDDs retained: {sorted(leaked)}"


@pytest.mark.heavy
def test_capped_verify_equals_oneshot_closure_on_corpus(spark):
    """r10 verify-schedule redesign, r12 restructure: the staged verify
    (full-signature union → per-bucket spanning edges → exhaustive
    colocated cross-component verify) must induce EXACTLY the partition
    of the one-shot verify-every-candidate closure — on the real
    sf0.001 corpus, not just planted fixtures. The schedule changes
    WHICH true pairs get exact-verified (since r13 ALL candidate pairs,
    full-signature ones included, pass exact verify — r12 ADVICE),
    never the components they span."""
    from pyspark.sql import functions as F

    from bigdata_electricity_spark.operators.dedup import (
        _token_base,
        lsh_dedup_clusters,
        minhash_lsh_candidates,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = {
        r["doc_id"]: (r["cluster_id"], r["is_keeper"])
        for r in lsh_dedup_clusters(docs).collect()
    }

    cand = minhash_lsh_candidates(
        docs, "text", "doc_id", num_hashes=32, bands=8, shingle_n=1
    )
    base = _token_base(docs)
    va = base.select(
        F.col("id").alias("id_a"), F.col("toks").alias("ta"), F.col("__n").alias("na")
    )
    vb = base.select(
        F.col("id").alias("id_b"), F.col("toks").alias("tb"), F.col("__n").alias("nb")
    )
    inter = F.size(F.array_intersect("ta", "tb"))
    jac = inter.cast("double") / (F.col("na") + F.col("nb") - inter).cast("double")
    edges = [
        (r["id_a"], r["id_b"])
        for r in cand.join(va, "id_a").join(vb, "id_b").filter(jac >= 0.6)
        .select("id_a", "id_b").collect()
    ]
    ids = [r["doc_id"] for r in docs.select("doc_id").collect()]
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {i: (find(i), i == find(i)) for i in ids}
    assert got == want
    # the tightest spanning budget (one anchor per bucket) must still
    # converge to the same partition — the exhaustive cross-component
    # verify guarantees exactness regardless of stage-3 coverage
    tight = {
        r["doc_id"]: (r["cluster_id"], r["is_keeper"])
        for r in lsh_dedup_clusters(docs, per_node_cap=1).collect()
    }
    assert tight == want


def test_lsh_dedup_clusters_degenerate_inputs(spark):
    """Capped-verify loop on empty / single-doc / all-identical inputs:
    no round may fail on an empty window or an empty CC edge set."""
    from bigdata_electricity_spark.operators.dedup import lsh_dedup_clusters

    one = spark.createDataFrame([(1, "only doc here")], "doc_id long, text string")
    assert [(r["doc_id"], r["cluster_id"], r["is_keeper"])
            for r in lsh_dedup_clusters(one).collect()] == [(1, 1, True)]
    same = spark.createDataFrame(
        [(i, "the same text") for i in range(1, 5)], "doc_id long, text string"
    )
    got = sorted(
        (r["doc_id"], r["cluster_id"], r["is_keeper"])
        for r in lsh_dedup_clusters(same).collect()
    )
    assert got == [(1, 1, True), (2, 1, False), (3, 1, False), (4, 1, False)]
    empty = spark.createDataFrame([], "doc_id long, text string")
    assert lsh_dedup_clusters(empty).count() == 0


def test_lsh_dedup_clusters_null_text_docs_stay_singletons(spark):
    """r11 ADVICE: xxhash64 of a null array returns the seed, so before
    the fix every NULL-text doc shared one token-set fingerprint and
    the contraction reported them as one duplicate cluster. They must
    each stay their own singleton cluster — the uncontracted path's
    null Jaccard never passes verify — while real duplicates in the
    same corpus still collapse."""
    from bigdata_electricity_spark.operators.dedup import lsh_dedup_clusters

    df = spark.createDataFrame(
        [(1, None), (2, None), (3, None),
         (10, "shared duplicate body of text"),
         (11, "shared duplicate body of text")],
        "doc_id long, text string",
    )
    got = sorted(
        (r["doc_id"], r["cluster_id"], r["is_keeper"])
        for r in lsh_dedup_clusters(df).collect()
    )
    assert got == [(1, 1, True), (2, 2, True), (3, 3, True),
                   (10, 10, True), (11, 10, False)]


def test_lsh_dedup_clusters_rejects_half_specified_signature(spark):
    """r11 ADVICE: passing only one of num_hashes/bands used to silently
    overwrite BOTH with derived values; it must raise instead."""
    import pytest

    from bigdata_electricity_spark.operators.dedup import lsh_dedup_clusters

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="BOTH num_hashes and bands"):
        lsh_dedup_clusters(df, num_hashes=32)
    with pytest.raises(ValueError, match="BOTH num_hashes and bands"):
        lsh_dedup_clusters(df, bands=8)


@pytest.mark.heavy
def test_lsh_dedup_sig_identical_below_threshold_pair_not_merged(spark):
    """r12 ADVICE (stage 2): a pair whose FULL MinHash signature
    collides but whose exact Jaccard is below the serve threshold must
    NOT merge — before r13 the full-signature shortcut unioned such
    pairs into the closure unverified, and at high thresholds the
    t^num_hashes bound is far from negligible (0.9^32 ≈ 3.4% per
    J = 0.9 pair). Plant the collision deterministically: with a
    2-hash signature, search filler tokens until a superset doc's two
    arg-min tokens both land in the shared core (probability 1/4 per
    candidate), giving identical signatures at J = 0.5; then assert
    threshold = 0.9 keeps the pair as two singleton clusters."""
    from pyspark.sql import functions as F

    from bigdata_electricity_spark.operators.dedup import (
        lsh_dedup_clusters,
        normalize_text,
    )

    a_text = "alpha beta"
    cands = spark.createDataFrame(
        [(i, f"alpha beta w{i} x{i}") for i in range(64)] + [(-1, a_text)],
        "doc_id long, text string",
    )
    toks = F.transform(
        F.array_distinct(F.split(normalize_text(F.col("text")), " ")),
        lambda t: F.xxhash64(t),
    )
    sh = F.transform(toks, lambda x: F.xxhash64(x))
    sigged = cands.select(
        "doc_id",
        F.array_min(F.transform(sh, lambda s: F.xxhash64(s, F.lit(0)))).alias("s0"),
        F.array_min(F.transform(sh, lambda s: F.xxhash64(s, F.lit(1)))).alias("s1"),
    ).collect()
    ref = {r["doc_id"]: (r["s0"], r["s1"]) for r in sigged}
    hit = next((i for i in range(64) if ref[i] == ref[-1]), None)
    assert hit is not None, "no 2-hash signature collision in 64 candidates"

    pair = spark.createDataFrame(
        [(1, a_text), (2, f"alpha beta w{hit} x{hit}")],
        "doc_id long, text string",
    )
    got = sorted(
        (r["doc_id"], r["cluster_id"], r["is_keeper"])
        for r in lsh_dedup_clusters(
            pair, threshold=0.9, num_hashes=2, bands=1
        ).collect()
    )
    assert got == [(1, 1, True), (2, 2, True)]
    # sanity: at a threshold the J=0.5 pair DOES satisfy, it merges —
    # the signature collision is real and flows through verify.
    low = sorted(
        (r["doc_id"], r["cluster_id"])
        for r in lsh_dedup_clusters(
            pair, threshold=0.5, num_hashes=2, bands=1
        ).collect()
    )
    assert low == [(1, 1), (2, 1)]
