"""Third-implementation checks for the learning/mining entries.

Every algorithmic entry gets a check against a direct Python
computation (on a planted fixture or real sf0.001 data), on top of its
DuckDB oracle — the CUSUM lesson (ROUND_NOTES r9): parity alone cannot
catch a bug implemented identically on both engines.

- rank-1 ALS: trajectory vs a plain-Python recursion on a planted
  4-user x 4-item block matrix, plus RMSE-decreases on real data;
- depth-2 histogram tree: exact node table on a fixture whose bins,
  splits, and leaf purity are hand-derivable;
- Adamic-Adar: top-k vs a set-based brute force on real sf0.001 data
  (same support threshold, same tie-break).
"""

from __future__ import annotations

import math
import os

import pandas as pd
import pytest

from bigdata_electricity_spark.plans import REGISTRY

SF0001 = "/root/testdata/sf0.001"


def _hr(x: float, n: int) -> float:
    s = 10.0 ** n
    return math.floor(x * s + 0.5) / s


# ---------------------------------------------------------------- ALS


def _write_als_fixture(d: str) -> dict[tuple[int, int], float]:
    """4 customers x 4 parts with a 2-block structure; returns the
    expected rating matrix r[(custkey, partkey)] = sum(quantity)."""
    orders = [(k, 100 + k % 4, "O", 10.0, pd.Timestamp("2024-01-01"), "1-URGENT")
              for k in range(1, 9)]
    # order k belongs to customer 100 + k%4; block A customers (100,101)
    # buy parts (10,11) heavily, block B customers (102,103) buy parts
    # (12,13) lightly; one cross edge makes the matrix irreducible.
    li = []
    ln = 0
    for k in range(1, 9):
        cust = 100 + k % 4
        parts = [10, 11] if cust in (100, 101) else [12, 13]
        for p in parts:
            ln += 1
            qty = 8.0 if cust in (100, 101) else 2.0
            li.append((k, p, 500, ln, qty, 100.0, 0.0, 0.0, "N", "O",
                       pd.Timestamp("2024-02-01")))
    ln += 1
    li.append((1, 12, 500, ln, 1.0, 100.0, 0.0, 0.0, "N", "O",
               pd.Timestamp("2024-02-01")))  # cross edge
    pd.DataFrame(
        orders,
        columns=["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                 "o_orderdate", "o_orderpriority"],
    ).to_parquet(os.path.join(d, "orders.parquet"), coerce_timestamps="us")
    pd.DataFrame(
        li,
        columns=["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                 "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                 "l_returnflag", "l_linestatus", "l_shipdate"],
    ).to_parquet(os.path.join(d, "lineitem.parquet"), coerce_timestamps="us")
    r: dict[tuple[int, int], float] = {}
    for row in li:
        key = (100 + row[0] % 4, row[1])
        r[key] = r.get(key, 0.0) + row[4]
    return r


def _als_direct(r: dict[tuple[int, int], float], rounds: int):
    items = sorted({i for (_, i) in r})
    v = {i: 1.0 for i in items}
    lam = 0.1
    traj = []
    for _ in range(rounds):
        by_u: dict[int, list[tuple[int, float]]] = {}
        for (u, i), rv in r.items():
            by_u.setdefault(u, []).append((i, rv))
        uf = {
            u: _hr(
                sum(rv * v[i] for i, rv in lst)
                / (lam + sum(v[i] * v[i] for i, _ in lst)),
                9,
            )
            for u, lst in sorted(by_u.items())
        }
        by_i: dict[int, list[tuple[int, float]]] = {}
        for (u, i), rv in r.items():
            by_i.setdefault(i, []).append((u, rv))
        v = {
            i: _hr(
                sum(rv * uf[u] for u, rv in lst)
                / (lam + sum(uf[u] * uf[u] for u, _ in lst)),
                9,
            )
            for i, lst in sorted(by_i.items())
        }
        sq = [(rv - uf[u] * v[i]) ** 2 for (u, i), rv in sorted(r.items())]
        traj.append(
            (
                _hr(math.sqrt(sum(sq) / len(sq)), 6),
                _hr(sum(x * x for x in uf.values()), 4),
                _hr(sum(x * x for x in v.values()), 4),
            )
        )
    return traj


def test_als_matches_direct_recursion_on_planted_blocks(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("als_fix"))
    r = _write_als_fixture(d)
    expect = _als_direct(r, 3)
    got = REGISTRY["ml_als_rank1_rounds"].fn(spark, d).collect()
    assert [row.als_round for row in got] == [1, 2, 3]
    for row, (rmse, u_ss, v_ss) in zip(got, expect):
        # tiny sums (<=5 terms) — float-order drift cannot reach 1e-6
        assert abs(row.rmse - rmse) < 1e-6, (row, rmse)
        assert abs(row.u_ss - u_ss) < 1e-3, (row, u_ss)
        assert abs(row.v_ss - v_ss) < 1e-3, (row, v_ss)


def _als2_direct(r: dict[tuple[int, int], float], rounds: int):
    """Plain-Python rank-2 ALS with the entry's exact rounding schedule
    (cells 1e-9 before the 2×2 solve, factors 1e-9 after)."""
    lam = 0.1
    items = sorted({i for (_, i) in r})
    v = {i: (1.0, (i % 97) / 97.0) for i in items}

    def solve(lst, fac):
        a11 = _hr(lam + sum(fac[j][0] * fac[j][0] for j, _ in lst), 9)
        a12 = _hr(sum(fac[j][0] * fac[j][1] for j, _ in lst), 9)
        a22 = _hr(lam + sum(fac[j][1] * fac[j][1] for j, _ in lst), 9)
        b1 = _hr(sum(rv * fac[j][0] for j, rv in lst), 9)
        b2 = _hr(sum(rv * fac[j][1] for j, rv in lst), 9)
        det = a11 * a22 - a12 * a12
        return (_hr((a22 * b1 - a12 * b2) / det, 9),
                _hr((a11 * b2 - a12 * b1) / det, 9))

    traj = []
    for _ in range(rounds):
        by_u: dict[int, list[tuple[int, float]]] = {}
        by_i: dict[int, list[tuple[int, float]]] = {}
        for (u, i), rv in r.items():
            by_u.setdefault(u, []).append((i, rv))
            by_i.setdefault(i, []).append((u, rv))
        uf = {u: solve(lst, v) for u, lst in sorted(by_u.items())}
        v = {i: solve(lst, uf) for i, lst in sorted(by_i.items())}
        sq = [
            (rv - (uf[u][0] * v[i][0] + uf[u][1] * v[i][1])) ** 2
            for (u, i), rv in sorted(r.items())
        ]
        traj.append(
            (
                _hr(math.sqrt(sum(sq) / len(sq)), 6),
                _hr(sum(a * a + b * b for a, b in uf.values()), 4),
                _hr(sum(a * a + b * b for a, b in v.values()), 4),
            )
        )
    return traj


@pytest.mark.heavy
def test_als_rank2_matches_direct_recursion_on_planted_blocks(
        spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("als2_fix"))
    r = _write_als_fixture(d)
    expect = _als2_direct(r, 3)
    got = REGISTRY["ml_als_rank2_rounds"].fn(spark, d).collect()
    assert [row.als_round for row in got] == [1, 2, 3]
    for row, (rmse, u_ss, v_ss) in zip(got, expect):
        assert abs(row.rmse - rmse) < 1e-6, (row, rmse)
        assert abs(row.u_ss - u_ss) < 1e-3, (row, u_ss)
        assert abs(row.v_ss - v_ss) < 1e-3, (row, v_ss)
    # The fixture is a 2-block matrix plus one cross edge — a rank-2
    # model must fit it strictly better than rank 1 by the final round
    # (this is the whole point of widening the factorization).
    rank1 = REGISTRY["ml_als_rank1_rounds"].fn(spark, d).collect()
    assert got[-1].rmse < rank1[-1].rmse, (got[-1].rmse, rank1[-1].rmse)


@pytest.mark.parametrize("entry", ["ml_als_rank1_rounds", "ml_als_rank2_rounds"])
def test_als_rmse_decreases_on_real_data(spark, entry):
    got = REGISTRY[entry].fn(spark, SF0001).collect()
    rmses = [row.rmse for row in got]
    assert len(rmses) == 3
    assert rmses[1] <= rmses[0] and rmses[2] <= rmses[1], rmses
    # ALS must actually fit something: a rank-1 model on this matrix
    # beats the trivial all-zero predictor (rmse < sqrt(E r^2)).
    import duckdb

    base = duckdb.connect().execute(
        f"""SELECT sqrt(AVG(r * r)) FROM (
              SELECT CAST(SUM(l.l_quantity) AS DOUBLE) AS r
              FROM '{SF0001}/lineitem.parquet' l
              JOIN '{SF0001}/orders.parquet' o ON l.l_orderkey = o.o_orderkey
              GROUP BY o.o_custkey, l.l_partkey)"""
    ).fetchone()[0]
    assert rmses[-1] < base


# --------------------------------------------------- depth-2 tree


def _write_tree_fixture(d: str) -> None:
    """16 docs, two clean classes: 8 docs with 2 tokens / n_chars 20..27,
    8 docs with 10 tokens / n_chars 108..115. Every octile bin holds
    exactly two docs, the root split is bin 4 on feature 1 (both
    features separate perfectly; the BIGINT argmin key must prefer
    feature 1), children are pure, accuracy 1.0."""
    rows = []
    for i in range(8):
        text = f"a{i} b{i}"  # 2 distinct tokens
        rows.append((i, text, "en", "web", 20 + i))
    for i in range(8):
        text = " ".join(f"w{i}x{j}" for j in range(10))  # 10 distinct tokens
        rows.append((8 + i, text, "en", "web", 108 + i))
    pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    ).to_parquet(os.path.join(d, "documents.parquet"))


def test_tree_exact_nodes_on_planted_two_class_fixture(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("tree_fix"))
    _write_tree_fixture(d)
    got = {row.node: row for row in
           REGISTRY["ml_tree_depth2_histogram"].fn(spark, d).collect()}
    assert set(got) == {"root", "L", "R"}
    root = got["root"]
    assert (root.n, root.n_pos) == (16, 8)
    assert (root.feature, root.cut_bin) == (1, 4)  # tie with f2 -> key picks f1
    assert root.wentropy == 0.0 and root.acc == 1.0
    left, right = got["L"], got["R"]
    assert (left.n, left.n_pos) == (8, 0)
    assert (right.n, right.n_pos) == (8, 8)
    # pure children: every candidate has weighted entropy 0, argmin key
    # falls to the smallest (feature, populated cut bin)
    assert (left.feature, left.cut_bin, left.wentropy) == (1, 1, 0.0)
    assert (right.feature, right.cut_bin, right.wentropy) == (1, 5, 0.0)
    assert left.acc is None and right.acc is None


def test_tree_parity_on_planted_fixture(spark, tmp_path_factory):
    import duckdb

    from parity import compare_one

    d = str(tmp_path_factory.mktemp("tree_fix2"))
    _write_tree_fixture(d)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{d}/documents.parquet'")
    err = compare_one(spark, con, REGISTRY["ml_tree_depth2_histogram"], d)
    assert err is None or err.startswith("ok:"), err


def test_tree_single_bin_corpus_yields_empty_tree(spark, tmp_path_factory):
    """Degenerate input: identical docs put every row in one bin — no
    candidate split has a non-empty right side, so the tree has no
    nodes. Both engines must agree on ZERO rows (the SQL MIN-over-empty
    NULL row is explicitly filtered in the oracle)."""
    import duckdb

    from parity import compare_one

    d = str(tmp_path_factory.mktemp("tree_degen"))
    pd.DataFrame(
        [(i, "same text here", "en", "web", 14) for i in range(5)],
        columns=["doc_id", "text", "lang", "source", "n_chars"],
    ).to_parquet(os.path.join(d, "documents.parquet"))
    out = REGISTRY["ml_tree_depth2_histogram"].fn(spark, d)
    assert out.count() == 0
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{d}/documents.parquet'")
    err = compare_one(spark, con, REGISTRY["ml_tree_depth2_histogram"], d)
    assert err is None or err.startswith("ok:"), err


def test_tree_accuracy_is_high_on_real_learnable_target(spark):
    got = {row.node: row for row in
           REGISTRY["ml_tree_depth2_histogram"].fn(spark, SF0001).collect()}
    # n_chars ~ token count at corr ~0.998: a depth-2 threshold model
    # must be far above the 0.5 majority floor.
    assert got["root"].acc > 0.9, got["root"]


# --------------------------------------------------- Adamic-Adar


def test_adamic_adar_matches_brute_force_on_real_data(spark):
    import duckdb

    pairs = duckdb.connect().execute(
        f"""SELECT a.l_partkey, b.l_partkey, COUNT(DISTINCT a.l_orderkey)
            FROM '{SF0001}/lineitem.parquet' a
            JOIN '{SF0001}/lineitem.parquet' b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2"""
    ).fetchall()
    edges = {(pa, pb) for pa, pb, c in pairs if c >= 2}
    nbrs: dict[int, set[int]] = {}
    for pa, pb in edges:
        nbrs.setdefault(pa, set()).add(pb)
        nbrs.setdefault(pb, set()).add(pa)
    deg = {z: len(s) for z, s in nbrs.items()}
    scores: dict[tuple[int, int], tuple[float, int]] = {}
    for z, s in nbrs.items():
        for a in s:
            for b in s:
                if a < b and (a, b) not in edges:
                    sc, nc = scores.get((a, b), (0.0, 0))
                    scores[(a, b)] = (sc + 1.0 / math.log(deg[z]), nc + 1)
    expect = sorted(
        ((_hr(sc, 6), a, b, nc) for (a, b), (sc, nc) in scores.items()),
        key=lambda t: (-t[0], t[1], t[2]),
    )[:20]
    got = REGISTRY["graph_adamic_adar"].fn(spark, SF0001).collect()
    assert [(r.aa_score, r.part_a, r.part_b, r.n_common) for r in got] == [
        (sc, a, b, nc) for sc, a, b, nc in expect
    ]


# --------------------------------------------------- V-shape pattern


def _vshape_direct(seq: list[float]):
    """Direct recognizer: maximal strict-down run immediately followed
    by a strict-up run; flats break adjacency. Returns (count, depths)."""
    dirs = []
    for i in range(1, len(seq)):
        d = seq[i] - seq[i - 1]
        dirs.append(0 if d == 0 else (1 if d > 0 else -1))
    runs = []  # (dir, start_idx, end_idx) over dirs[], idx = step index
    for i, d in enumerate(dirs):
        if runs and runs[-1][0] == d:
            runs[-1][2] = i
        else:
            runs.append([d, i, i])
    depths = []
    for r1, r2 in zip(runs, runs[1:]):
        if r1[0] == -1 and r2[0] == 1:
            # step i moves seq[i] -> seq[i+1]; fall entered at seq[start]
            depths.append(seq[r1[1]] - seq[r1[2] + 1])
    return len(depths), depths


def _write_events(d: str, rows) -> None:
    pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    ).to_parquet(os.path.join(d, "events.parquet"), coerce_timestamps="us")


def test_vshape_planted_patterns_and_flat_blocking(spark, tmp_path_factory):
    import datetime as dt

    B = dt.datetime(2024, 3, 1, 0, 0, 0)
    mk = lambda uid, vals: [  # noqa: E731
        (uid * 100 + i, B + dt.timedelta(minutes=i), uid, "view", v, "{}")
        for i, v in enumerate(vals)
    ]
    rows = []
    rows += mk(1, [5.0, 3.0, 1.0, 4.0, 6.0])        # one V, depth 4
    rows += mk(2, [5.0, 3.0, 3.0, 6.0])             # flat blocks: no V
    rows += mk(3, [9.0, 7.0, 8.0, 2.0, 5.0])        # two Vs, depths 2 and 6
    rows += mk(4, [1.0, 2.0, 3.0])                  # rise only: no V
    d = str(tmp_path_factory.mktemp("vshape"))
    _write_events(d, rows)
    got = {r.user_id: r for r in
           REGISTRY["events_pattern_vshape"].fn(spark, d).collect()}
    assert set(got) == {1, 3}
    assert (got[1].n_vshapes, got[1].max_depth) == (1, 4.0)
    assert (got[3].n_vshapes, got[3].max_depth) == (2, 6.0)
    assert abs(got[3].avg_depth - 4.0) < 1e-9


def test_vshape_matches_direct_recognizer_on_random_streams(spark, tmp_path_factory):
    import datetime as dt
    import random

    rng = random.Random(20260815)
    B = dt.datetime(2024, 3, 1)
    rows, expect = [], {}
    for uid in range(1, 13):
        vals = [float(rng.randint(0, 4)) for _ in range(rng.randint(2, 24))]
        rows += [
            (uid * 1000 + i, B + dt.timedelta(minutes=i), uid, "view", v, "{}")
            for i, v in enumerate(vals)
        ]
        n, depths = _vshape_direct(vals)
        if n:
            expect[uid] = (n, _hr(max(depths), 6), _hr(sum(depths) / n, 6))
    d = str(tmp_path_factory.mktemp("vshape_rand"))
    _write_events(d, rows)
    got = {r.user_id: (r.n_vshapes, r.max_depth, r.avg_depth)
           for r in REGISTRY["events_pattern_vshape"].fn(spark, d).collect()}
    assert got == expect


# --------------------------------------------------- JS vocab drift


def test_js_drift_matches_direct_computation_on_real_data(spark):
    import duckdb
    import re

    docs = duckdb.connect().execute(
        f"SELECT source, text FROM '{SF0001}/documents.parquet'"
    ).fetchall()
    counts: dict[str, dict[str, int]] = {}
    for source, text in docs:
        m = counts.setdefault(source, {})
        for tok in re.findall(r"\S+", text):
            m[tok] = m.get(tok, 0) + 1
    probs = {
        s: {t: c / sum(m.values()) for t, c in m.items()} for s, m in counts.items()
    }
    got = REGISTRY["text_vocab_js_drift"].fn(spark, SF0001).collect()
    assert len(got) == len(probs) * (len(probs) - 1) // 2
    for row in got:
        pa, pb = probs[row.source_a], probs[row.source_b]
        js = sum(
            0.5 * p * math.log(2.0 * p / (p + pb.get(t, 0.0))) for t, p in pa.items()
        ) + sum(
            0.5 * q * math.log(2.0 * q / (q + pa.get(t, 0.0))) for t, q in pb.items()
        )
        assert abs(row.js_nats - js) < 1e-6, (row, js)
        assert row.n_types_a == len(pa) and row.n_types_b == len(pb)
        assert row.n_shared == len(set(pa) & set(pb))
        assert 0.0 <= row.js_nats <= math.log(2.0) + 1e-9


def test_js_drift_disjoint_vocabularies_hit_ln2(spark, tmp_path_factory):
    rows = [(i, " ".join(f"a{i}x{j}" for j in range(4)), "en", "web", 20)
            for i in range(4)]
    rows += [(10 + i, " ".join(f"b{i}y{j}" for j in range(4)), "en", "books", 20)
             for i in range(4)]
    d = str(tmp_path_factory.mktemp("js_disjoint"))
    pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    ).to_parquet(os.path.join(d, "documents.parquet"))
    got = REGISTRY["text_vocab_js_drift"].fn(spark, d).collect()
    assert len(got) == 1
    assert got[0].n_shared == 0
    assert abs(got[0].js_nats - math.log(2.0)) < 1e-6


# --------------------------------------------------- FD discovery


@pytest.mark.heavy
def test_fd_discovery_planted_dependencies(spark, tmp_path_factory):
    import duckdb

    from parity import compare_one

    # o_orderkey is a key (-> everything); o_custkey -> o_orderstatus
    # holds by construction; o_orderstatus -> o_orderpriority is
    # violated exactly once.
    rows = [
        (1, 100, "O", 10.0, pd.Timestamp("2024-01-01"), "1-URGENT"),
        (2, 100, "O", 20.0, pd.Timestamp("2024-01-02"), "1-URGENT"),
        (3, 101, "F", 30.0, pd.Timestamp("2024-01-03"), "2-HIGH"),
        (4, 101, "F", 40.0, pd.Timestamp("2024-01-04"), "3-MEDIUM"),
        (5, 102, "P", 50.0, pd.Timestamp("2024-01-05"), "2-HIGH"),
    ]
    d = str(tmp_path_factory.mktemp("fd_fix"))
    pd.DataFrame(
        rows,
        columns=["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                 "o_orderdate", "o_orderpriority"],
    ).to_parquet(os.path.join(d, "orders.parquet"), coerce_timestamps="us")
    got = {(r.lhs, r.rhs): r for r in
           REGISTRY["audit_functional_dependencies"].fn(spark, d).collect()}
    assert len(got) == 30
    for rhs in ["o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
                "o_orderpriority"]:
        assert got[("o_orderkey", rhs)].fd_holds, rhs
    assert got[("o_custkey", "o_orderstatus")].fd_holds
    r = got[("o_orderstatus", "o_orderpriority")]
    assert not r.fd_holds and r.n_violations == 1 and r.n_groups == 3
    assert not got[("o_custkey", "o_totalprice")].fd_holds
    con = duckdb.connect()
    con.execute(f"CREATE VIEW orders AS SELECT * FROM '{d}/orders.parquet'")
    err = compare_one(spark, con, REGISTRY["audit_functional_dependencies"], d)
    assert err is None or err.startswith("ok:"), err


# --------------------------------------------------- HITS


def test_hits_matches_direct_power_iteration(spark):
    import duckdb

    edges = duckdb.connect().execute(
        f"""SELECT DISTINCT o.o_custkey, l.l_partkey
            FROM '{SF0001}/lineitem.parquet' l
            JOIN '{SF0001}/orders.parquet' o ON l.l_orderkey = o.o_orderkey"""
    ).fetchall()
    h = {u: 1.0 for u, _ in edges}
    a: dict[int, float] = {}
    for _ in range(2):
        a = {}
        for u, i in edges:
            a[i] = a.get(i, 0.0) + h[u]
        nrm = math.sqrt(sum(x * x for x in a.values()))
        a = {i: _hr(x / nrm, 9) for i, x in a.items()}
        h = {}
        for u, i in edges:
            h[u] = h.get(u, 0.0) + a[i]
        nrm = math.sqrt(sum(x * x for x in h.values()))
        h = {u: _hr(x / nrm, 9) for u, x in h.items()}
    exp_auth = sorted(((-_hr(s, 6), i) for i, s in a.items()))[:10]
    exp_hub = sorted(((-_hr(s, 6), u) for u, s in h.items()))[:10]
    got = REGISTRY["graph_hits_rounds"].fn(spark, SF0001).collect()
    ga = [(r.rnk, r.node_id, r.score) for r in got if r.kind == "authority"]
    gh = [(r.rnk, r.node_id, r.score) for r in got if r.kind == "hub"]
    assert [(k + 1, i) for k, (_, i) in enumerate(exp_auth)] == [
        (r, i) for r, i, _ in ga
    ]
    assert [(k + 1, u) for k, (_, u) in enumerate(exp_hub)] == [
        (r, u) for r, u, _ in gh
    ]
    for (negs, _), (_, _, s) in zip(exp_auth, ga):
        assert abs(-negs - s) < 2e-6
    for (negs, _), (_, _, s) in zip(exp_hub, gh):
        assert abs(-negs - s) < 2e-6


# --------------------------------------------------- Cramér's V


def test_cramers_v_perfect_association_is_one(spark, tmp_path_factory):
    import duckdb

    from parity import compare_one

    # status determines priority exactly; dow is constant (1-level
    # degenerate domain -> V = 0 with the GREATEST guard, chi2 = 0).
    rows = [
        (k, 100 + k, "O" if k % 2 == 0 else "F", 10.0 * k,
         pd.Timestamp("2024-01-01"), "1-URGENT" if k % 2 == 0 else "5-LOW")
        for k in range(1, 21)
    ]
    d = str(tmp_path_factory.mktemp("cramers"))
    pd.DataFrame(
        rows,
        columns=["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                 "o_orderdate", "o_orderpriority"],
    ).to_parquet(os.path.join(d, "orders.parquet"), coerce_timestamps="us")
    got = {(r.col_a, r.col_b): r for r in
           REGISTRY["stats_cramers_v_pairs"].fn(spark, d).collect()}
    assert got[("o_orderstatus", "o_orderpriority")].cramers_v == 1.0
    assert got[("o_orderstatus", "order_dow")].cramers_v == 0.0
    assert got[("o_orderstatus", "order_dow")].chi2 == 0.0
    con = duckdb.connect()
    con.execute(f"CREATE VIEW orders AS SELECT * FROM '{d}/orders.parquet'")
    err = compare_one(spark, con, REGISTRY["stats_cramers_v_pairs"], d)
    assert err is None or err.startswith("ok:"), err


def test_cramers_v_matches_direct_chi2_on_real_data(spark):
    import duckdb

    orders = duckdb.connect().execute(
        f"""SELECT o_orderstatus, o_orderpriority,
                   dayofweek(CAST(o_orderdate AS TIMESTAMP))
            FROM '{SF0001}/orders.parquet'"""
    ).fetchall()
    got = {(r.col_a, r.col_b): r for r in
           REGISTRY["stats_cramers_v_pairs"].fn(spark, SF0001).collect()}
    for (ca, cb), (ia, ib) in {
        ("o_orderstatus", "o_orderpriority"): (0, 1),
        ("o_orderstatus", "order_dow"): (0, 2),
        ("o_orderpriority", "order_dow"): (1, 2),
    }.items():
        obs: dict[tuple[str, str], int] = {}
        for row in orders:
            key = (str(row[ia]), str(row[ib]))
            obs[key] = obs.get(key, 0) + 1
        ra: dict[str, int] = {}
        cbm: dict[str, int] = {}
        for (x, y), c in obs.items():
            ra[x] = ra.get(x, 0) + c
            cbm[y] = cbm.get(y, 0) + c
        n = len(orders)
        chi2 = sum(
            (obs.get((x, y), 0) - ra[x] * cbm[y] / n) ** 2 / (ra[x] * cbm[y] / n)
            for x in ra for y in cbm
        )
        v = math.sqrt(chi2 / (n * max(min(len(ra), len(cbm)) - 1, 1)))
        r = got[(ca, cb)]
        assert abs(r.chi2 - chi2) < 1e-3, (ca, cb, r.chi2, chi2)
        assert abs(r.cramers_v - v) < 1e-5
        assert (r.r_levels, r.c_levels) == (len(ra), len(cbm))


# --------------------------------------------------- co-presence


def _copresence_direct(rows):
    """rows: (event_id, ts, user_id, event_type). Returns the full
    sorted result of the copresence query, computed with plain Python
    interval logic (no bucketing — certifies the blocked join)."""
    by_user: dict[int, list[tuple]] = {}
    for eid, ts, uid, et in rows:
        by_user.setdefault(uid, []).append((ts, eid, et))
    intervals = []
    for uid, evs in by_user.items():
        evs.sort()
        cur = [evs[0]]
        for prev, nxt in zip(evs, evs[1:]):
            if int((nxt[0] - prev[0]).total_seconds()) > 1800:
                intervals.append((uid, cur))
                cur = []
            cur.append(nxt)
        intervals.append((uid, cur))
    ivs = []
    for uid, evs in intervals:
        if any(et == "purchase" for _, _, et in evs):
            s = min(t for t, _, _ in evs)
            e = max(t for t, _, _ in evs)
            ivs.append((uid, int(s.timestamp() * 1_000_000),
                        int(e.timestamp() * 1_000_000)))
    agg: dict[tuple[int, int], list] = {}
    for i, (ua, sa, ea) in enumerate(ivs):
        for ub, sb, eb in ivs[i + 1:]:
            if ua == ub:
                continue
            a, b = (ua, ub) if ua < ub else (ub, ua)
            ov = min(ea, eb) - max(sa, sb)
            if ov > 0:
                st = agg.setdefault((a, b), [0, 0, 0])
                st[0] += 1
                st[1] += ov
                st[2] = max(st[2], ov)
    out = sorted(
        ((a, b, n, tot, mx) for (a, b), (n, tot, mx) in agg.items()),
        key=lambda t: (-t[3], t[0], t[1]),
    )
    return out[:20]


def test_copresence_planted_boundaries_and_bucket_dedup(spark, tmp_path_factory):
    import datetime as dt

    B = dt.datetime(2024, 4, 1, 10, 0, 0)
    mins = lambda m: B + dt.timedelta(minutes=m)  # noqa: E731
    rows = []
    # user 1: one session 10:00-12:55 (25-min cadence, under the 30-min
    # gap); user 2: one session 10:30-12:35 — overlap [10:30, 12:35] =
    # 125 min, spanning THREE shared hour buckets; must count ONCE
    eid = 0
    for m in range(0, 176, 25):  # 0,25,...,175
        eid += 1
        rows.append((eid, mins(m), 1, "purchase" if m == 0 else "view"))
    for m in [30, 55, 80, 105, 125]:
        eid += 1
        rows.append((eid, mins(m), 2, "purchase" if m == 30 else "view"))
    # user 3 starts EXACTLY at user 1's session end (12:55) — overlap 0,
    # strictly excluded
    rows += [(100, mins(175), 3, "purchase"), (101, mins(195), 3, "view")]
    # user 4 overlaps user 1 but has no purchase — filtered out
    rows += [(110, mins(10), 4, "view"), (111, mins(20), 4, "view")]
    evrows = [(eid_, ts, uid, et, 1.0, "{}") for eid_, ts, uid, et in rows]
    d = str(tmp_path_factory.mktemp("copresence"))
    _write_events(d, evrows)
    got = REGISTRY["intervals_copresence_pairs"].fn(spark, d).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.user_a, r.user_b, r.n_copresent) == (1, 2, 1)
    assert r.total_overlap_us == 95 * 60 * 1_000_000  # 10:30 -> 12:05
    assert r.max_overlap_us == r.total_overlap_us


def test_copresence_matches_direct_interval_logic_on_real_data(spark):
    import duckdb

    rows = duckdb.connect().execute(
        f"SELECT event_id, ts, user_id, event_type FROM '{SF0001}/events.parquet'"
    ).fetchall()
    expect = _copresence_direct(rows)
    got = [(r.user_a, r.user_b, r.n_copresent, r.total_overlap_us, r.max_overlap_us)
           for r in REGISTRY["intervals_copresence_pairs"].fn(spark, SF0001).collect()]
    assert got == expect


# --------------------------------------------------- histogram quantiles


def test_hist_quantiles_match_direct_python(spark):
    import duckdb

    vals = [v for (v,) in duckdb.connect().execute(
        f"SELECT value FROM '{SF0001}/events.parquet'"
    ).fetchall()]
    lo, hi, n = min(vals), max(vals), len(vals)
    width = (hi - lo) / 64.0
    counts = [0] * 64
    for v in vals:
        counts[min(int(math.floor((v - lo) / width)), 63)] += 1
    got = {r.stat: r for r in
           REGISTRY["sketch_histogram_shard_quantiles"].fn(spark, SF0001).collect()}
    svals = sorted(vals)

    def interp_exact(q):
        pos = q * (n - 1)
        i = int(math.floor(pos))
        f = pos - i
        return svals[i] + f * (svals[min(i + 1, n - 1)] - svals[i])

    for stat, q in [("p50", 0.5), ("p90", 0.9)]:
        cw = 0
        for b in range(64):
            cw += counts[b]
            if cw >= q * n:
                est = lo + width * (b + (q * n - (cw - counts[b])) / counts[b])
                break
        r = got[stat]
        assert abs(r.est - est) < 1e-6, (stat, r.est, est)
        assert abs(r.exact - interp_exact(q)) < 1e-6
        assert r.within_bound
        assert abs(r.est - r.exact) <= r.bin_width + 1e-9


@pytest.mark.heavy
def test_hist_quantiles_degenerate_constant_column(spark, tmp_path_factory):
    import datetime as dt
    import duckdb

    from parity import compare_one

    B = dt.datetime(2024, 4, 1)
    rows = [(i, B + dt.timedelta(minutes=i), 1, "view", 7.5, "{}")
            for i in range(10)]
    d = str(tmp_path_factory.mktemp("hist_degen"))
    _write_events(d, rows)
    got = {r.stat: r for r in
           REGISTRY["sketch_histogram_shard_quantiles"].fn(spark, d).collect()}
    for stat in ("p50", "p90"):
        assert got[stat].est == 7.5 and got[stat].exact == 7.5
        assert got[stat].bin_width == 0.0 and got[stat].within_bound
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{d}/events.parquet'")
    err = compare_one(spark, con, REGISTRY["sketch_histogram_shard_quantiles"], d)
    assert err is None or err.startswith("ok:"), err


# --------------------------------------------------- Huber IRLS


def test_huber_downweights_planted_outlier(spark, tmp_path_factory):
    import duckdb

    from parity import compare_one

    rows = [(i, 1, 1, i, 1.0, 10.0 + (i % 5) * 0.01, 0.0, 0.0, "N", "O",
             pd.Timestamp("2024-02-01")) for i in range(1, 40)]
    rows.append((40, 1, 1, 40, 1.0, 5000.0, 0.0, 0.0, "N", "O",
                 pd.Timestamp("2024-02-01")))  # gross outlier
    d = str(tmp_path_factory.mktemp("huber"))
    pd.DataFrame(
        rows,
        columns=["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                 "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                 "l_returnflag", "l_linestatus", "l_shipdate"],
    ).to_parquet(os.path.join(d, "lineitem.parquet"), coerce_timestamps="us")
    got = REGISTRY["stats_huber_mean_irls"].fn(spark, d).collect()
    final = got[-1]
    assert abs(final.huber_mean - 10.02) < 0.05          # outlier neutralized
    assert final.plain_mean > 130.0                      # plain mean wrecked
    assert final.sum_w < 40.0                            # outlier weight << 1
    con = duckdb.connect()
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM '{d}/lineitem.parquet'")
    err = compare_one(spark, con, REGISTRY["stats_huber_mean_irls"], d)
    assert err is None or err.startswith("ok:"), err


def test_huber_zero_mad_collapses_to_plain_mean(spark, tmp_path_factory):
    """Degenerate scale: >50% of mass at one value -> MAD = 0 -> all
    weights 1 -> huber_mean == plain mean on both rounds, no crash."""
    import duckdb

    from parity import compare_one

    rows = [(i, 1, 1, i, 1.0, 100.0, 0.0, 0.0, "N", "O",
             pd.Timestamp("2024-02-01")) for i in range(1, 10)]
    rows += [(20 + i, 1, 1, 20 + i, 1.0, 200.0 + i, 0.0, 0.0, "N", "O",
              pd.Timestamp("2024-02-01")) for i in range(3)]
    d = str(tmp_path_factory.mktemp("huber0"))
    pd.DataFrame(
        rows,
        columns=["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                 "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                 "l_returnflag", "l_linestatus", "l_shipdate"],
    ).to_parquet(os.path.join(d, "lineitem.parquet"), coerce_timestamps="us")
    got = REGISTRY["stats_huber_mean_irls"].fn(spark, d).collect()
    for row in got:
        assert row.mad_scale == 0.0
        assert abs(row.huber_mean - row.plain_mean) < 1e-6
        assert abs(row.sum_w - 12.0) < 1e-6
    con = duckdb.connect()
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM '{d}/lineitem.parquet'")
    err = compare_one(spark, con, REGISTRY["stats_huber_mean_irls"], d)
    assert err is None or err.startswith("ok:"), err


def test_huber_matches_direct_irls_on_real_data(spark):
    import duckdb

    con = duckdb.connect()
    vals = [v for (v,) in con.execute(
        f"SELECT l_extendedprice FROM '{SF0001}/lineitem.parquet'"
    ).fetchall()]
    m = _hr(con.execute(
        f"SELECT quantile_cont(l_extendedprice, 0.5) FROM '{SF0001}/lineitem.parquet'"
    ).fetchone()[0], 9)
    s = _hr(1.4826 * con.execute(
        f"""SELECT quantile_cont(abs(l_extendedprice - {m!r}), 0.5)
            FROM '{SF0001}/lineitem.parquet'"""
    ).fetchone()[0], 9)
    k = 1.345
    traj = []
    for _ in range(2):
        num = den = 0.0
        for v in vals:
            dev = abs(v - m)
            w = 1.0 if (dev <= k * s or s == 0) else k * s / dev
            num += w * v
            den += w
        m = _hr(num / den, 9)
        traj.append((_hr(m, 6), _hr(den, 4)))
    got = REGISTRY["stats_huber_mean_irls"].fn(spark, SF0001).collect()
    for row, (hm, sw) in zip(got, traj):
        assert abs(row.huber_mean - hm) < 1e-5, (row, hm)
        assert abs(row.sum_w - sw) < 0.05


# --------------------------------------------------- randomized response


def test_randomized_response_matches_direct_hash_replay(spark):
    import duckdb
    import hashlib

    rows = duckdb.connect().execute(
        f"SELECT event_id, event_type FROM '{SF0001}/events.parquet'"
    ).fetchall()
    n = len(rows)
    nb = nrep = 0
    for eid, et in rows:
        b = 1 if et == "purchase" else 0
        u = int(hashlib.md5(f"rr{eid}".encode()).hexdigest()[:6], 16) / 16777216.0
        coin = int(hashlib.md5(f"rb{eid}".encode()).hexdigest()[:6], 16) % 2
        nb += b
        nrep += b if u < 0.75 else coin
    true_rate = nb / n
    rep_rate = nrep / n
    est = (rep_rate - 0.125) / 0.75
    r = REGISTRY["privacy_randomized_response"].fn(spark, SF0001).collect()[0]
    assert r.n == n
    assert abs(r.true_rate - true_rate) < 1e-6
    assert abs(r.reported_rate - rep_rate) < 1e-6
    assert abs(r.estimated_rate - est) < 1e-6
    assert abs(r.abs_err - abs(est - true_rate)) < 2e-6
    assert abs(r.epsilon - math.log(7.0)) < 1e-3
    # the mechanism must actually be noisy AND debiasing must help:
    assert r.reported_rate != r.true_rate
    assert r.abs_err < abs(r.reported_rate - r.true_rate)


# --------------------------------------------------- TextRank


def test_textrank_matches_direct_power_iteration(spark):
    import duckdb
    import re

    docs = duckdb.connect().execute(
        f"SELECT text FROM '{SF0001}/documents.parquet'"
    ).fetchall()
    freq: dict[str, int] = {}
    seqs = []
    for (text,) in docs:
        toks = re.findall(r"\S+", text)
        seqs.append(toks)
        for t in toks:
            freq[t] = freq.get(t, 0) + 1
    keep = {t for t, c in freq.items() if c >= 5}
    und: dict[tuple[str, str], float] = {}
    for toks in seqs:
        for x, y in zip(toks, toks[1:]):
            if x != y and x in keep and y in keep:
                e = (min(x, y), max(x, y))
                und[e] = und.get(e, 0.0) + 1.0
    wdeg: dict[str, float] = {}
    for (x, y), w in und.items():
        wdeg[x] = wdeg.get(x, 0.0) + w
        wdeg[y] = wdeg.get(y, 0.0) + w
    r = {t: 1.0 for t in wdeg}
    for _ in range(3):
        nxt = {t: 0.0 for t in wdeg}
        for (x, y), w in und.items():
            nxt[y] += r[x] * w / wdeg[x]
            nxt[x] += r[y] * w / wdeg[y]
        r = {t: _hr(0.15 + 0.85 * v, 9) for t, v in nxt.items()}
    expect = sorted(((-_hr(s, 6), t) for t, s in r.items()))[:15]
    got = REGISTRY["text_textrank_keywords"].fn(spark, SF0001).collect()
    assert [(i + 1, w) for i, (_, w) in enumerate(expect)] == [
        (row.rnk, row.word) for row in got
    ]
    for (negs, _), row in zip(expect, got):
        assert abs(-negs - row.score) < 2e-6


# --------------------------------------------------- SQL surface


def test_lateral_topn_decorrelates_to_window(spark):
    import contextlib
    import io

    df = REGISTRY["sqltext_lateral_topn_per_group"].fn(spark, SF0001)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    # the lateral must be decorrelated, never a per-outer-row loop
    assert "Window" in plan
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    rows = df.collect()
    # exactly <=2 per nation, sorted within group
    from collections import Counter

    per = Counter(r.n_name for r in rows)
    assert per and max(per.values()) <= 2


def test_session_variables_idempotent_and_consistent(spark):
    a = REGISTRY["sqltext_session_variables"].fn(spark, SF0001).collect()
    b = REGISTRY["sqltext_session_variables"].fn(spark, SF0001).collect()
    assert a == b and len(a) > 0
    # the bound cutoff must equal the recomputed average on every row
    import duckdb

    avg = duckdb.connect().execute(
        f"SELECT floor(AVG(o_totalprice) * 10000.0 + 0.5) / 10000.0"
        f" FROM '{SF0001}/orders.parquet'"
    ).fetchone()[0]
    for r in a:
        assert r.cutoff_used == avg


# --------------------------------------------------- GMM EM


def test_gmm_matches_direct_em_and_loglik_monotone(spark):
    import duckdb

    con = duckdb.connect()
    vals = [v for (v,) in con.execute(
        f"SELECT value FROM '{SF0001}/events.parquet'"
    ).fetchall()]
    mu1 = _hr(con.execute(
        f"SELECT quantile_cont(value, 0.25) FROM '{SF0001}/events.parquet'"
    ).fetchone()[0], 9)
    mu2 = _hr(con.execute(
        f"SELECT quantile_cont(value, 0.75) FROM '{SF0001}/events.parquet'"
    ).fetchone()[0], 9)
    n = len(vals)
    mean = sum(vals) / n
    var = _hr(max(sum((v - mean) ** 2 for v in vals) / (n - 1), 1e-6), 9)
    v1 = v2 = var
    pi1 = 0.5

    def dens(x, m, vv):
        return (1.0 / math.sqrt(2.0 * math.pi * vv)) * math.exp(
            -((x - m) ** 2) / (2.0 * vv)
        )

    traj = []
    for _ in range(2):
        rs = [
            pi1 * dens(x, mu1, v1)
            / (pi1 * dens(x, mu1, v1) + (1 - pi1) * dens(x, mu2, v2))
            for x in vals
        ]
        sr = sum(rs)
        sc = n - sr
        mu1 = _hr(sum(r * x for r, x in zip(rs, vals)) / sr, 9)
        mu2 = _hr(sum((1 - r) * x for r, x in zip(rs, vals)) / sc, 9)
        v1 = _hr(max(sum(r * x * x for r, x in zip(rs, vals)) / sr - mu1 * mu1, 1e-6), 9)
        v2 = _hr(max(sum((1 - r) * x * x for r, x in zip(rs, vals)) / sc - mu2 * mu2, 1e-6), 9)
        pi1 = _hr(sr / n, 9)
        ll = sum(
            math.log(pi1 * dens(x, mu1, v1) + (1 - pi1) * dens(x, mu2, v2))
            for x in vals
        ) / n
        traj.append((pi1, mu1, v1, mu2, v2, ll))
    got = REGISTRY["ml_gmm_em_rounds"].fn(spark, SF0001).collect()
    assert [r.em_round for r in got] == [1, 2]
    for row, (p1, m1, vv1, m2, vv2, ll) in zip(got, traj):
        assert abs(row.pi1 - p1) < 1e-4, (row, p1)
        assert abs(row.mu1 - m1) < 1e-3 and abs(row.mu2 - m2) < 1e-3
        assert abs(row.var1 - vv1) < 0.5 and abs(row.var2 - vv2) < 0.5
        assert abs(row.avg_loglik - ll) < 1e-4
    assert got[1].avg_loglik >= got[0].avg_loglik - 1e-9  # EM monotonicity


def test_gmm_recovers_planted_bimodal_modes(spark, tmp_path_factory):
    import datetime as dt
    import duckdb

    from parity import compare_one

    B = dt.datetime(2024, 4, 1)
    rows = []
    for i in range(200):
        # two tight clusters at 10 and 50
        v = 10.0 + (i % 7) * 0.1 if i % 2 == 0 else 50.0 + (i % 5) * 0.1
        rows.append((i, B + dt.timedelta(minutes=i), 1, "view", v, "{}"))
    d = str(tmp_path_factory.mktemp("gmm_fix"))
    _write_events(d, rows)
    got = REGISTRY["ml_gmm_em_rounds"].fn(spark, d).collect()
    first, final = got[0], got[-1]
    # 2 rounds from the wide pooled-variance init: partial but
    # directionally-correct convergence toward the planted modes
    assert 9.0 < final.mu1 < 16.0 and 44.0 < final.mu2 < 51.0
    assert abs(final.mu1 - 10.3) < abs(first.mu1 - 10.3) + 1e-9
    assert abs(final.mu2 - 50.2) < abs(first.mu2 - 50.2) + 1e-9
    assert 0.4 < final.pi1 < 0.6
    assert final.avg_loglik >= first.avg_loglik - 1e-9
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{d}/events.parquet'")
    err = compare_one(spark, con, REGISTRY["ml_gmm_em_rounds"], d)
    assert err is None or err.startswith("ok:"), err


# --------------------------------------------------- conformal


def test_conformal_coverage_near_nominal_on_real_data(spark):
    r = REGISTRY["ml_conformal_interval"].fn(spark, SF0001).collect()[0]
    assert r.n_cal > 0 and r.n_test > 0
    assert 0.85 <= r.coverage <= 0.95, r
    assert r.beta > 0  # tokens grow with chars


def test_conformal_zero_variance_feature_degrades_gracefully(spark, tmp_path_factory):
    import duckdb

    from parity import compare_one

    rows = [(i, " ".join(["w"] * (3 + i % 4)), "en", "web", 50)
            for i in range(20)]  # constant n_chars
    d = str(tmp_path_factory.mktemp("conf_degen"))
    pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    ).to_parquet(os.path.join(d, "documents.parquet"))
    r = REGISTRY["ml_conformal_interval"].fn(spark, d).collect()[0]
    assert r.beta == 0.0  # intercept-only fallback, no crash
    assert r.coverage is not None
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{d}/documents.parquet'")
    err = compare_one(spark, con, REGISTRY["ml_conformal_interval"], d)
    assert err is None or err.startswith("ok:"), err


# --------------------------------------------------- glob filter


def test_glob_filter_decoys_are_load_bearing(spark):
    """Negative control: the planted decoys must actually poison an
    unfiltered recursive read — otherwise the entry certifies nothing."""
    import pytest

    from bigdata_electricity_spark.sources.sinks import run_dir

    REGISTRY["scan_path_glob_filter"].fn(spark, SF0001).collect()
    out_dir = run_dir("glob_docs", SF0001)
    with pytest.raises(Exception):
        # decoy.csv has no parquet footer -> the unfiltered read fails
        spark.read.option("recursiveFileLookup", "true").parquet(out_dir).collect()


# --------------------------------------------------- Poisson GLM


@pytest.mark.heavy
def test_poisson_glm_recovers_planted_exponential_rates(spark, tmp_path_factory):
    """Plant counts y ~ round(exp(2 + 0.1x)) per hour-of-day: IRLS must
    recover (a, b) near (2, 0.1) after 2 rounds, deviance near 0, and
    the engine must match a direct Python IRLS on the same table."""
    import datetime as dt
    import duckdb

    from parity import compare_one

    B = dt.datetime(2024, 4, 1)
    rows = []
    eid = 0
    for day in range(2):
        for hod in range(24):
            lam = math.exp(2.0 + 0.1 * hod)
            n = int(round(lam))
            for j in range(n):
                eid += 1
                rows.append(
                    (eid, B + dt.timedelta(days=day, hours=hod,
                                           seconds=j % 3600),
                     1 + j % 5, "view", 1.0, "{}")
                )
    d = str(tmp_path_factory.mktemp("poisson"))
    _write_events(d, rows)
    got = REGISTRY["ml_poisson_glm_irls"].fn(spark, d).collect()
    final = got[-1]
    assert abs(final.intercept - 2.0) < 0.05, final
    assert abs(final.slope - 0.1) < 0.005, final
    assert got[-1].deviance <= got[0].deviance + 1e-9

    # direct python IRLS on the same (x, y) table
    xy = duckdb.connect().execute(
        f"""SELECT CAST(hour(h) AS DOUBLE), y FROM (
              SELECT date_trunc('hour', ts) h, CAST(COUNT(*) AS DOUBLE) y
              FROM '{d}/events.parquet' GROUP BY 1)"""
    ).fetchall()
    a = _hr(math.log(sum(y for _, y in xy) / len(xy)), 9)
    b = 0.0
    for _ in range(2):
        sw = swx = swz = swxz = swxx = 0.0
        for x, y in xy:
            mu = math.exp(a + b * x)
            z = (a + b * x) + (y - mu) / mu
            sw += mu
            swx += mu * x
            swz += mu * z
            swxz += mu * x * z
            swxx += mu * x * x
        b = _hr((sw * swxz - swx * swz) / (sw * swxx - swx * swx), 9)
        a = _hr((swz - b * swx) / sw, 9)
    assert abs(final.intercept - _hr(a, 6)) < 1e-4
    assert abs(final.slope - _hr(b, 6)) < 1e-4

    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{d}/events.parquet'")
    err = compare_one(spark, con, REGISTRY["ml_poisson_glm_irls"], d)
    assert err is None or err.startswith("ok:"), err


def test_poisson_glm_runs_and_deviance_decreases_on_real_data(spark):
    got = REGISTRY["ml_poisson_glm_irls"].fn(spark, SF0001).collect()
    assert [r.irls_round for r in got] == [1, 2]
    assert got[1].deviance <= got[0].deviance + 1e-6


# --------------------------------------------------- AMS F2


def test_ams_matches_direct_sign_sums_and_estimates_sanely(spark):
    import duckdb
    import hashlib

    rows = duckdb.connect().execute(
        f"SELECT user_id FROM '{SF0001}/events.parquet'"
    ).fetchall()
    sums = [0.0] * 8
    counts: dict[int, int] = {}
    for (uid,) in rows:
        h = int(hashlib.md5(f"ams{uid}".encode()).hexdigest()[:8], 16)
        for d in range(8):
            sums[d] += 1.0 if (h >> d) % 2 == 0 else -1.0
        counts[uid] = counts.get(uid, 0) + 1
    f2 = float(sum(c * c for c in counts.values()))
    est = sum(s * s for s in sums) / 8.0
    r = REGISTRY["sketch_ams_second_moment"].fn(spark, SF0001).collect()[0]
    assert r.n_keys == len(counts)
    assert r.exact_f2 == int(f2)
    assert r.est_f2 == int(math.floor(est))
    assert abs(r.rel_error - abs(est - f2) / f2) < 1e-6
    # 8 averaged draws: typical error well under 1 — catches a broken
    # sign hash (which would inflate the estimate toward n^2)
    assert r.rel_error < 0.75


def test_lateral_limit_decorrelation_trap_pinned(spark, tmp_path_factory):
    """ENGINE TRAP regression (found by the warehouse edge net): with a
    width-widened customer.c_nationkey (BIGINT vs nation's INT), the
    NAIVE lateral-with-LIMIT query silently compiles the limit as
    GLOBAL (2 rows total); the entry's both-sides-CAST form must stay
    per-group correct on the same fixture."""
    import duckdb

    from parity import compare_one

    src = SF0001
    d = str(tmp_path_factory.mktemp("lat_widen"))
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        base = pd.read_parquet(f"{src}/{t}.parquet")
        if t == "customer":
            base = base.assign(c_nationkey=base["c_nationkey"].astype("int64"))
        base.to_parquet(os.path.join(d, f"{t}.parquet"), coerce_timestamps="us")
    # the naive form goes global on this image — if this ever FAILS,
    # the upstream bug was fixed and the entry's casts can be dropped
    spark.read.parquet(f"{d}/nation.parquet").createOrReplaceTempView("nation")
    spark.read.parquet(f"{d}/customer.parquet").createOrReplaceTempView("customer")
    naive = spark.sql(
        """SELECT n.n_name, t.c_custkey
           FROM nation n,
                LATERAL (SELECT c_custkey FROM customer c
                         WHERE c.c_nationkey = n.n_nationkey
                         ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t"""
    ).count()
    assert naive == 2, f"upstream lateral bug fixed? naive={naive}"
    # the shipped entry is immune
    got = REGISTRY["sqltext_lateral_topn_per_group"].fn(spark, d).count()
    assert got == 50, got
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet'")
    err = compare_one(spark, con, REGISTRY["sqltext_lateral_topn_per_group"], d)
    assert err is None or err.startswith("ok:"), err


# --------------------------------------------------- KMV overlap


def test_kmv_matches_direct_sketch_replay(spark):
    import duckdb
    import hashlib

    rows = duckdb.connect().execute(
        f"SELECT DISTINCT event_type, user_id FROM '{SF0001}/events.parquet'"
    ).fetchall()
    sets: dict[str, set[int]] = {}
    for et, uid in rows:
        sets.setdefault(et, set()).add(uid)
    hv = {
        uid: int(hashlib.md5(f"kmv{uid}".encode()).hexdigest()[:12], 16)
        / 281474976710656.0
        for uid in {u for s in sets.values() for u in s}
    }
    sk = {
        et: set(sorted(s, key=lambda u: (hv[u], u))[:64]) for et, s in sets.items()
    }
    got = {(r.type_a, r.type_b): r for r in
           REGISTRY["sketch_kmv_audience_overlap"].fn(spark, SF0001).collect()}
    types = sorted(sets)
    n_pairs = len(types) * (len(types) - 1) // 2
    assert len(got) == n_pairs
    for i, ta in enumerate(types):
        for tb in types[i + 1:]:
            union_sk = sorted(sk[ta] | sk[tb], key=lambda u: (hv[u], u))[:64]
            k = min(len(union_sk), 64)
            both = sum(1 for u in union_sk if u in sk[ta] and u in sk[tb])
            j_est = both / k
            inter = len(sets[ta] & sets[tb])
            j_true = inter / len(sets[ta] | sets[tb])
            r = got[(ta, tb)]
            assert abs(r.jaccard_est - j_est) < 1e-6, (ta, tb, r, j_est)
            assert abs(r.jaccard_true - j_true) < 1e-6
            # the sketch must be informative: error bounded well below
            # the trivial all-or-nothing guess
            assert r.abs_err < 0.35


# --------------------------------------------------- max concurrency


@pytest.mark.heavy
def test_max_concurrency_planted_closed_interval_convention(spark, tmp_path_factory):
    import datetime as dt

    B = dt.datetime(2024, 5, 1, 10, 0, 0)
    mins = lambda m: B + dt.timedelta(minutes=m)  # noqa: E731
    rows = []
    # three sessions: u1 [0,20], u2 [20,40] (touches u1's end exactly),
    # u3 [10,15] — closed-interval convention: at t=20 u1 and u2 BOTH
    # count (peak 2 also at t in [10,15] where u1+u3 overlap) -> the
    # earliest peak instant is 10:10
    rows += [(1, mins(0), 1, "view", 1.0, "{}"), (2, mins(20), 1, "view", 1.0, "{}")]
    rows += [(3, mins(20), 2, "view", 1.0, "{}"), (4, mins(40), 2, "view", 1.0, "{}")]
    rows += [(5, mins(10), 3, "view", 1.0, "{}"), (6, mins(15), 3, "view", 1.0, "{}")]
    d = str(tmp_path_factory.mktemp("conc"))
    _write_events(d, rows)
    r = REGISTRY["intervals_max_concurrency"].fn(spark, d).collect()[0]
    assert r.n_sessions == 3
    assert r.peak_concurrency == 2
    assert r.peak_ts_us == int(mins(10).timestamp() * 1_000_000)


def test_max_concurrency_matches_direct_sweep_on_real_data(spark):
    import duckdb

    rows = duckdb.connect().execute(
        f"SELECT event_id, ts, user_id, event_type FROM '{SF0001}/events.parquet'"
    ).fetchall()
    by_user: dict[int, list] = {}
    for eid, ts, uid, _et in rows:
        by_user.setdefault(uid, []).append((ts, eid))
    ivs = []
    for uid, evs in by_user.items():
        evs.sort()
        cur = [evs[0]]
        for prev, nxt in zip(evs, evs[1:]):
            if int((nxt[0] - prev[0]).total_seconds()) > 1800:
                ivs.append(cur)
                cur = []
            cur.append(nxt)
        ivs.append(cur)
    pts: dict[int, list[int]] = {}
    for evs in ivs:
        s = int(min(t for t, _ in evs).timestamp() * 1_000_000)
        e = int(max(t for t, _ in evs).timestamp() * 1_000_000)
        pts.setdefault(s, [0, 0])[0] += 1
        pts.setdefault(e, [0, 0])[1] += 1
    s_run = e_run = 0
    best, best_ts = -1, None
    for t in sorted(pts):
        ns, ne = pts[t]
        c = (s_run + ns) - e_run
        s_run += ns
        e_run += ne
        if c > best:
            best, best_ts = c, t
    r = REGISTRY["intervals_max_concurrency"].fn(spark, SF0001).collect()[0]
    assert r.n_sessions == len(ivs)
    assert r.n_instants == len(pts)
    assert r.peak_concurrency == best
    assert r.peak_ts_us == best_ts


# --------------------------------------------------- Croston


def test_croston_matches_direct_kernel_on_real_data(spark):
    import duckdb

    dd = duckdb.connect().execute(
        f"""SELECT l_partkey, CAST(l_shipdate AS DATE), SUM(l_quantity)
            FROM '{SF0001}/lineitem.parquet' GROUP BY 1, 2 ORDER BY 1, 2"""
    ).fetchall()
    by_part: dict[int, list] = {}
    for pk, d, q in dd:
        by_part.setdefault(pk, []).append((d, float(q)))
    got = {r.part_key: r for r in
           REGISTRY["forecast_croston_intermittent"].fn(spark, SF0001).collect()}
    n_checked = 0
    for pk, days in by_part.items():
        if len(days) < 3:
            assert pk not in got
            continue
        tail = days[-16:][::-1]  # newest first
        wz = [(q, 0.8 ** k) for k, (_, q) in enumerate(tail)]
        z = sum(q * w for q, w in wz) / sum(w for _, w in wz)
        gaps = [(d2 - d1).days for (d1, _), (d2, _) in zip(days, days[1:])]
        gtail = gaps[-16:][::-1]
        wp = [(g, 0.8 ** k) for k, g in enumerate(gtail)]
        p = sum(g * w for g, w in wp) / sum(w for _, w in wp)
        r = got[pk]
        assert r.n_demand_days == len(days)
        assert abs(r.z_demand - z) < 1e-5, (pk, r.z_demand, z)
        assert abs(r.p_interval - p) < 1e-5
        assert abs(r.croston_rate - _hr(z, 6) / _hr(p, 6)) < 1e-5
        n_checked += 1
    assert n_checked > 50  # non-vacuous


def test_croston_rate_is_demand_per_day_on_planted_pattern(spark, tmp_path_factory):
    """Constant demand 6 every 3 days -> z = 6, p = 3, rate = 2/day."""
    rows = []
    for k in range(12):
        rows.append((k + 1, 7, 1, k + 1, 6.0, 10.0, 0.0, 0.0, "N", "O",
                     pd.Timestamp("2024-01-01") + pd.Timedelta(days=3 * k)))
    d = str(tmp_path_factory.mktemp("croston"))
    pd.DataFrame(
        rows,
        columns=["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                 "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                 "l_returnflag", "l_linestatus", "l_shipdate"],
    ).to_parquet(os.path.join(d, "lineitem.parquet"), coerce_timestamps="us")
    r = REGISTRY["forecast_croston_intermittent"].fn(spark, d).collect()[0]
    assert (r.part_key, r.n_demand_days) == (7, 12)
    assert abs(r.z_demand - 6.0) < 1e-9
    assert abs(r.p_interval - 3.0) < 1e-9
    assert abs(r.croston_rate - 2.0) < 1e-9


# --------------------------------------------------- generalize-to-k


def test_generalize_to_k_picks_least_general_sufficient_level(spark, tmp_path_factory):
    import duckdb

    from parity import compare_one

    # 3 langs x 2 sources, 6 docs per (lang, source) cell, n_chars spread
    # over two 100-buckets of 3 each -> L0 k_min=3 (<5), L1/L2 k_min=6
    # (>=5) -> chosen = L1 (least general that meets k)
    rows = []
    i = 0
    for lang in ["en", "fr", "de"]:
        for source in ["web", "books"]:
            for j in range(6):
                rows.append((i, f"t{i}", lang, source, 50 + (j % 2) * 100))
                i += 1
    d = str(tmp_path_factory.mktemp("genk"))
    pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    ).to_parquet(os.path.join(d, "documents.parquet"))
    got = {r.level: r for r in
           REGISTRY["privacy_generalize_to_k"].fn(spark, d).collect()}
    assert not got["L0_lang_source_b100"].meets_k
    assert got["L0_lang_source_b100"].k_min == 3
    assert got["L1_lang_source_b1000"].meets_k and got["L1_lang_source_b1000"].chosen
    assert got["L2_lang_source"].meets_k and not got["L2_lang_source"].chosen
    assert got["L4_all"].k_min == 36
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{d}/documents.parquet'")
    err = compare_one(spark, con, REGISTRY["privacy_generalize_to_k"], d)
    assert err is None or err.startswith("ok:"), err


def test_generalize_to_k_no_level_sufficient_chooses_none(spark, tmp_path_factory):
    import duckdb

    from parity import compare_one

    rows = [(i, f"t{i}", "en", "web", 50) for i in range(3)]  # 3 docs total
    d = str(tmp_path_factory.mktemp("genk0"))
    pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    ).to_parquet(os.path.join(d, "documents.parquet"))
    got = REGISTRY["privacy_generalize_to_k"].fn(spark, d).collect()
    assert all(not r.meets_k for r in got)
    assert all(r.chosen is None for r in got)  # NULL pick propagates
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{d}/documents.parquet'")
    err = compare_one(spark, con, REGISTRY["privacy_generalize_to_k"], d)
    assert err is None or err.startswith("ok:"), err


# --------------------------------------------------- Kendall tau-b


def test_kendall_matches_direct_pair_count_on_real_data(spark):
    import duckdb

    con = duckdb.connect()
    cuts = con.execute(
        f"""SELECT quantile_cont(value,
               [{', '.join(str(b/10.0) for b in range(1, 10))}])
            FROM '{SF0001}/events.parquet'"""
    ).fetchone()[0]
    cuts = [_hr(c, 9) for c in cuts]
    rows = con.execute(
        f"SELECT hour(ts), value FROM '{SF0001}/events.parquet'"
    ).fetchall()
    cells: dict[tuple[int, int], int] = {}
    for h, v in rows:
        d = 1 + sum(1 for c in cuts if v > c)
        cells[(h, d)] = cells.get((h, d), 0) + 1
    conc = disc = 0
    items = list(cells.items())
    for (ha, da), ca in items:
        for (hb, db), cb in items:
            if hb > ha:
                if db > da:
                    conc += ca * cb
                elif db < da:
                    disc += ca * cb
    n = len(rows)
    tx = sum(r * (r - 1) / 2.0 for r in
             {h: sum(c for (hh, _), c in cells.items() if hh == h)
              for h in {h for h, _ in cells}}.values())
    ty = sum(s * (s - 1) / 2.0 for s in
             {d: sum(c for (_, dd), c in cells.items() if dd == d)
              for d in {d for _, d in cells}}.values())
    n0 = n * (n - 1) / 2.0
    tau = (conc - disc) / math.sqrt((n0 - tx) * (n0 - ty))
    r = REGISTRY["stats_kendall_tau_b"].fn(spark, SF0001).collect()[0]
    assert r.n_events == n
    assert r.n_concordant == conc and r.n_discordant == disc
    assert abs(r.tau_b - tau) < 1e-6
    assert -1.0 <= r.tau_b <= 1.0


def test_kendall_perfect_monotone_is_one(spark, tmp_path_factory):
    import datetime as dt
    import duckdb

    from parity import compare_one

    # 10 hours x 10 distinct values on the diagonal -> each hour its
    # own decile -> every cross-hour pair concordant, zero y-ties
    # across hours -> tau_b exactly 1
    B = dt.datetime(2024, 4, 1)
    rows = [(h * 10 + j, B + dt.timedelta(hours=h, minutes=j), 1, "view",
             float(h), "{}")
            for h in range(10) for j in range(5)]
    d = str(tmp_path_factory.mktemp("tau"))
    _write_events(d, rows)
    r = REGISTRY["stats_kendall_tau_b"].fn(spark, d).collect()[0]
    assert r.tau_b == 1.0
    assert r.n_discordant == 0
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{d}/events.parquet'")
    err = compare_one(spark, con, REGISTRY["stats_kendall_tau_b"], d)
    assert err is None or err.startswith("ok:"), err
