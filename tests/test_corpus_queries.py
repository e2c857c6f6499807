"""Semantics tests for the corpus-science entries: the BPE merge fold
on planted words (the greedy left-to-right edge cases) and segment-dedup
reconstruction round-trips.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from bigdata_electricity_spark.plans import REGISTRY
from bigdata_electricity_spark.plans.corpus_queries import _bpe_merge_step

SF_DIR = "/root/testdata/sf0.001"


@pytest.mark.parametrize(
    "word,lhs,rhs,want",
    [
        ("aaaa", "a", "a", "aa aa"),  # greedy: merged pair can't re-fuse this round
        ("aaa", "a", "a", "aa a"),
        ("aab", "a", "a", "aa b"),
        ("banana", "a", "n", "b an an a"),
        ("abb", "a", "b", "ab b"),
        ("x", "a", "b", "x"),  # 1-symbol word: fold returns the element
        ("ab", "b", "a", "a b"),  # pair order matters
    ],
)
def test_bpe_fold_greedy_semantics(spark, word, lhs, rhs, want):
    df = spark.createDataFrame([(word,)], ["word"]).select(
        F.split(F.trim(F.regexp_replace("word", "(.)", "$1 ")), " ").alias("syms")
    )
    out = df.select(
        F.aggregate(
            F.col("syms"), F.lit(""), _bpe_merge_step(F.lit(lhs), F.lit(rhs))
        ).alias("sym")
    ).collect()[0]["sym"]
    assert out == want


def test_bpe_merges_deterministic_and_distinct(spark):
    rows = REGISTRY["vocab_bpe_merges"].fn(spark, SF_DIR).collect()
    assert [r["merge_round"] for r in rows] == [1, 2, 3]
    merges = [(r["lhs"], r["rhs"]) for r in rows]
    assert len(set(merges)) == 3  # a merged pair can't be the best again
    for r in rows:
        assert r["merged"] == r["lhs"] + r["rhs"]
        assert r["pair_count"] > 0


def test_segment_dedup_reconstruction_roundtrip(spark):
    """Docs that keep all segments must reconstruct to their exact text
    (fingerprint equality), and kept counts must match a pandas dedup."""
    out = {
        r["doc_id"]: r
        for r in REGISTRY["dedup_segment_exact"].fn(spark, SF_DIR).collect()
    }
    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    import hashlib

    seen: set[str] = set()
    # first-occurrence order is (doc_id, seg_idx) — iterate in that order
    for _, row in docs.sort_values("doc_id").iterrows():
        toks = row["text"].split(" ")
        segs = [" ".join(toks[i : i + 16]) for i in range(0, len(toks), 16)]
        kept = []
        for s in segs:
            if s not in seen:
                seen.add(s)
                kept.append(s)
        got = out[row["doc_id"]]
        assert got["n_segs"] == len(segs)
        assert got["n_kept"] == len(kept)
        want_fp = hashlib.md5(" ".join(kept).encode()).hexdigest()
        assert got["kept_fp"] == want_fp
        if len(kept) == len(segs):
            # no segment lost -> reconstruction is the original text
            assert hashlib.md5(row["text"].encode()).hexdigest() == want_fp


def test_bigram_perplexity_matches_python(spark):
    """Recompute the interpolated bigram LM and per-doc perplexity in
    pure Python and compare the top-10 selection."""
    import collections
    import math

    rows = REGISTRY["text_bigram_perplexity"].fn(spark, SF_DIR).collect()
    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    cvw: collections.Counter = collections.Counter()
    uni: collections.Counter = collections.Counter()
    seqs = {}
    for _, r in docs.iterrows():
        t = r["text"].split(" ")
        seqs[r["doc_id"]] = t
        uni.update(t)
        cvw.update(zip(t, t[1:]))
    cv = collections.Counter()
    for (v, _), c in cvw.items():
        cv[v] += c
    n = sum(uni.values())
    ppl = {}
    for did, t in seqs.items():
        nll = [
            -math.log(0.8 * cvw[(v, w)] / cv[v] + 0.2 * uni[w] / n)
            for v, w in zip(t, t[1:])
        ]
        ppl[did] = (
            len(nll),
            math.floor(math.exp(sum(nll) / len(nll)) * 1e4 + 0.5) / 1e4,
        )
    want = sorted(ppl.items(), key=lambda kv: (-kv[1][1], kv[0]))[:10]
    got = [(r["doc_id"], (r["n_bigrams"], r["ppl"])) for r in rows]
    assert got == want


def _rolling_replica(texts, W=8):
    """Driver-side replay of dedup_substring_rolling's semantics:
    first-occurrence window flags in (doc_id, start) order, token kept
    iff some covering window is non-duplicate."""
    import hashlib

    seen: set[str] = set()
    flags = {}
    for d, t in sorted(texts):
        toks = t.split(" ")
        smax = max(len(toks) - W, 0)
        for s in range(smax + 1):
            w = " ".join(toks[s:s + W])
            flags[(d, s)] = w in seen
            seen.add(w)
    out = {}
    for d, t in sorted(texts):
        toks = t.split(" ")
        n = len(toks)
        smax = max(n - W, 0)
        kept = [
            toks[p]
            for p in range(n)
            if any(
                not flags[(d, s)]
                for s in range(max(p - W + 1, 0), min(p, smax) + 1)
            )
        ]
        out[d] = (
            n,
            smax + 1,
            sum(flags[(d, s)] for s in range(smax + 1)),
            len(kept),
            hashlib.md5(" ".join(kept).encode()).hexdigest(),
        )
    return out


def test_rolling_dedup_catches_shifted_duplicate_segment_misses(spark, tmp_path):
    """r11 VERDICT task 1, the planted miss: doc 1 embeds a 32-token
    passage of doc 0 at offset 3 — off every 16-token boundary, so
    `dedup_segment_exact` provably keeps ALL of doc 1 (no segment of
    the shifted copy equals any segment of the original), while the
    rolling-window path must clip the passage interior and keep the
    first occurrence (doc 0) intact."""
    a = [f"a{i}" for i in range(40)]
    texts = [
        (0, " ".join(a)),
        (1, " ".join(["j0", "j1", "j2"] + a[:32] + ["j3", "j4"])),
        (2, " ".join(f"u{i}" for i in range(30))),
    ]
    pd.DataFrame(
        {
            "doc_id": [d for d, _ in texts],
            "text": [t for _, t in texts],
            "lang": ["en"] * 3,
            "source": ["s"] * 3,
            "n_chars": [len(t) for _, t in texts],
        }
    ).to_parquet(tmp_path / "documents.parquet")

    seg = {
        r["doc_id"]: r
        for r in REGISTRY["dedup_segment_exact"].fn(spark, str(tmp_path)).collect()
    }
    # the segment path MISSES the shifted copy: every doc keeps everything
    assert all(seg[d]["n_kept"] == seg[d]["n_segs"] for d in (0, 1, 2))

    got = {
        r["doc_id"]: (
            r["n_tokens"], r["n_windows"], r["n_dup_windows"],
            r["n_kept"], r["kept_fp"],
        )
        for r in REGISTRY["dedup_substring_rolling"].fn(spark, str(tmp_path)).collect()
    }
    assert got == _rolling_replica(texts)
    # first occurrence intact; unrelated doc intact
    assert got[0][3] == got[0][0] and got[0][2] == 0
    assert got[2][3] == got[2][0] and got[2][2] == 0
    # the shifted copy is caught: duplicate windows flagged, interior
    # clipped (tokens covered only by in-passage windows drop)
    assert got[1][2] > 0
    assert 0 < got[1][3] < got[1][0]


def test_rolling_dedup_replica_on_corpus(spark):
    """Differential on the real sf0.001 corpus: Spark output equals the
    driver-side replay for every document (exercises short docs n <= W,
    within-doc repeats, and cross-doc first-occurrence ordering)."""
    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    texts = [(int(r["doc_id"]), r["text"]) for _, r in docs.iterrows()]
    got = {
        r["doc_id"]: (
            r["n_tokens"], r["n_windows"], r["n_dup_windows"],
            r["n_kept"], r["kept_fp"],
        )
        for r in REGISTRY["dedup_substring_rolling"].fn(spark, SF_DIR).collect()
    }
    want = _rolling_replica(texts)
    assert got == want
    # non-vacuous: the corpus has duplicated substrings to clip
    assert any(v[2] > 0 for v in want.values())
    assert any(v[3] < v[0] for v in want.values())


def test_incremental_substring_clip_planted(spark, tmp_path):
    """Ingest-gate twin: a batch doc quoting a CORPUS passage at an
    arbitrary offset is clipped (interior dropped, edges kept); a novel
    batch doc is untouched; corpus docs never appear in the output; and
    the per-doc relation equals a driver-side replay of the
    corpus-window rule."""
    import hashlib

    a = [f"a{i}" for i in range(40)]
    rows = [
        # corpus (doc_id % 7 != 0)
        (1, " ".join(a)),
        (2, " ".join(f"c{i}" for i in range(25))),
        # batch (doc_id % 7 == 0): 14 quotes corpus doc 1 at offset 5;
        # 21 is entirely novel; 28 is a verbatim full copy of doc 2
        (14, " ".join(["q0", "q1", "q2", "q3", "q4"] + a[4:28] + ["q5"])),
        (21, " ".join(f"z{i}" for i in range(30))),
        (28, " ".join(f"c{i}" for i in range(25))),
    ]
    pd.DataFrame(
        {
            "doc_id": [d for d, _ in rows],
            "text": [t for _, t in rows],
            "lang": ["en"] * len(rows),
            "source": ["s"] * len(rows),
            "n_chars": [len(t) for _, t in rows],
        }
    ).to_parquet(tmp_path / "documents.parquet")

    got = {
        r["doc_id"]: (r["n_tokens"], r["n_windows"], r["n_dup_windows"],
                      r["n_kept"], r["kept_fp"])
        for r in REGISTRY["dedup_substring_incremental"]
        .fn(spark, str(tmp_path)).collect()
    }
    assert set(got) == {14, 21, 28}  # batch docs only

    # driver-side replay: corpus window set, then the coverage rule
    W = 8
    corpus_w = set()
    for d, t in rows:
        if d % 7 != 0:
            toks = t.split(" ")
            for s in range(max(len(toks) - W, 0) + 1):
                corpus_w.add(" ".join(toks[s:s + W]))
    for d, t in rows:
        if d % 7 != 0:
            continue
        toks = t.split(" ")
        n = len(toks)
        smax = max(n - W, 0)
        dup = {s: (" ".join(toks[s:s + W]) in corpus_w) for s in range(smax + 1)}
        kept = [
            toks[p] for p in range(n)
            if any(not dup[s] for s in range(max(p - W + 1, 0), min(p, smax) + 1))
        ]
        assert got[d] == (
            n, smax + 1, sum(dup.values()), len(kept),
            hashlib.md5(" ".join(kept).encode()).hexdigest(),
        ), d
    # the planted quote is caught and clipped, the novel doc untouched,
    # the verbatim copy fully dropped
    assert got[14][2] > 0 and 0 < got[14][3] < got[14][0]
    assert got[21][2] == 0 and got[21][3] == got[21][0]
    assert got[28][3] == 0


def test_window_index_width_mismatch_raises(spark):
    """The window grain is baked into the persisted index — serving at
    a different width must raise, like the other persisted indexes."""
    import pytest

    from bigdata_electricity_spark.operators.dedup import (
        build_window_index,
        clip_against_index,
    )

    corpus = spark.createDataFrame([(1, "a b c d e f g h i j")],
                                   "doc_id long, text string")
    batch = spark.createDataFrame([(14, "a b c d e f g h i j")],
                                  "doc_id long, text string")
    index = build_window_index(corpus, width=8)
    with pytest.raises(ValueError, match="width"):
        clip_against_index(index, batch, width=4)
    out = clip_against_index(index, batch, width=8).collect()
    assert out[0]["n_kept"] == 0  # verbatim copy fully clipped


def test_decon_substring_clip_planted(spark, tmp_path):
    """Remediation semantics: a training doc quoting an eval passage at
    an arbitrary offset loses the passage interior; a training doc
    overlapping the eval suite by fewer than W=8 consecutive tokens (an
    organic n-gram coincidence) is untouched; eval docs never appear."""
    e = [f"e{i}" for i in range(30)]
    rows = [
        (0, " ".join(e), "src0"),                                   # eval
        (1, " ".join(["j0", "j1", "j2"] + e[3:23] + ["j3"]), "src1"),  # quote
        (2, " ".join(e[0:5] + [f"y{i}" for i in range(20)]), "src2"),  # 5-tok overlap
        (3, " ".join(f"z{i}" for i in range(15)), "src2"),          # clean
    ]
    pd.DataFrame(
        {
            "doc_id": [d for d, _, _ in rows],
            "text": [t for _, t, _ in rows],
            "lang": ["en"] * len(rows),
            "source": [s for _, _, s in rows],
            "n_chars": [len(t) for _, t, _ in rows],
        }
    ).to_parquet(tmp_path / "documents.parquet")
    got = {
        r["source"]: (r["n_docs"], r["n_contaminated_docs"],
                      r["n_tokens"], r["n_tokens_removed"])
        for r in REGISTRY["decon_substring_clip"].fn(spark, str(tmp_path)).collect()
    }
    assert set(got) == {"src1", "src2"}  # eval source never reported
    n1, c1, t1, rm1 = got["src1"]
    assert (n1, c1, t1) == (1, 1, 24) and 0 < rm1 < 24
    assert got["src2"] == (2, 0, 40, 0)  # sub-window overlap survives


def test_decon_neardup_flags_paraphrase_ngram_misses(spark, tmp_path):
    """r12 VERDICT task 4: the near-dup rung must flag a training doc
    whose text is an eval item with SENTENCE ORDER SHUFFLED — token-set
    Jaccard 1.0 but ZERO shared word 4-grams, so `decon_ngram_overlap`
    provably misses it (asserted here, not assumed). A genuinely
    unrelated doc stays unflagged, and a partial-vocabulary overlap doc
    (J < 0.5) stays below the threshold."""
    e = [f"w{i}" for i in range(16)]
    # paraphrase: reverse token order — every adjacent 4-gram differs
    # from every eval 4-gram (w3 w2 w1 w0 vs w0 w1 w2 w3, ...)
    para = list(reversed(e))
    rows = [
        (0, " ".join(e), "src0"),                                 # eval item
        (7, " ".join(para), "src1"),                              # paraphrase
        # 4 eval tokens INTERLEAVED with filler: J = 4/28 < 0.5 and no
        # 4 consecutive eval tokens, so no shared 4-gram either
        (14, " ".join(x for p in zip(e[:4], [f"q{i}" for i in range(12)])
                      for x in p) + " " + " ".join(f"q{i}" for i in range(4, 12)),
         "src1"),
        (21, " ".join(f"z{i}" for i in range(16)), "src2"),       # clean
    ]
    pd.DataFrame(
        {
            "doc_id": [d for d, _, _ in rows],
            "text": [t for _, t, _ in rows],
            "lang": ["en"] * len(rows),
            "source": [s for _, _, s in rows],
            "n_chars": [len(t) for _, t, _ in rows],
        }
    ).to_parquet(tmp_path / "documents.parquet")

    ngram = {
        r["source"]: r["n_contaminated"]
        for r in REGISTRY["decon_ngram_overlap"].fn(spark, str(tmp_path)).collect()
    }
    assert ngram.get("src1", 0) == 0 and ngram.get("src2", 0) == 0  # the miss

    near = {
        r["doc_id"]: (r["source"], r["n_eval_matches"], r["best_jaccard"])
        for r in REGISTRY["decon_neardup_overlap"].fn(spark, str(tmp_path)).collect()
    }
    assert set(near) == {7}, near        # ONLY the paraphrase is flagged
    assert near[7] == ("src1", 1, 1.0)   # J exactly 1.0 on the token set


def test_bounded_eval_fast_path_equals_index_probe(spark):
    """r13 optimization guard: the Arrow-stage bounded-eval fast path
    behind decon_neardup_overlap must produce exactly the matched-doc
    relation of the index-based probe it replaced — same doc set, same
    integer match counts, same unrounded best-Jaccard doubles (the j
    division is one IEEE-double op of identical integers on both
    paths)."""
    from pyspark.sql import functions as F

    from bigdata_electricity_spark.operators.dedup import (
        bounded_eval_jaccard_matches,
        incremental_jaccard_flags,
    )
    from bigdata_electricity_spark.sources.loaders import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    evalset = docs.filter(F.col("source") == "src0")
    train = docs.filter(F.col("source") != "src0")

    fast = {
        r["id"]: (r["source"], r["n_matches"], r["best_jaccard"])
        for r in bounded_eval_jaccard_matches(
            evalset, train, carry_cols=["source"], threshold=0.5
        ).collect()
    }
    src = {r["doc_id"]: r["source"] for r in train.collect()}
    slow = {
        r["id"]: (src[r["id"]], r["n_matches"], r["best_jaccard"])
        for r in incremental_jaccard_flags(evalset, train, threshold=0.5)
        .filter(F.col("is_dup"))
        .collect()
    }
    assert fast == slow
    assert fast, "non-vacuous: the dense fixture must have matches"


def test_decon_gates_fall_back_when_eval_contract_violated(spark, monkeypatch):
    """r14 (VERDICT r13 task 3): both decon rungs gate their
    driver-collected eval side at the bounded-eval cap. With the cap
    monkeypatched below the fixture's eval count, each entry must take
    its fully-distributed fallback plan — broadcast cross-join for the
    embedding queue (BroadcastNestedLoopJoin back in the plan, no
    MapInPandas), index probe for the near-dup rung (no MapInPandas) —
    and produce EXACTLY the rows of the fast path."""
    from bigdata_electricity_spark.plans import training_queries as tq

    sf = "/root/testdata/sf0.001"

    fast_emb = REGISTRY["decon_embedding_topk"].fn(spark, sf)
    assert "MapInPandas" in fast_emb._jdf.queryExecution().executedPlan().toString()
    fast_emb_rows = sorted(map(tuple, fast_emb.collect()))
    fast_near_rows = sorted(
        map(tuple, REGISTRY["decon_neardup_overlap"].fn(spark, sf).collect())
    )

    monkeypatch.setattr(tq, "_BOUNDED_EVAL_CAP", 1)

    slow_emb = REGISTRY["decon_embedding_topk"].fn(spark, sf)
    plan = slow_emb._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan
    assert "BroadcastNestedLoopJoin" in plan
    assert sorted(map(tuple, slow_emb.collect())) == fast_emb_rows

    slow_near = REGISTRY["decon_neardup_overlap"].fn(spark, sf)
    assert "MapInPandas" not in slow_near._jdf.queryExecution().executedPlan().toString()
    assert sorted(map(tuple, slow_near.collect())) == fast_near_rows
    assert fast_emb_rows, "non-vacuous"


def test_bounded_eval_handles_null_text_and_typed_carries(spark):
    """r13 ADVICE items: a NULL-text row on either side of
    bounded_eval_jaccard_matches must be dropped like the JVM index
    probe drops it (never a numpy TypeError on None), and a non-string
    carry column must come back with its own type, not a hard-coded
    string."""
    from bigdata_electricity_spark.operators.dedup import (
        bounded_eval_jaccard_matches,
    )

    evalset = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, None)], ["doc_id", "text"]
    )
    batch = spark.createDataFrame(
        [(10, "alpha beta gamma delta", 7), (11, None, 8),
         (12, "zz yy xx", 9)],
        ["doc_id", "text", "grp"],
    )
    out = bounded_eval_jaccard_matches(
        evalset, batch, carry_cols=["grp"], threshold=0.5
    )
    assert dict(out.dtypes)["grp"] == "bigint"
    rows = {r["id"]: (r["grp"], r["n_matches"], r["best_jaccard"]) for r in out.collect()}
    # doc 10 matches eval 1 (J = 3/4); NULL-text rows vanish silently.
    assert rows == {10: (7, 1, 0.75)}
