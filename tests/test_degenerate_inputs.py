"""Degenerate-input robustness: empty tables, single rows, all-null columns.

Operators must degrade to empty/identity results — not throw — because a
100 TB pipeline always contains an empty partition, date-hole, or
filtered-to-nothing branch somewhere.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType, LongType, StringType, StructField, StructType,
)

from bigdata_electricity_spark.operators import cleaning as C
from bigdata_electricity_spark.operators import dataframe_ops as O
from bigdata_electricity_spark.operators import dedup as D
from bigdata_electricity_spark.operators.reduction import aggregate_hourly
from bigdata_electricity_spark.operators.transformation import min_max_scale

DOC_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("text", StringType()),
])


def _empty_docs(spark):
    return spark.createDataFrame([], DOC_SCHEMA)


def test_dedup_ops_on_empty(spark):
    empty = _empty_docs(spark)
    assert D.exact_dup_groups(empty).count() == 0
    assert D.minhash_lsh_candidates(empty).count() == 0
    assert D.ngram_jaccard_pairs(empty).count() == 0


def test_dedup_single_doc(spark):
    one = spark.createDataFrame([(1, "just one document here")], DOC_SCHEMA)
    assert D.exact_dup_groups(one).count() == 1
    assert D.minhash_lsh_candidates(one).count() == 0  # no pair with itself


def test_cleaning_counts_on_empty(spark):
    schema = StructType(
        [StructField("DateTime", StringType())]
        + [StructField(c, StringType()) for c in C.NUM_COLS]
    )
    empty = spark.createDataFrame([], schema)
    stats = C.compute_before_stats(empty)
    assert stats.total_rows == 0
    assert stats.duplicate_timestamps == 0
    assert C.count_full_row_dups(empty) == 0


def test_hourly_agg_on_empty(spark):
    schema = StructType([
        StructField("DateTime", StringType()),
        StructField("Global_active_power", DoubleType()),
    ])
    empty = spark.createDataFrame([], schema).withColumn(
        "DateTime", F.col("DateTime").cast("timestamp")
    )
    out = aggregate_hourly(empty, num_cols=["Global_active_power"])
    assert out.count() == 0


def test_min_max_scale_on_empty_and_all_null(spark):
    schema = StructType([StructField("x", DoubleType())])
    empty = spark.createDataFrame([], schema)
    assert min_max_scale(empty, ["x"]).count() == 0  # min/max None → guard
    nulls = spark.createDataFrame([(None,), (None,)], schema)
    vals = [r["x_scaled"] for r in min_max_scale(nulls, ["x"]).collect()]
    assert vals == [0.0, 0.0]


def test_topk_and_argmax_on_empty(spark):
    schema = StructType([
        StructField("k", StringType()), StructField("v", DoubleType()),
    ])
    empty = spark.createDataFrame([], schema)
    assert O.top_k(empty, "v", 5).count() == 0
    row = O.argmax(empty, "k", "v").first()
    assert row["k"] is None and row["v"] is None  # max_by of nothing → null row


@pytest.mark.heavy
def test_insight_entries_survive_tiny_tables(spark, tmp_path_factory):
    """Run every entry added in the lifecycle/corpus-science round
    against a minimal synthetic sf_dir (2 users x 3 events, 2 orders,
    2 docs, 3 embeddings, 4 lineitems): none may throw — a 100 TB
    pipeline always has a filtered-to-nothing branch somewhere."""
    import numpy as np
    import pandas as pd

    from bigdata_electricity_spark.plans import REGISTRY

    d = tmp_path_factory.mktemp("tiny_sf")
    ts = pd.to_datetime(
        ["2024-01-01 00:00:01", "2024-01-01 00:10:00", "2024-01-02 05:00:00"]
    )
    pd.DataFrame(
        {
            "event_id": [1, 2, 3],
            "ts": ts,
            "user_id": [1, 1, 2],
            "event_type": ["view", "purchase", "click"],
            "value": [1.0, 2.0, 3.0],
            "props": ['{"k": 1}'] * 3,
        }
    ).to_parquet(d / "events.parquet", coerce_timestamps="us")
    pd.DataFrame(
        {
            "o_orderkey": [1, 2],
            "o_custkey": [10, 11],
            "o_orderstatus": ["F", "O"],
            "o_totalprice": [100.0, 200.0],
            "o_orderdate": pd.to_datetime(["1995-01-01", "1995-06-01"]),
            "o_orderpriority": ["1-URGENT", "2-HIGH"],
        }
    ).to_parquet(d / "orders.parquet", coerce_timestamps="us")
    pd.DataFrame(
        {
            "doc_id": [1, 2],
            "text": ["a b a b", "c"],
            "lang": ["en", "en"],
            "source": ["src0", "src1"],
            "n_chars": [7, 1],
        }
    ).to_parquet(d / "documents.parquet")
    pd.DataFrame(
        {
            "vec_id": [0, 1, 2],
            "embedding": [np.ones(4, dtype=np.float32) * (i + 1) for i in range(3)],
            "label": [3, 3, 1],
        }
    ).to_parquet(d / "embeddings.parquet")
    pd.DataFrame(
        {
            "l_orderkey": [1, 1, 2, 2],
            "l_partkey": [7, 8, 7, 8],
            "l_suppkey": [1, 1, 2, 2],
            "l_linenumber": [1, 2, 1, 2],
            "l_quantity": [1.0, 2.0, 1.0, 2.0],
            "l_extendedprice": [10.0, 20.0, 10.0, 20.0],
            "l_discount": [0.0, 0.1, 0.0, 0.1],
            "l_tax": [0.0] * 4,
            "l_returnflag": ["N"] * 4,
            "l_linestatus": ["O"] * 4,
            "l_shipdate": pd.to_datetime(["1995-02-01"] * 4),
        }
    ).to_parquet(d / "lineitem.parquet", coerce_timestamps="us")

    new_entries = [
        "survival_session_km", "intervals_user_active_runs",
        "skyline_customer_frontier", "anomaly_seasonal_residual",
        "dedup_segment_exact", "vocab_bpe_merges",
        "embedding_pca_top_component", "graph_kcore_peel",
        "stats_bootstrap_ci_mean", "stats_mutual_information",
        "ml_gd_linreg_rounds", "ml_isotonic_fit", "events_periodogram",
        "privacy_l_diversity", "abtest_sprt_sequential",
        "events_markov_stationary", "text_bigram_perplexity",
        "sim_filtered_topk", "featurestore_pit_features",
        "sample_kcenter_greedy", "events_haar_multiscale",
        "funnel_absorbing_conversion", "forecast_snaive_backtest",
        "events_trending_rank_wow", "ingest_quarantine_bad_csv",
        "warehouse_backlog_aging", "asof_join_click_next_purchase",
        "maintain_incremental_join", "sim_pq_adc_topk",
        "graph_label_propagation", "vocab_bpe_encode_stats",
        "stats_spearman_rank_corr", "corpus_heaps_law_fit",
        "export_xml_roundtrip", "sql_collation_groupby",
        # r6 additions
        "dedup_containment_best",
        "corpus_zipf_slope", "events_anomaly_mad",
        "events_drift_cusum_chart",
        "forecast_theilsen_daily_trend",
        "maintain_incremental_sessions", "privacy_t_closeness",
        # (profile_data_card_all_tables reads all ten tables — the tiny
        # fixture ships five, so it is exercised at the real SFs instead)
        "text_kneser_ney_bigrams", "ml_naive_bayes_lang",
        "ingest_binary_files", "map_function_zoo",
        "events_rolling_regression_slope",
        "events_session_window_dynamic_gap", "observe_export_metrics",
        "mining_association_rules", "normalize_quantile_match_by_source",
        "maintain_vacuum_orphan_audit", "corpus_source_overlap_matrix",
        "transpose_priority_metrics",
        # (sim_sorted_neighborhood_pairs reads part — tiny fixture has no
        # part table, so it is exercised at the real SFs instead)
    ]
    for name in new_entries:
        rows = REGISTRY[name].fn(spark, str(d)).collect()
        assert isinstance(rows, list), name

    # a few semantic spot checks on the tiny world
    sky = REGISTRY["skyline_customer_frontier"].fn(spark, str(d)).collect()
    assert [r["custkey"] for r in sky] == [11]  # dominates on both axes
    seg = {r["doc_id"]: r for r in REGISTRY["dedup_segment_exact"].fn(spark, str(d)).collect()}
    assert seg[1]["n_kept"] == 1 and seg[2]["n_kept"] == 1
    kc = REGISTRY["graph_kcore_peel"].fn(spark, str(d)).collect()
    assert all(r["n_edges_after"] == 0 for r in kc)  # 1 edge can't be a 3-core


def test_session_family_exact_boundary_ties(spark, tmp_path_factory):
    """Pin the tie rule for EVERY session-family entry on a fixture of
    events landing EXACTLY gap-seconds apart — the measure-zero case
    ns-precision testdata never exercises, and the class that produced
    round 6's only bug (the builtin ``session_window`` merges an event
    at exactly the session end; the oracles originally split).

    Each oracled entry is checked Spark-vs-its-own-DuckDB-oracle with
    the driver's order-insensitive compare; on top of that the builtin
    static/dynamic entries get non-vacuous structural assertions that
    the ties really merged (so a future 'both sides split' regression
    can't silently pass the self-consistency check).
    """
    import datetime as dt
    import os

    import duckdb
    import pandas as pd

    from parity import compare_one  # driver-compare replica

    from bigdata_electricity_spark.plans import REGISTRY

    B = dt.datetime(2024, 3, 1, 0, 0, 0)
    m = lambda mins, micros=0: B + dt.timedelta(minutes=mins, microseconds=micros)
    rows = [
        # user 1 — static tie chain: 30:00 gap is exactly the timeout
        # (merge, inclusive boundary), 30:01 gap splits.
        (1, m(0), 1, "view"), (2, m(30), 1, "view"),
        (3, m(60) + dt.timedelta(seconds=1), 1, "view"),
        # user 2 — dynamic tie chain: purchase at :04 proposes end :49;
        # the view AT :49 merges and extends to 49+15=:64; the view AT
        # :64 merges again (tie chains); :79:00.000001 splits.
        (4, m(0), 2, "view"), (5, m(4), 2, "purchase"),
        (6, m(49), 2, "view"), (7, m(64), 2, "view"),
        (8, m(79, 1), 2, "view"),
        # user 3 — sub-second offsets: .25 base, exactly 1800.0s gap
        # (merge), then +1800.5s (builtin splits exactly; the manual
        # twin's truncated unix diff = 1800 merges — each entry must
        # agree with ITS OWN oracle either way).
        (9, m(0, 250000), 3, "view"), (10, m(30, 250000), 3, "view"),
        (11, m(60, 750000), 3, "view"),
        # user 4 — singleton.
        (12, m(5), 4, "purchase"),
    ]
    d = tmp_path_factory.mktemp("tie_sf")
    pd.DataFrame(
        [(eid, ts, uid, et, 1.0, "{}") for eid, ts, uid, et in rows],
        columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
    ).to_parquet(os.path.join(d, "events.parquet"), coerce_timestamps="us")

    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{d}/events.parquet'")
    oracled = [
        "events_sessionization", "events_session_window_builtin",
        "events_session_window_dynamic_gap", "user_engagement_segments",
        "survival_session_km", "maintain_incremental_sessions",
    ]
    for name in oracled:
        err = compare_one(spark, con, REGISTRY[name], str(d))
        assert err is None or err.startswith("ok:"), (name, err)

    # Non-vacuous: the static tie MERGED (user 1 → [2 events, 1 event]).
    builtin = REGISTRY["events_session_window_builtin"].fn(spark, str(d))
    u1 = [r.n_events for r in builtin.collect() if r.user_id == 1]
    assert u1 == [2, 1], u1
    # The dynamic tie CHAINED (user 2 → [4 events ending :79, then 1]).
    dyn = REGISTRY["events_session_window_dynamic_gap"].fn(spark, str(d))
    u2 = [(r.n_events, r.session_end) for r in dyn.collect() if r.user_id == 2]
    assert u2 == [(4, "2024-03-01 01:19:00"), (1, "2024-03-01 01:34:00")], u2
    # Sub-second exactness: user 3's 1800.5s gap splits in the builtin...
    u3b = [r.n_events for r in builtin.collect() if r.user_id == 3]
    assert u3b == [2, 1], u3b
    # ...but merges in the manual twin (truncated unix_timestamp diff).
    manual = REGISTRY["events_sessionization"].fn(spark, str(d))
    u3m = sorted(r.n_events for r in manual.collect() if r.user_id == 3)
    assert u3m == [3], u3m

    # The streaming twin (rows-only, append mode) emits only sessions
    # the watermark has closed — a SUBSET of the batch builtin, but any
    # session it does emit must match exactly (same start + n_events),
    # i.e. the watermark path applies the same inclusive tie rule. The
    # user-1 static tie session IS emitted (later events advance the
    # watermark past it), so the subset check is non-vacuous on ties.
    batch = {
        (r.user_id, r.session_start): r.n_events for r in builtin.collect()
    }
    stream = REGISTRY["streaming_session_window"].fn(spark, str(d)).collect()
    assert stream, "watermark emitted no sessions at all"
    for r in stream:
        assert batch.get((r.user_id, r.session_start)) == r.n_events, r
    assert any(r.user_id == 1 and r.n_events == 2 for r in stream), stream
