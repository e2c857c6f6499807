"""Pipeline-queries unit tests: PII redaction classes on planted
fixtures, chunking coverage invariants, quantization error bounds,
partition pruning in the physical plan, and JSONL round-trip fidelity.

The registry entries these back are oracle-checked end-to-end by
tools/parity.py; these tests pin the semantics the oracle can't see —
PII classes absent from testdata, the pruning plan shape, and the
chunk-overlap algebra.
"""

from __future__ import annotations

import pytest

import pyspark.sql.functions as F

from bigdata_electricity_spark.operators.text import PII_PATTERNS, redact_pii
from bigdata_electricity_spark.plans import REGISTRY

SF_DIR = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------

PII_FIXTURE = [
    # (raw, expected after full-ladder redaction)
    ("mail me at jo.do+spam@ex-ample.org today",
     "mail me at <EMAIL> today"),
    ("server 10.0.255.3 refused", "server <IPADDR> refused"),
    ("card 4111111111111111 declined", "card <CARD> declined"),
    ("call +1 (415) 555-0199 now", "call <PHONE> now"),
    ("call 415-555-0199 now", "call <PHONE> now"),
    ("room 42 floor 7", "room <NUMBER> floor <NUMBER>"),
    # Ordering: the email's digits must NOT be eaten by number/phone.
    ("a1b2@x9.io plus 123", "<EMAIL> plus <NUMBER>"),
    ("no pii here at all", "no pii here at all"),
]


def test_redact_pii_classes(spark):
    df = spark.createDataFrame(
        [(raw,) for raw, _ in PII_FIXTURE], ["raw"]
    ).select("raw", redact_pii(F.col("raw")).alias("red"))
    got = {r["raw"]: r["red"] for r in df.collect()}
    for raw, want in PII_FIXTURE:
        assert got[raw] == want, f"{raw!r} -> {got[raw]!r}, want {want!r}"


def test_redact_pii_single_class_selection(spark):
    df = spark.createDataFrame(
        [("ip 10.0.0.1 and 77 sheep",)], ["raw"]
    ).select(redact_pii(F.col("raw"), classes=("ipv4",)).alias("red"))
    assert df.collect()[0]["red"] == "ip <IPADDR> and 77 sheep"


def test_pii_patterns_are_re2_safe():
    """Patterns must stay in the Java-regex ∩ RE2 subset so the same
    string runs on Spark and RE2-based engines: no backrefs/lookaround."""
    for name, placeholder, pat in PII_PATTERNS:
        assert "(?=" not in pat and "(?!" not in pat and "\\1" not in pat, name
        assert not any(ch.isdigit() for ch in placeholder), name


# ---------------------------------------------------------------------------
# Chunking
# ---------------------------------------------------------------------------

def test_chunk_overlap_algebra(spark):
    """Chunk layout matches the reference fan-out exactly: starts at
    1, 25, 49, … (stride 24), chunk k holds min(32, n − 24k) tokens."""
    rows = (
        REGISTRY["chunk_documents_overlap"].fn(spark, SF_DIR)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("n_tokens").alias("tok_sum"),
            F.max("n_tokens").alias("tok_max"),
        )
        .collect()
    )
    from bigdata_electricity_spark.operators.text import normalize_text
    from bigdata_electricity_spark.sources.loaders import load_table

    true_counts = {
        r["doc_id"]: r["n"]
        for r in load_table(spark, SF_DIR, "documents")
        .select("doc_id", F.size(F.split(normalize_text(F.col("text")), " ")).alias("n"))
        .collect()
    }
    assert rows, "no chunks produced"
    for r in rows:
        n = true_counts[r["doc_id"]]
        expected = [min(32, n - s + 1) for s in range(1, n + 1, 24)]
        assert r["tok_max"] <= 32
        assert r["n_chunks"] == len(expected), r
        assert r["tok_sum"] == sum(expected), r


# ---------------------------------------------------------------------------
# Quantization
# ---------------------------------------------------------------------------

def test_quantization_error_bounded_by_half_step(spark):
    """Affine rounding guarantees |x - dq(q(x))| <= scale/2 for
    in-range values; q_lo/q_hi land on the 0..255 rails."""
    out = REGISTRY["quantize_embeddings_int8"].fn(spark, SF_DIR)
    from bigdata_electricity_spark.sources.loaders import load_table

    emb = load_table(spark, SF_DIR, "embeddings").select(
        "vec_id",
        (
            (F.array_max(F.transform("embedding", lambda x: x.cast("double")))
             - F.array_min(F.transform("embedding", lambda x: x.cast("double"))))
            / F.lit(255.0)
        ).alias("sc"),
    )
    joined = out.join(emb, "vec_id").collect()
    assert joined
    for r in joined:
        assert 0 <= r["q_lo"] <= r["q_hi"] <= 255
        assert r["max_abs_err"] <= r["sc"] / 2 + 1e-9, r


# ---------------------------------------------------------------------------
# Partition pruning
# ---------------------------------------------------------------------------

def test_partition_pruned_scan_plans_only_selected_days(spark):
    df = REGISTRY["scan_partition_pruned_day"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    # The day predicate must live in PartitionFilters (directory-level
    # pruning), not in the data Filter above the scan.
    pf = plan.split("PartitionFilters")[1][:300]
    assert "day" in pf
    # And the pruned read must actually skip the other ~27 directories.
    import glob

    from bigdata_electricity_spark.sources.sinks import run_dir

    n_dirs = len(glob.glob(f"{run_dir('events_by_day', SF_DIR)}/day=*"))
    assert n_dirs >= 25, "partitioned write produced too few day dirs"
    rows = df.collect()
    assert 1 <= len(rows) <= 3


def test_dynamic_partition_pruning_in_plan(spark):
    """The campaign-day predicate lives on the DIM side only; the fact
    scan must still be pruned — via a runtime dynamicpruning subquery on
    the partition column, not a static filter."""
    df = REGISTRY["scan_dynamic_partition_pruning"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan
    # The dynamic filter must sit in the fact scan's PartitionFilters.
    pf = plan.split("PartitionFilters")[1][:300]
    assert "dynamicpruning" in pf
    rows = df.collect()
    assert 1 <= len(rows) <= 2
    assert all(r.n_events >= 1 for r in rows)


# ---------------------------------------------------------------------------
# Cogroup merge — planted two-timeline fixture
# ---------------------------------------------------------------------------

def test_cogroup_windows_planted_fixture(spark):
    """Hand-built user timelines pin the trailing-30-min semantics the
    oracle EXISTS also encodes: boundary click at exactly -30min counts,
    -30min-1s does not, clicks strictly after the purchase do not."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        # user 1: click at -30min exactly → attributed
        (1, t0 - dt.timedelta(minutes=30), "click"),
        (1, t0, "purchase"),
        # user 2: click at -30min-1s → NOT attributed
        (2, t0 - dt.timedelta(minutes=30, seconds=1), "click"),
        (2, t0, "purchase"),
        # user 3: click AFTER the purchase → not attributed
        (3, t0 + dt.timedelta(seconds=1), "click"),
        (3, t0, "purchase"),
        # user 4: two purchases, one shared preceding click
        (4, t0 - dt.timedelta(minutes=5), "click"),
        (4, t0, "purchase"),
        (4, t0 + dt.timedelta(minutes=10), "purchase"),
        # user 5: clicks only → no output row
        (5, t0, "click"),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp_ntz, event_type string")
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        # Route through the registry fn by writing a mini events table
        # (the entry reads only events).
        ev.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
        out = {
            r.user_id: (r.n_purchases, r.n_attributed)
            for r in REGISTRY["cogroup_purchase_click_windows"].fn(spark, d).collect()
        }
    assert out == {1: (1, 1), 2: (1, 0), 3: (1, 0), 4: (2, 2)}


# ---------------------------------------------------------------------------
# JSONL export
# ---------------------------------------------------------------------------

def test_jsonl_roundtrip_preserves_rows(spark):
    from bigdata_electricity_spark.sources.loaders import load_table
    from bigdata_electricity_spark.sources.sinks import export_jsonl

    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    back = export_jsonl(docs, "/tmp/spark_graft_test_jsonl")
    assert back.schema == docs.schema
    a = {r["doc_id"]: r for r in docs.collect()}
    b = {r["doc_id"]: r for r in back.collect()}
    assert a == b


# ---------------------------------------------------------------------------
# Z-order layout
# ---------------------------------------------------------------------------

def test_morton_code_matches_python_reference(spark):
    from bigdata_electricity_spark.operators.layout import morton_code

    def py_morton(x, y, bits=16):
        z = 0
        for i in range(bits):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    pairs = [(0, 0), (1, 0), (0, 1), (5, 9), (1439, 1500), (65535, 65535)]
    df = spark.createDataFrame(pairs, ["x", "y"]).select(
        "x", "y", morton_code(F.col("x"), F.col("y")).alias("z")
    )
    for r in df.collect():
        assert r["z"] == py_morton(r["x"], r["y"]), (r["x"], r["y"])


def test_zorder_write_skips_files_on_second_dimension(spark, tmp_path):
    """The point of z-order: a predicate on the SECOND dimension
    (minute-of-day) touches fewer files than under a single-column
    user_id sort, where every file spans the full day."""
    import pyarrow.parquet as pq
    import glob

    from bigdata_electricity_spark.operators.layout import morton_code, zorder_write
    from bigdata_electricity_spark.sources.loaders import load_table

    ev = load_table(spark, SF_DIR, "events").select(
        "user_id", (F.hour("ts") * 60 + F.minute("ts")).cast("long").alias("m")
    )

    z_dir = str(tmp_path / "zorder")
    lin_dir = str(tmp_path / "linear")
    zorder_write(ev, z_dir, morton_code(F.col("user_id"), F.col("m")), n_files=8)
    (ev.repartitionByRange(8, "user_id").sortWithinPartitions("user_id")
       .write.mode("overwrite").parquet(lin_dir))

    def touched(dir_, lo=600, hi=660):
        n = 0
        for p in glob.glob(f"{dir_}/part-*.parquet"):
            t = pq.read_table(p, columns=["m"])
            mn, mx = (
                t["m"].to_pandas().min(),
                t["m"].to_pandas().max(),
            )
            if not (mx < lo or mn > hi):
                n += 1
        return n

    z_touched, lin_touched = touched(z_dir), touched(lin_dir)
    # Single-column sort: every file spans ~the whole day -> all 8 hit.
    # Z-order: the minute window lives in a subset of z-ranges.
    assert lin_touched >= 7, lin_touched
    assert z_touched <= lin_touched // 2, (z_touched, lin_touched)


# ---------------------------------------------------------------------------
# Arrow ANN twin
# ---------------------------------------------------------------------------

def test_arrow_topk_matches_hof_twin(spark):
    """The numpy-scored top-k must agree with the HOF-scored top-k:
    same ids in order, cosines within 1e-9 (summation-order slack)."""
    hof = REGISTRY["sim_topk_bruteforce"].fn(spark, SF_DIR).collect()
    arrow = REGISTRY["sim_topk_arrow"].fn(spark, SF_DIR).collect()
    assert [r["vec_id"] for r in hof] == [r["vec_id"] for r in arrow]
    for h, a in zip(hof, arrow):
        assert abs(h["cosine"] - a["cosine"]) <= 1e-6, (h, a)


def test_morton_roundtrip_property(spark):
    """Property: deinterleaving the Morton code recovers both inputs
    exactly for all 16-bit values (hypothesis-driven sample; the four
    domain corners are planted as @examples)."""
    from hypothesis import example, given, settings, strategies as st

    from bigdata_electricity_spark.operators.layout import morton_code

    collected = []

    @settings(max_examples=50, deadline=None)
    @example(0, 0)
    @example(65535, 65535)
    @example(0, 65535)
    @example(65535, 0)
    @given(st.integers(0, 65535), st.integers(0, 65535))
    def gen(x, y):
        collected.append((x, y))

    gen()
    df = spark.createDataFrame(collected, ["x", "y"]).select(
        "x", "y", morton_code(F.col("x"), F.col("y")).alias("z")
    )
    for r in df.collect():
        x = y = 0
        for i in range(16):
            x |= ((r["z"] >> (2 * i)) & 1) << i
            y |= ((r["z"] >> (2 * i + 1)) & 1) << i
        assert (x, y) == (r["x"], r["y"])


def test_redact_pii_is_idempotent(spark):
    """Placeholders are digit-free fixed points: redact(redact(x)) ==
    redact(x) for every fixture row."""
    df = spark.createDataFrame([(raw,) for raw, _ in PII_FIXTURE], ["raw"]).select(
        redact_pii(F.col("raw")).alias("once")
    ).select("once", redact_pii(F.col("once")).alias("twice"))
    for r in df.collect():
        assert r["once"] == r["twice"], r


def test_morton_nd_roundtrip(spark):
    """3-D interleave/deinterleave roundtrip on sampled 10-bit values
    (domain corners planted as @examples)."""
    from hypothesis import example, given, settings, strategies as st

    from bigdata_electricity_spark.operators.layout import morton_code_nd

    collected = []

    @settings(max_examples=30, deadline=None)
    @example(0, 0, 0)
    @example(1023, 1023, 1023)
    @example(1023, 0, 512)
    @given(st.integers(0, 1023), st.integers(0, 1023), st.integers(0, 1023))
    def gen(x, y, z):
        collected.append((x, y, z))

    gen()
    df = spark.createDataFrame(collected, ["x", "y", "z"]).select(
        "x", "y", "z",
        morton_code_nd([F.col("x"), F.col("y"), F.col("z")], bits=10).alias("m"),
    )
    for r in df.collect():
        dims = [0, 0, 0]
        for i in range(10):
            for d in range(3):
                dims[d] |= ((r["m"] >> (i * 3 + d)) & 1) << i
        assert tuple(dims) == (r["x"], r["y"], r["z"])


# ---------------------------------------------------------------------------
# Python DataSource connector
# ---------------------------------------------------------------------------

@pytest.mark.heavy
def test_pyds_partitioning_invariance(spark):
    """The synthetic source must produce the identical dataset under any
    partition count — the contract a partitioned connector owes."""
    from bigdata_electricity_spark.sources.pydatasource import register

    register(spark)

    def load(parts):
        return (
            spark.read.format("synthetic_events")
            .option("n_rows", 500).option("n_partitions", parts).load()
            .orderBy("event_id").collect()
        )

    assert load(2) == load(7)


def test_pyds_rows_match_python_reference(spark):
    from bigdata_electricity_spark.sources.pydatasource import register, synth_row

    register(spark)
    rows = (
        spark.read.format("synthetic_events")
        .option("n_rows", 50).option("n_partitions", 3).load()
        .orderBy("event_id").collect()
    )
    assert len(rows) == 50
    for r in rows:
        assert tuple(r) == synth_row(r["event_id"])


def test_pyds_jsonl_manifest_sink_commit_protocol(spark, tmp_path):
    """The Python sink's manifest must appear only after ALL tasks
    commit, and its counts must equal what readers find on disk."""
    import json, glob

    from bigdata_electricity_spark.sources.loaders import load_table
    from bigdata_electricity_spark.sources.pydatasource import register_sink

    register_sink(spark)
    out = str(tmp_path / "jsonl_sink")
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "source")
    docs.repartition(4).write.format("jsonl_manifest").mode("append").option("path", out).save()

    manifest = json.load(open(f"{out}/_MANIFEST.json"))
    files = glob.glob(f"{out}/part-*.jsonl")
    assert manifest["total_rows"] == docs.count()
    assert len(manifest["files"]) == len(files) == 4
    on_disk = sum(sum(1 for _ in open(p)) for p in files)
    assert on_disk == manifest["total_rows"]


@pytest.mark.heavy
def test_pyds_stream_equals_batch(spark):
    """The Python streaming source must deliver exactly the batch
    dataset once drained (offset bookkeeping loses/duplicates nothing)."""
    from bigdata_electricity_spark.sources.pydatasource import register

    register(spark)
    stream = {
        (r["user_bucket"], r["n_events"], r["total_cents"])
        for r in REGISTRY["streaming_python_source"].fn(spark, SF_DIR).collect()
    }
    batch_df = (
        spark.read.format("synthetic_events").option("n_rows", 2000).load()
        .groupBy((F.col("user_id") % 10).alias("user_bucket"))
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.floor(F.sum("value") * 100.0 + F.lit(0.5)).alias("total_cents"))
    )
    batch = {(r["user_bucket"], r["n_events"], r["total_cents"]) for r in batch_df.collect()}
    assert stream == batch


# ---------------------------------------------------------------------------
# DataFrame Lloyd k-means
# ---------------------------------------------------------------------------

@pytest.mark.heavy
def test_lloyd_inertia_monotone(spark):
    """Lloyd's algorithm guarantee: total inertia never increases with
    more rounds (assignment and update steps each only decrease it)."""
    from bigdata_electricity_spark.ml.clustering import lloyd_dataframe
    from bigdata_electricity_spark.sources.loaders import load_table, vector_dim

    emb = load_table(spark, SF_DIR, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    dim = vector_dim(spark, f"{SF_DIR}/embeddings.parquet", "embedding")
    inertia = [
        lloyd_dataframe(emb, dim, seed_ids=[0, 1, 2, 3], iters=i)
        .agg(F.sum("d2")).collect()[0][0]
        for i in (1, 2, 3)
    ]
    assert inertia[0] >= inertia[1] >= inertia[2] - 1e-6, inertia
    # and clustering is non-degenerate: every centroid keeps points
    sizes = (
        lloyd_dataframe(emb, dim, seed_ids=[0, 1, 2, 3], iters=2)
        .groupBy("cid").count().collect()
    )
    assert len(sizes) == 4 and all(r["count"] > 0 for r in sizes)


# ---------------------------------------------------------------------------
# small-file compaction
# ---------------------------------------------------------------------------


@pytest.mark.heavy
def test_compaction_shrinks_files_and_preserves_content(spark):
    import glob

    REGISTRY["maintain_compact_small_files"].fn(spark, SF_DIR).count()
    from bigdata_electricity_spark.sources.sinks import run_dir

    base = run_dir("events_compaction", SF_DIR)
    n_frag = len(glob.glob(f"{base}/fragmented/day=*/*.parquet"))
    n_comp = len(glob.glob(f"{base}/compacted/day=*/*.parquet"))
    assert n_comp < n_frag
    frag = spark.read.parquet(f"{base}/fragmented").drop("day")
    comp = spark.read.parquet(f"{base}/compacted").drop("day")
    # pure layout change: exact multiset equality of rows
    assert frag.exceptAll(comp).count() == 0
    assert comp.exceptAll(frag).count() == 0
    # every compacted day dir holds at most planned-files files
    per_day = {
        d.rsplit("day=", 1)[1].split("/")[0]: len(glob.glob(f"{d}/*.parquet"))
        for d in glob.glob(f"{base}/compacted/day=*")
    }
    counts = dict(
        comp.groupBy(F.to_date("ts").alias("d")).count().collect()
    )
    for day, nf in per_day.items():
        planned = -(-counts[__import__("datetime").date.fromisoformat(day)] // 4000)
        assert nf <= planned + 1, (day, nf, planned)
