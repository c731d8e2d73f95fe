"""Round-7 operator behavior tests: graph PageRank, EWMA, rolling
z-score anomalies, attribution, daily resample, winsorize, FK audit,
n-gram novelty, compaction verdict and the A2-A4 Kafka option surface.
The CEP checkpoint-restart test lives in tests/test_streaming.py.

Oracle parity for every registered row is covered by tests/test_oracle.py;
these tests pin the BEHAVIORAL contracts the oracles can't express
(mass conservation, spike detection, option maps).
"""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from kafka_streams_in_action_spark.operators import (
    event_time, graph, relational, text, windows,
)
from kafka_streams_in_action_spark.sources import kafka as ksrc
from kafka_streams_in_action_spark.sources.parquet import load_table

from .conftest import SF_DIR


# ---------------------------------------------------------------- graph

def test_pagerank_conserves_mass_and_handles_dangling(spark):
    """Total rank stays ~1.0 (integer floor loses < N nano per
    iteration), and a dangling node (no out-edges) still receives and
    redistributes mass instead of sinking it."""
    nodes = spark.createDataFrame([(i,) for i in range(4)], "node long")
    # 0→1, 1→2, 2→0; node 3 dangles but receives from nowhere
    edges = spark.createDataFrame(
        [(0, 1, 10), (1, 2, 10), (2, 0, 10)], "src long, dst long, w long")
    ranks = {r["node"]: r["rank_nano"]
             for r in graph.pagerank(nodes, edges, iterations=10).collect()}
    total = sum(ranks.values())
    assert abs(total - graph.NANO) < 10 * 4 * 4  # floor loss bound
    # the 3-cycle symmetric: equal ranks; dangling node holds teleport +
    # its share of its own redistributed mass only
    assert abs(ranks[0] - ranks[1]) <= 1 and abs(ranks[1] - ranks[2]) <= 1
    assert ranks[3] < ranks[0]


def test_pagerank_weights_shift_rank(spark):
    """A heavier in-edge means more rank: hub node with two weighted
    in-edges outranks its sources."""
    nodes = spark.createDataFrame([(i,) for i in range(3)], "node long")
    edges = spark.createDataFrame(
        [(0, 2, 9), (0, 1, 1), (1, 2, 1)], "src long, dst long, w long")
    ranks = {r["node"]: r["rank_nano"]
             for r in graph.pagerank(nodes, edges, iterations=10).collect()}
    assert ranks[2] > ranks[1] and ranks[2] > ranks[0]


# -------------------------------------------------------------- windows

def test_ewma_constant_series_is_constant(spark):
    ev = spark.createDataFrame(
        [(i, 1, f"2024-01-01 00:00:{i:02d}", 7.0) for i in range(30)],
        "event_id long, user_id long, ts string, value double"
    ).withColumn("ts", F.to_timestamp("ts"))
    rows = windows.ewma_trailing(ev).collect()
    assert len(rows) == 30
    assert all(abs(r["ewma"] - 7.0) < 1e-6 for r in rows)


def test_ewma_weights_recent_values_more(spark):
    """After a level shift the EWMA moves most of the way to the new
    level within a few observations (α = 0.5 halves the gap per step)."""
    vals = [0.0] * 10 + [100.0] * 3
    ev = spark.createDataFrame(
        [(i, 1, f"2024-01-01 00:00:{i:02d}", v) for i, v in enumerate(vals)],
        "event_id long, user_id long, ts string, value double"
    ).withColumn("ts", F.to_timestamp("ts"))
    last = sorted(windows.ewma_trailing(ev).collect(),
                  key=lambda r: r["event_id"])[-1]
    assert last["ewma"] > 80.0  # 3 halvings: > 87.5% of the shift


def test_rolling_zscore_flags_injected_spike(spark):
    base = [(i, "m", f"2024-01-01 00:{i // 60:02d}:{i % 60:02d}",
             10.0 + (i % 5) * 0.1) for i in range(60)]
    spiked = base + [(999, "m", "2024-01-01 00:02:00.5", 500.0)]
    ev = spark.createDataFrame(
        spiked, "event_id long, event_type string, ts string, value double"
    ).withColumn("ts", F.to_timestamp("ts"))
    flagged = windows.rolling_zscore_anomalies(ev).collect()
    assert any(r["event_id"] == 999 for r in flagged)
    # the quiet baseline itself produces no flags
    quiet = windows.rolling_zscore_anomalies(
        spark.createDataFrame(
            base, "event_id long, event_type string, ts string, value double"
        ).withColumn("ts", F.to_timestamp("ts"))).collect()
    assert quiet == []


# ----------------------------------------------------------- event_time

def test_touch_attribution_picks_latest_click_and_first_view(spark):
    rows = [
        (1, 1, "view", "2024-01-01 00:00:01", 0.0),
        (2, 1, "click", "2024-01-01 00:00:02", 0.0),
        (3, 1, "view", "2024-01-01 00:00:03", 0.0),
        (4, 1, "click", "2024-01-01 00:00:04", 0.0),
        (5, 1, "purchase", "2024-01-01 00:00:05", 42.0),
        (6, 2, "purchase", "2024-01-01 00:00:06", 9.0),  # cold purchase
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, "
              "ts string, value double"
    ).withColumn("ts", F.to_timestamp("ts"))
    out = {r["purchase_id"]: r
           for r in event_time.touch_attribution(ev).collect()}
    assert out[5]["last_click_id"] == 4          # latest, not first, click
    assert out[5]["first_view_id"] == 1          # first, not latest, view
    assert out[5]["attributed"] is True
    assert out[6]["last_click_id"] is None and out[6]["attributed"] is False


def test_resample_fills_gap_days_with_last_close(spark):
    rows = [(1, 1, "2024-01-01 10:00:00", 5.0),
            (2, 1, "2024-01-01 20:00:00", 7.0),   # day-1 close
            (3, 1, "2024-01-04 09:00:00", 1.0)]   # 2-day gap
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string, value double"
    ).withColumn("ts", F.to_timestamp("ts"))
    out = sorted(event_time.resample_daily_ffill(ev).collect(),
                 key=lambda r: r["day"])
    assert [str(r["day"]) for r in out] == [
        "2024-01-01", "2024-01-02", "2024-01-03", "2024-01-04"]
    assert [r["value"] for r in out] == [7.0, 7.0, 7.0, 1.0]
    assert [r["observed"] for r in out] == [True, False, False, True]


# ----------------------------------------------------------- relational

def test_winsorize_clips_tails_only(spark):
    vals = list(range(1, 101))  # 1..100
    ev = spark.createDataFrame(
        [(i, "t", float(v)) for i, v in enumerate(vals)],
        "event_id long, event_type string, value double")
    row = relational.winsorize_stats(ev).collect()[0]
    assert row["p_lo"] == 5.0 and row["p_hi"] == 95.0
    assert row["n_clipped_lo"] == 4 and row["n_clipped_hi"] == 5
    # clamped mean: (5*5 + sum(5..95) + 5*95)/100
    expect = (5 * 4 + sum(range(5, 96)) + 95 * 5) / 100
    assert abs(row["winsorized_mean"] - expect) < 1e-6


def test_referential_audit_counts_injected_orphans(spark):
    orders = load_table(spark, "orders", SF_DIR)
    customer = load_table(spark, "customer", SF_DIR)
    lineitem = load_table(spark, "lineitem", SF_DIR)
    part = load_table(spark, "part", SF_DIR)
    supplier = load_table(spark, "supplier", SF_DIR)
    # the generated star schema is referentially intact
    clean = {r["fk"]: r for r in relational.referential_audit(
        orders, customer, lineitem, part, supplier).collect()}
    assert all(r["intact"] for r in clean.values())
    # drop 10 customers → exactly their orders become orphans
    victims = [r["c_custkey"] for r in
               customer.select("c_custkey").limit(10).collect()]
    broken = customer.filter(~F.col("c_custkey").isin(victims))
    expected = orders.filter(F.col("o_custkey").isin(victims)).count()
    audit = {r["fk"]: r for r in relational.referential_audit(
        orders, broken, lineitem, part, supplier).collect()}
    r = audit["orders.o_custkey->customer"]
    assert r["n_orphans"] == expected and (r["intact"] is (expected == 0))


# ----------------------------------------------------------------- text

def test_ngram_novelty_duplicated_doc_scores_zero(spark):
    docs = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon"),
         (1, "alpha beta gamma delta epsilon"),   # exact clone: novelty 0
         (2, "totally different words entirely here"),
         (3, "hi")],                              # sub-n: novelty 1.0
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in text.ngram_novelty(docs).collect()}
    assert out[0]["novelty"] == 0.0 and out[1]["novelty"] == 0.0
    assert out[2]["novelty"] == 1.0
    assert out[3]["novelty"] == 1.0 and out[3]["n_shingles"] == 0


# ---------------------------------------------------------------- kafka

def test_kafka_option_maps_cover_reference_surface():
    src = ksrc.source_options("b1:9092,b2:9092", ["t1", "t2"],
                              max_offsets_per_trigger=100,
                              min_partitions=8)
    assert src["subscribe"] == "t1,t2"
    assert src["startingOffsets"] == "earliest"
    assert src["maxOffsetsPerTrigger"] == "100"
    assert src["minPartitions"] == "8"
    asg = ksrc.source_options("b:9092", "ignored", assign={"t": [0, 1]})
    assert "subscribe" not in asg
    assert json.loads(asg["assign"]) == {"t": [0, 1]}
    snk = ksrc.sink_options("b:9092", "out", "/ck")
    assert snk["kafka.acks"] == "1" and snk["kafka.retries"] == "10"
    assert ksrc.sink_options("b:9092", "out", "/ck",
                             acks="all")["kafka.acks"] == "all"


# --------------------------------------------------------------- layout

def test_compact_files_verdict_on_real_files(spark, tmp_path):
    from kafka_streams_in_action_spark.operators.layout import (
        compact_files_verdict)
    ev = load_table(spark, "events", SF_DIR)
    row = compact_files_verdict(spark, ev, str(tmp_path / "c"),
                                fragment_files=16,
                                target_rows_per_file=400).collect()[0]
    assert row["n_rows"] == ev.count()
    assert row["files_reduced"] is True
    assert row["readback_complete"] is True
    assert row["ranges_disjoint"] is True


# ------------------------------------------------- late round-7 additions

def test_triangles_on_handcrafted_graph(spark):
    """Four mutually-near-dup docs form a 4-clique: C(4,3) = 4 triangles,
    6 edges, 12 wedges, clustering exactly 1.0 (every wedge closes); an
    unrelated doc stays outside the graph entirely."""
    clique = "alpha beta gamma delta epsilon zeta"
    docs = spark.createDataFrame(
        [(0, clique + " one"), (1, clique + " two"), (2, clique + " three"),
         (3, "gamma delta epsilon zeta eta theta iota kappa"),
         (4, "totally unrelated words with no shared trigrams at all")],
        "doc_id long, text string")
    from kafka_streams_in_action_spark.operators.graph import (
        near_dup_triangles)
    row = near_dup_triangles(docs, threshold=0.2).collect()[0]
    assert row["n_nodes"] == 4 and row["n_edges"] == 6
    assert row["n_triangles"] == 4 and row["n_wedges"] == 12
    assert row["clustering"] == 1.0


def test_benford_audit_shares_and_chi2(spark):
    """Digit extraction is exact-cents-string based; shares sum to 1 and
    a perfectly Benford-ish synthetic set yields small chi2 terms."""
    import random
    rnd = random.Random(7)
    rows = []
    # synthesize magnitudes log-uniformly: first digits follow Benford
    for i in range(5000):
        v = 10 ** rnd.uniform(0, 4)
        rows.append((i, round(v, 2)))
    orders = spark.createDataFrame(rows, "o_orderkey long, o_totalprice double")
    from kafka_streams_in_action_spark.operators.relational import (
        benford_audit)
    out = benford_audit(orders).collect()
    assert len(out) == 9
    assert abs(sum(r["obs_share"] for r in out) - 1.0) < 1e-3
    # log-uniform sampling IS Benford: every digit's chi2 term is small
    assert sum(r["chi2_term"] for r in out) < 30.0
    assert [r["exp_share"] for r in
            sorted(out, key=lambda r: r["digit"])][0] == 0.301030


def test_zscore_stream_matches_batch_across_four_batches(spark, tmp_path):
    """C33h streaming twin: the ring state (last 19 milli-values per
    event_type) must survive micro-batch boundaries — flagged anomalies
    through a REAL 4-batch time split equal the batch operator
    row-for-row."""
    from kafka_streams_in_action_spark.streaming import stateful

    ev = load_table(spark, "events", SF_DIR)
    d = str(tmp_path / "zscore_stream_src")
    from pyspark.sql import Window
    sliced = ev.withColumn(
        "slice", F.ntile(4).over(Window.orderBy("ts", "event_id")))
    for s in range(1, 5):
        (sliced.filter(F.col("slice") == s).drop("slice")
         .coalesce(1).write.mode("append").parquet(d))
    stream = (spark.readStream.schema(ev.schema)
              .option("maxFilesPerTrigger", 1).parquet(d))
    sink = "zscore_stream_r7"
    q = (stateful.zscore_anomaly_stream(stream)
         .writeStream.format("memory").queryName(sink)
         .outputMode("append").trigger(availableNow=True).start())
    assert q.awaitTermination(180)
    batch = windows.rolling_zscore_anomalies(ev)
    streamed = spark.table(sink).select(*batch.columns)
    assert sorted(map(tuple, batch.collect())) \
        == sorted(map(tuple, streamed.collect()))


def test_matryoshka_gate_full_dim_is_identity(spark):
    """Truncating to the FULL dimension must give recall 1.0 for every
    query (the gate's sanity invariant); truncating to dim=32 keeps
    recall in [0, 1] with the overlap count consistent."""
    from kafka_streams_in_action_spark.operators.similarity import (
        matryoshka_gate)
    emb = load_table(spark, "embeddings", SF_DIR)
    ident = matryoshka_gate(emb, dim=64).collect()
    assert len(ident) == 10
    assert all(r["recall_at_k"] == 1.0 and r["n_overlap"] == 5
               for r in ident)
    half = matryoshka_gate(emb, dim=32).collect()
    assert all(0 <= r["n_overlap"] <= 5 for r in half)


def test_rake_scores_multiword_phrases_higher(spark):
    """RAKE's defining property: words co-occurring in long stopword-free
    runs get degree > frequency, so multi-word phrases outrank the same
    words seen alone; stopwords never appear inside a phrase."""
    docs = spark.createDataFrame(
        [(0, "deep learning pipeline beats the baseline model a lot"),
         (1, "the a the")],  # all stopwords: no phrases, no rows
        "doc_id long, text string")
    out = text.rake_keywords(docs).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert 1 not in by_doc
    top = sorted(by_doc[0], key=lambda r: r["rank"])[0]
    # the 3-word run wins over the 2-word and 1-word runs
    assert top["phrase"] == "deep learning pipeline beats"
    assert all("the" not in r["phrase"].split()
               and "a" not in r["phrase"].split() for r in by_doc[0])
