"""Property-based tests (hypothesis) — the randomized extension of the
reference's fixed-fixture suite (SURVEY.md §5.3): instead of one
hand-picked corpus, assert the engine's contracts over arbitrary
generated inputs.

Few examples per property (each example is a real Spark job); the
value is the generator exploring corners a fixed fixture never hits
(empty tokens, unicode, duplicate-heavy corpora, single-row inputs).
"""

from __future__ import annotations

import json
from collections import Counter

from hypothesis import HealthCheck, given, settings, strategies as st

from simplemapreduce_spark.operators.map_reduce import map_reduce

_token = st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Lu", "Nd")),
    min_size=1,
    max_size=8,
)
_doc = st.lists(_token, min_size=0, max_size=30).map(" ".join)
_corpus = st.lists(_doc, min_size=1, max_size=20)

_SETTINGS = settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(corpus=_corpus)
@_SETTINGS
def test_mr_word_count_matches_counter(spark, corpus):
    """The mapF/reduceF contract (holistic reduce over ALL values of a
    key) must agree with a plain in-memory grouping on any corpus —
    common_test_suite.go's Check generalized from one fixture to all.

    reduce_f returns the values it was given, so one output row per key
    holding that key's full multiset means it ran exactly once per key
    with all of its values. The reduce walks sorted Arrow batches; three
    records per batch split runs of one key across batches (every row and
    every token also emit a null key, so that run spans batches once the
    corpus has four rows and tokens together), and more reduce partitions
    than distinct keys leave some partitions empty."""
    df = spark.createDataFrame(list(enumerate(corpus)), ["id", "value"])

    def map_f(row):
        yield None, str(row["id"])
        for i, tok in enumerate(row["value"].split()):
            yield tok, f"{row['id']}:{i}"
            yield None, f"{row['id']}:{i}"

    def reduce_f(key, values):
        return json.dumps(sorted(values))

    expected: dict[str | None, list[str]] = {}
    for row_id, line in enumerate(corpus):
        expected.setdefault(None, []).append(str(row_id))
        for i, tok in enumerate(line.split()):
            for k in (tok, None):
                expected.setdefault(k, []).append(f"{row_id}:{i}")

    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    saved = spark.conf.get(conf)
    spark.conf.set(conf, "3")
    try:
        rows = map_reduce(df, map_f, reduce_f, n_partitions=len(expected) + 3).collect()
    finally:
        spark.conf.set(conf, saved)
    keys = [r["key"] for r in rows]
    assert len(keys) == len(set(keys)), "reduce_f ran more than once for a key"
    assert {r["key"]: json.loads(r["value"]) for r in rows} == {k: sorted(v) for k, v in expected.items()}


@given(corpus=_corpus, n_a=st.sampled_from([1, 4]), n_b=st.sampled_from([2, 8]))
@_SETTINGS
def test_mr_partition_count_invariance(spark, corpus, n_a, n_b):
    """nReduce must never change results — the reference's topology
    matrix (1/3/10 reduce tasks) as a universal property."""
    df = spark.createDataFrame([(line,) for line in corpus], ["value"])

    def map_f(row):
        for tok in row["value"].split():
            yield tok, "1"

    def reduce_f(key, values):
        return str(len(list(values)))

    a = sorted(map(tuple, map_reduce(df, map_f, reduce_f, n_partitions=n_a).collect()))
    b = sorted(map(tuple, map_reduce(df, map_f, reduce_f, n_partitions=n_b).collect()))
    assert a == b


@given(ids=st.lists(st.integers(min_value=0, max_value=10**9), min_size=1, max_size=50))
@_SETTINGS
def test_hash_sample_membership_is_row_local(spark, ids):
    """Deterministic hash sampling must be a pure function of the row:
    membership identical regardless of partitioning (seeded-RNG
    df.sample violates this; the engine's contract must not)."""
    from pyspark.sql import functions as F

    from simplemapreduce_spark.plans.sampling import hash_bucket

    df1 = spark.createDataFrame([(i,) for i in ids], ["doc_id"]).repartition(1)
    df8 = spark.createDataFrame([(i,) for i in ids], ["doc_id"]).repartition(8)
    pick = lambda df: sorted(
        r["doc_id"] for r in df.filter(hash_bucket(F.col("doc_id")) < "40").collect()
    )
    assert pick(df1) == pick(df8)


def _binned_lookback_pairs(rows, range_micros):
    """Brute-force spec: (event, prior) same-user pairs within the
    lookback window, inclusive both ends."""
    out = Counter()
    for eid, uid, ts in rows:
        out[eid] = sum(
            1
            for _, uid2, ts2 in rows
            if uid2 == uid and ts - range_micros <= ts2 <= ts
        )
    return out


@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 10**6),      # raw event id (deduped below)
            st.integers(0, 2),          # user id — few users => dense pairs
            st.integers(0, 10),         # time in WINDOW-WIDTH units of 1/2
        ),
        min_size=1,
        max_size=14,
    )
)
@_SETTINGS
def test_binned_range_join_equals_bruteforce(spark, rows):
    """The 2x-replication binned rewrite must equal the O(n²) lookback
    spec on adversarial inputs: timestamps generated in HALF-window
    quanta so bucket boundaries, exact-window-width gaps, and
    same-instant pairs all occur constantly (the corners the fixture's
    random microsecond timestamps almost never hit)."""
    from simplemapreduce_spark.plans.bucketing import _RANGE_MICROS, q_join_range_binned

    rows = [
        (i, uid, (half * _RANGE_MICROS) // 2)
        for i, (_, uid, half) in enumerate(rows)
    ]
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [
            (eid, base + dt.timedelta(microseconds=ts), uid, "t", 0.0, "{}")
            for eid, uid, ts in rows
        ],
        "event_id long, ts timestamp_ntz, user_id long, event_type string, value double, props string",
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(d + "/events.parquet")
        got = {
            r["event_id"]: r["n_recent"]
            for r in q_join_range_binned(spark, d).collect()
        }
    want = _binned_lookback_pairs(rows, _RANGE_MICROS)
    assert got == dict(want)


def test_catalog_ops_partition_invariance(spark, sf_dir):
    """End-to-end partition invariance for the round-3 deterministic
    pipelines: identical results under different shuffle-partition
    counts (the property that makes the oracle gate meaningful on a
    cluster whose partitioning the driver does not control). Covers
    the content-keyed dedup window, the LSH pipeline end-to-end, the
    rank-based perplexity buckets (rounded-double ordering), and the
    CDC diff->apply round-trip."""
    from simplemapreduce_spark import catalog

    catalog.load_all()

    from simplemapreduce_spark.cache import clear_memo

    def run(name, n):
        old = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(n))
        # Drop memoized persisted subtrees so the SECOND run re-executes
        # the full pipeline under the new partitioning instead of
        # reusing a cache materialized under the first.
        clear_memo()
        try:
            return sorted(
                tuple(str(v) for v in row)
                for row in catalog.QUERIES[name](spark, sf_dir).collect()
            )
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old)

    for name in (
        "q_dedup_minhash_lsh",
        "q_dedup_lines",
        "q_text_perplexity_buckets",
        "q_cdc_apply",
        "q_ts_asof_nearest",
        # Round-3 per-partition logic: the MG candidate SET differs
        # with partitioning but the exact verify must erase that; the
        # secondary-sort reducer streams partition-grouped runs; the
        # semantic dedup + triangle joins must not depend on shuffle
        # fan-in.
        "q_heavy_hitters",
        "mr_secondary_sort",
        "q_dedup_semantic",
        "q_graph_triangles",
        # Round-3 additions: the prefix-filter join's candidate set
        # depends on bucket co-location, the attribution window on
        # per-user sort order, the recall eval on two top-k ranks —
        # all must be invariant to shuffle fan-in.
        "q_dedup_jaccard_prefix_filter",
        "q_attribution_touch",
        "q_sim_lsh_recall_eval",
        "q_event_sequence_pattern",
        # Round-4: the two iterative k-means queries now carry EXACT
        # unrolled-SQL oracles — partition invariance of the training
        # loop (rounded assign distances / centroid means) is the
        # property that makes those oracles valid on any cluster; plus
        # the two ADVICE-fixed queries (double-domain sampling
        # threshold, integer-cents UDAF).
        "q_sim_ivf_kmeans_topk",
        "q_sim_pq_topk",
        "q_sample_alpha_temperature",
        "q_pandas_udaf_weighted_mean",
        # Round-4 additions: the derived-supply TPC-H adaptations rank
        # inside per-part windows (Q2) and compare against re-aggregated
        # totals (Q11/Q20) — both patterns must not depend on shuffle
        # fan-in; greedy MMR chains four window-argmax stages whose
        # tie-breaks must hold under any partitioning.
        "q2_min_cost_supplier",
        "q20_excess_share_suppliers",
        "q_sim_mmr_rerank",
        # Round-4 late additions: the lexical top-k ranks cosine ties
        # by neighbor_id inside a window — the tie-break (not shuffle
        # order) must decide rank; the confusion matrix is a plain agg
        # but its CASE tie-chain (en >= de >= es) must be row-local.
        "q_sim_tfidf_lexical_topk",
        "q_text_langid_confusion",
        # Round-4 final batch: the novelty anti-join and cross-source
        # self-join both hinge on distinct tables built under shuffle;
        # bucket purity's majority argmax must break count ties by
        # label, not arrival order; the autocorr lag join must pair
        # identical daily totals regardless of partial-agg fan-in.
        "q_text_ngram_novelty",
        "q_dedup_cross_source_matrix",
        "q_sim_bucket_purity",
        "q_ts_autocorr",
        # Weighted median: per-row cumulative sums DO vary with the
        # partition order among equal (price, qty) ties, but the
        # first-price-crossing-half aggregate must be invariant to
        # that — exactly the property worth pinning.
        "q_agg_weighted_median",
        # Round-4 closing batch: the agreement matrix unions four
        # detector outputs (union order must not leak); kNN voting
        # breaks neighbor and vote ties by id/label, not arrival; the
        # sliding-distinct WAU re-aggregates an exploded contribution
        # table whose shuffle layout varies with partitioning.
        "q_dedup_method_agreement",
        "q_sim_knn_classify",
        "q_events_dau_wau",
        # Round-4 resumed batch: drawdown's argmax row and the
        # preference pairs' struct extremes are tie-broken by total
        # orders that must decide under any shuffle fan-in; the
        # common-neighbor top-10 ranks a wedge-join count whose
        # candidate layout varies with partitioning.
        "q_ts_drawdown",
        "q_preference_pairs",
        "q_graph_common_neighbors",
        # Late round-4: RRF fuses two independently-ranked lists (rank
        # ties and the 2-term double sum must not depend on layout);
        # fuzzy decontam's candidate set comes from a bucket join; the
        # jackknife moments are scaled-integer sums; merge-delete's
        # branch tags ride a full-outer join; the stateful sessionizer
        # carries state across micro-batches whose Arrow slices change
        # with partitioning.
        "q_sim_rrf_fusion",
        "q_decontam_minhash",
        "q_jackknife_ratio_se",
        "q_merge_delete",
        "q_stream_sessionize_stateful",
        # Closing batch: the spatial grid's candidate set comes from a
        # broadcast cell join; k-core recomputes induced degrees per
        # round; the hierarchy rollup recurses joins over a frontier;
        # drift's argmax dim is a struct-extreme tie-break.
        "q_join_spatial_grid",
        "q_graph_kcore",
        "q_recursive_hierarchy_rollup",
        "q_embedding_drift",
        # Round-5 batch: BPE training's per-round global argmax must be
        # decided by the (n desc, pair) total order, never by which
        # partition's partial arrives first; LPA's per-node majority
        # vote ties break on label; the incremental IVF merge rides a
        # full-outer join; block dedup re-aggregates a checksum
        # frequency join; the classifier's integer logit pooling is
        # order-free by construction — pin it anyway.
        "q_text_bpe_train_merges",
        "q_graph_label_propagation",
        "q_sim_ivf_incremental",
        "q_multimodal_block_dedup",
        "q_text_classifier_linear",
        # The partitioned-table UDTF streams each user's rows through a
        # per-partition instance — the per-key state machine must see
        # the same ordered stream under any shuffle fan-in.
        "q_udtf_table_partition_by",
        # Margin mining: two K-NN window ranks + a per-source argmax,
        # all tie-broken on ids over exact-integer cosine sums.
        "q_sim_margin_mining",
        # The recall curve ranks per-(nprobe, query) windows against a
        # brute-force GT rank — four rank tie-breaks under one roof.
        "q_sim_recall_curve",
        # Power iteration: each round's scaled-integer mass must not
        # depend on join/aggregate layout.
        "q_markov_stationary",
    ):
        assert run(name, 3) == run(name, 17), name


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.sampled_from([f"t{i}" for i in range(40)]), min_size=0, max_size=400
    ),
    st.integers(min_value=1, max_value=5),
)
def test_mg_sketch_candidates_superset_of_heavy_hitters(stream, batches_n):
    """Misra-Gries candidate guarantee (no Spark): for ANY batching of
    the stream, the sketch output contains every item with frequency
    > n/(cap+1) — the superset property q_heavy_hitters' exact verify
    pass relies on. Exercised at a tiny capacity so evictions happen."""
    import pandas as pd

    from simplemapreduce_spark.plans import frequency as fq

    cap = 8
    # Temporarily shrink the capacity so the subtract-rule path runs.
    orig = fq._MG_CAP
    fq._MG_CAP = cap
    try:
        # Split the stream into token-array "documents" across batches.
        docs = [stream[i::batches_n] for i in range(batches_n)]
        batches = [pd.DataFrame({"toks": [d]}) for d in docs]
        out = list(fq._mg_sketch_partition(iter(batches)))
        got = set(out[0]["token"])
    finally:
        fq._MG_CAP = orig
    n = len(stream)
    true_counts = Counter(stream)
    heavy = {t for t, c in true_counts.items() if c * (cap + 1) > n}
    assert heavy <= got, f"missing heavy hitters: {heavy - got}"
