"""Physical-plan quality guards — the properties that matter at 100 TB.

These assert the *shape* of the plans (pushdown, pruning, exchange count),
so a refactor that silently degrades them fails CI, not the cluster.
"""

import io
import re
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from statefulstreamprocessor_spark.operators import nn_join
from statefulstreamprocessor_spark.operators.asof import asof_join

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def events(spark):
    return spark.read.parquet(f"{SF}/events.parquet")


def test_nn_join_plan_shape(spark, events):
    r = events.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    s = events.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "value"
    )
    plan = _plan(nn_join(r, s, "user_id", "ts"))
    # filter pushed to the parquet scan
    assert "PushedFilters: [IsNotNull(event_type), EqualTo(event_type,click)" in plan
    # column pruning: props/event_id never read
    for read_schema in re.findall(r"ReadSchema: (\S+)", plan):
        assert "props" not in read_schema and "event_id" not in read_schema
    # no join node — the whole operator is exchange + sort + window
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    # exactly one shuffle boundary, hash-partitioned on the key
    exchanges = re.findall(r"^\(\d+\) Exchange", plan, re.M)
    assert len(exchanges) == 1
    assert re.search(r"Arguments: hashpartitioning\(user_id", plan)
    # no O(n²) window frames (unbounded-following)
    assert "unboundedfollowing" not in plan.lower()
    # two sorts only (asc + desc families): the range windows must ride the
    # rows windows' sort via prefix satisfaction, not re-sort
    sorts = re.findall(r"^\(\d+\) Sort", plan, re.M)
    assert len(sorts) == 2, plan


def test_nn_join_banded_plan_shape(spark, events):
    """The hot-series banded join: one hash exchange of the data on
    (key, __bucket) plus one for the tiny per-key max pre-aggregation,
    which joins back as the plan's only join, a broadcast; the windows
    keep nn_join's two sorts / four Window operators and have no O(n²)
    frames."""
    from statefulstreamprocessor_spark.operators.nn_join import nn_join_banded

    r = events.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    s = events.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "event_id"
    )
    plan = _plan(nn_join_banded(r, s, "user_id", "ts", delta=7200.0))

    def count(op):
        return len(re.findall(rf"^\(\d+\) {op}\b", plan, re.M))

    assert count("Exchange") == 2, plan
    assert re.search(r"hashpartitioning\(user_id[^\)]*__bucket", plan), plan
    assert count("Sort") == 2, plan
    assert count("Window") == 4, plan
    assert count("BroadcastHashJoin") == 1, plan
    assert count("BroadcastExchange") == 1, plan
    assert "SortMergeJoin" not in plan, plan
    assert "unboundedfollowing" not in plan.lower()


def test_asof_plan_no_join_node(spark, events):
    left = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    right = events.filter(F.col("event_type") == "click").select("user_id", "ts")
    plan = _plan(asof_join(left, right, "user_id", "ts"))
    assert "SortMergeJoin" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_cosine_topk_corpus_never_joined(spark):
    """Optimization round 7: the query side ships to the corpus scan as a
    small matrix (it is collected/broadcast by contract); the corpus must
    not be joined or shuffled before scoring — no join node at all, and
    the only exchange is the rank window's, fed by the local top-k."""
    from statefulstreamprocessor_spark.operators.similarity import cosine_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") % 50 == 0)
    plan = _plan(cosine_topk(q, emb, "vec_id", "embedding", k=3))
    assert "Join" not in plan, plan
    assert "MapInPandas" in plan, plan


def test_cosine_topk_prereduces_before_rank_exchange(spark):
    """The full |corpus|×|queries| scored set must NOT reach the rank
    window's hash exchange: the local top-k (MapInPandas) has to sit below
    the exchange in the plan tree (round-1 VERDICT 'What's wrong' #4)."""
    from statefulstreamprocessor_spark.operators.similarity import cosine_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") % 50 == 0)
    plan = _plan(cosine_topk(q, emb, "vec_id", "embedding", k=3))
    # formatted plans list operators leaves-up: the pre-reduction must
    # appear, and the (single) hashpartitioning exchange must consume it —
    # i.e. the MapInPandas node id is SMALLER than the exchange's
    map_ids = [int(m) for m in re.findall(r"^\((\d+)\) MapInPandas", plan, re.M)]
    ex_ids = [int(m) for m in re.findall(r"^\((\d+)\) Exchange", plan, re.M)]
    assert map_ids, plan
    assert ex_ids, plan
    assert min(map_ids) < min(ex_ids), plan


def test_stratified_sample_prereduces_before_rank_exchange(spark):
    """VERDICT r2 minor #4: the per-stratum rank must consume a local
    bottom-k pre-reduction, not the full stratum — the MapInPandas node
    has to sit below the window's hash exchange in the plan tree."""
    from statefulstreamprocessor_spark.operators.sampling import (
        stratified_topk_sample,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "lang", "n_chars"
    )
    plan = _plan(stratified_topk_sample(docs, "lang", "doc_id", k=5))
    map_ids = [int(m) for m in re.findall(r"^\((\d+)\) MapInPandas", plan, re.M)]
    ex_ids = [int(m) for m in re.findall(r"^\((\d+)\) Exchange", plan, re.M)]
    assert map_ids, plan
    assert ex_ids, plan
    assert min(map_ids) < min(ex_ids), plan


def test_near_dup_rescore_defaults_to_hash_joins(spark):
    """VERDICT r2 'What's wrong' #2: the exact-rescore joins must default
    to plain equi-joins on id — a *forced* broadcast of the full corpus
    vector table is a driver/executor OOM at 10⁹ rows, with no knob to
    escape. Static-plan check with the auto-broadcast threshold disabled so
    only hinted broadcasts can appear; broadcast_vectors=True must pin the
    hint back for known-small inputs."""
    from statefulstreamprocessor_spark.operators.similarity import (
        cosine_near_dup_pairs,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan_default = _plan(
            cosine_near_dup_pairs(emb, "vec_id", "embedding", dim=64)
        )
        plan_forced = _plan(
            cosine_near_dup_pairs(
                emb, "vec_id", "embedding", dim=64, broadcast_vectors=True
            )
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "BroadcastExchange" not in plan_default, plan_default
    assert "BroadcastExchange" in plan_forced, plan_forced


def test_join_then_window_composition(spark, events):
    """SURVEY §7 'hard' item: stateful join composed with a windowed agg —
    chained as join → (table) → tumbling rollup, one statement in batch."""
    from statefulstreamprocessor_spark.operators.windows import tumbling_agg

    r = events.filter(F.col("event_type") == "click").select("user_id", "ts", "value")
    s = events.filter(F.col("event_type") == "view").select("user_id", "ts", "value")
    pairs = nn_join(r, s, "user_id", "ts", delta=7200.0)
    rollup = tumbling_agg(
        pairs.select(F.col("r_ts").alias("ts"), "user_id"),
        "ts", "1 day", keys=[],
        aggs=[F.count(F.lit(1)).alias("n_pairs")],
    )
    rows = rollup.collect()
    assert sum(r["n_pairs"] for r in rows) == pairs.count()


def test_global_cumsum_has_no_full_data_single_partition(spark):
    """The distributed prefix sum must never funnel the DATA through one
    partition: the only SinglePartition exchange allowed is the one over
    the per-bucket totals (one row per bucket) feeding the offsets window;
    the data itself takes exactly one hash exchange on the bucket key."""
    from statefulstreamprocessor_spark.operators.packing import global_cumsum

    df = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", F.length("text").alias("v")
    )
    plan = _plan(global_cumsum(df, "doc_id", "v", bucket_width=100))
    assert plan.count("SinglePartition") == 1, plan
    assert "hashpartitioning(__b" in plan, plan
    # offsets join back in as a broadcast, not a shuffle of the data
    assert "BroadcastHashJoin" in plan, plan


def test_doc_repetition_plan_two_prereduced_exchanges(spark):
    """The repetition stats must stay two map-side-combinable exchanges
    with the word filter ABOVE the Generate (explode) — never a pushed
    size()>0 filter re-evaluating the split at the scan, never a window."""
    from statefulstreamprocessor_spark.operators.quality import (
        word_repetition_stats,
    )

    df = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(word_repetition_stats(df, "text", "doc_id"))
    import re as _re

    exchanges = _re.findall(r"^\(\d+\) Exchange", plan, _re.M)
    assert len(exchanges) == 2, plan
    assert "SinglePartition" not in plan, plan
    assert "Window" not in plan, plan


def test_tfidf_df_is_aggregated_not_windowed(spark):
    """Document frequency must be a map-side-combinable aggregate joined
    back on word — NEVER a count() OVER (PARTITION BY word) window: a
    stopword's window partition is |corpus|-sized, gets no partial
    aggregation, and AQE cannot split a skewed window partition (VERDICT
    round-3 'What's wrong #1'). The only Window allowed is the per-doc
    rank (partitioned by id, bounded by a document's distinct words)."""
    from statefulstreamprocessor_spark.operators.vocab import tfidf_top_terms

    df = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(tfidf_top_terms(df, "text", "doc_id", k=3))
    win_args = [
        l for l in plan.splitlines()
        if "windowspecdefinition(" in l
    ]
    assert win_args, plan  # the rank window must exist
    for l in win_args:
        spec = l.split("windowspecdefinition(", 1)[1]
        assert spec.startswith("id"), (spec, plan)  # never partitioned by word
    # df comes from a hash aggregate that can partial-aggregate map-side
    assert "HashAggregate" in plan, plan


def test_vocab_topk_rank_exchange_is_prereduced(spark):
    """vocab_topk's only SinglePartition exchange must sit ABOVE the
    MapInPandas local top-k, so the global rank never sees more than
    partitions x k rows."""
    from statefulstreamprocessor_spark.operators.vocab import vocab_topk

    df = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(vocab_topk(df, "text", "doc_id", k=10))
    # Spark plans the rank-limit as TakeOrderedAndProject (per-partition
    # top-N + merge) — no SinglePartition exchange of the vocabulary at
    # all; the MapInPandas local top-k must feed it from below
    assert "TakeOrderedAndProject" in plan, plan
    assert "SinglePartition" not in plan, plan
    import re as _re

    map_ids = [int(m) for m in _re.findall(r"^\((\d+)\) MapInPandas", plan, _re.M)]
    top_ids = [
        int(m)
        for m in _re.findall(r"^\((\d+)\) TakeOrderedAndProject", plan, _re.M)
    ]
    assert map_ids and top_ids and min(map_ids) < min(top_ids), plan


def test_asof_banded_carry_plan_shape(spark, events):
    """Tolerance-free banded as-of: the data-sized windows partition on
    (key, __bucket) — a hot key genuinely shards — the carry runs over
    band-LEVEL rows only, no O(n²) frames, and the carry join is an
    equi-join (never a nested-loop range join)."""
    from statefulstreamprocessor_spark.operators.asof import asof_join_banded

    left = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    right = events.filter(F.col("event_type") == "click").select("user_id", "ts")
    plan = _plan(
        asof_join_banded(
            left, right, "user_id", "ts", tolerance=None, band_seconds=3600.0
        )
    )
    assert "unboundedfollowing" not in plan.lower()
    assert "BroadcastNestedLoopJoin" not in plan
    # the intra-band window shards each key by band
    assert re.search(r"hashpartitioning\(user_id[^\)]*__bucket", plan), plan


def test_merge_into_plan_is_anti_join(spark, tmp_path):
    """MERGE INTO's only data-sized join is a LeftAnti equi-join on the
    merge key (broadcastable small source side), never a cartesian or
    nested-loop shape."""
    from statefulstreamprocessor_spark.sources.tables import create_table

    t = create_table(
        spark, str(tmp_path / "t"), "k bigint, v double", partition_by=[]
    )
    t.append(spark.range(1000).select(F.col("id").alias("k"), F.lit(1.0).alias("v")))
    src = spark.range(10).select(F.col("id").alias("k"), F.lit(2.0).alias("v"))
    src_keys = src.select("k").distinct()
    merged = t.read().join(src_keys, ["k"], "left_anti").unionByName(src)
    plan = _plan(merged)
    assert "LeftAnti" in plan, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_compact_latest_by_key_plan_no_window(spark, events):
    """compact_latest_by_key's projection is a max(struct) aggregation —
    map-side combinable (partial_max in the scan stage), never a
    row_number window partitioned by a potentially hot key (VERDICT r05
    "What's wrong #3" / DESIGN rule 5)."""
    from statefulstreamprocessor_spark.sources.tables import _latest_by_key

    df = events.select("user_id", "ts", "event_type", "value")
    plan = _plan(_latest_by_key(df, ["user_id"], "ts"))
    assert "Window" not in plan, plan
    # one exchange on the key, partial aggregation below it
    exchanges = re.findall(r"^\(\d+\) Exchange", plan, re.M)
    assert len(exchanges) == 1, plan
    assert "partial_max" in plan, plan


def test_rolling_zscore_plan_single_exchange(spark, events):
    """rolling_zscore: ONE hash exchange on the series key; frames are
    trailing rows-frames (no shrinking unboundedFollowing processor);
    no join nodes anywhere."""
    from statefulstreamprocessor_spark.operators.stats import rolling_zscore

    df = events.select("user_id", "ts", "event_id", "value")
    plan = _plan(
        rolling_zscore(df, "user_id", "ts", "event_id", "value")
    )
    exchanges = re.findall(r"^\(\d+\) Exchange", plan, re.M)
    assert len(exchanges) == 1, plan
    assert "unboundedfollowing" not in plan.lower()
    assert "Join" not in plan, plan
