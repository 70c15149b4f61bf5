"""Round-7 optimization equivalence tests.

Every optimization this round restructures an operator's physical plan
while keeping its output identical; these tests pin the equivalences on
randomized data (including the edge shapes the proofs lean on: ties,
short documents, sparse and dense key timelines).
"""

from __future__ import annotations

import datetime as dt
import random

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def rand_events(spark):
    """Randomized two-sided event stream with deliberate clusters: some
    users dense (partners nearby), some sparse (no partner within an
    hour), plus exact cross-side timestamp ties."""
    rng = random.Random(7)
    rows = []
    for uid in range(40):
        dense = uid % 3 == 0
        n = rng.randint(3, 40)
        t0 = rng.randint(0, 3_000_000)
        t = t0
        for i in range(n):
            t += rng.randint(1, 600 if dense else 7200)
            side = "r" if rng.random() < 0.5 else "s"
            rows.append((uid, t, side, float(rng.randint(0, 1000)) / 10))
        # exact cross-side tie
        rows.append((uid, t0, "r", 1.0))
        rows.append((uid, t0, "s", 2.0))
    df = spark.createDataFrame(rows, "user_id int, sec long, side string, value double")
    return df.select(
        "user_id",
        F.timestamp_seconds(F.col("sec")).cast("timestamp_ntz").alias("ts"),
        "side",
        "value",
    )


def test_windowed_latest_pair_prefilter_is_output_preserving(rand_events):
    from statefulstreamprocessor_spark.operators.windows import (
        windowed_latest_pair,
    )

    kw = dict(
        keys=["user_id"], ts_col="ts", side_col="side", value_col="value",
        size="1 hour", slide="15 minutes",
    )
    plain = windowed_latest_pair(rand_events, prefilter=False, **kw)
    fast = windowed_latest_pair(rand_events, prefilter=True, **kw)
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, fast.collect())
    )
    assert fast.count() > 0  # non-degenerate: dense users must pair


def test_sliding_count_agg_matches_generic_sliding_agg(rand_events):
    from statefulstreamprocessor_spark.operators.windows import (
        sliding_agg,
        sliding_count_agg,
    )

    generic = sliding_agg(
        rand_events, "ts", "1 hour", "15 minutes", keys=["side"],
        aggs=[F.count(F.lit(1)).alias("n")],
    )
    twophase = sliding_count_agg(
        rand_events, "ts", "1 hour", "15 minutes", keys=["side"],
        count_alias="n",
    )
    assert generic.columns == twophase.columns
    # sum-of-counts is nullable where count is not; the gate compares
    # names + types (nullability is not part of the oracle contract)
    assert [(f.name, f.dataType) for f in generic.schema.fields] == [
        (f.name, f.dataType) for f in twophase.schema.fields
    ]
    assert sorted(map(tuple, generic.collect())) == sorted(
        map(tuple, twophase.collect())
    )


def test_sliding_count_agg_rejects_non_divisible_slide(rand_events):
    from statefulstreamprocessor_spark.operators.windows import (
        sliding_count_agg,
    )

    with pytest.raises(ValueError):
        sliding_count_agg(rand_events, "ts", "1 hour", "7 minutes")


def test_session_agg_keyed_prepartition_is_output_preserving(rand_events):
    from statefulstreamprocessor_spark.operators.windows import session_agg

    kw = dict(
        ts_col="ts", gap="30 minutes", keys=["user_id"],
        aggs=[F.count(F.lit(1)).alias("n")],
    )
    plain = session_agg(rand_events, **kw)
    pre = session_agg(rand_events, min_input_partitions=8, **kw)
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, pre.collect())
    )


def test_ngram_grams_match_string_reference(spark):
    """The arrays_zip gram pipeline must produce the same pair set as a
    literal string-n-gram reference (computed in python) — including
    short documents (< n tokens), repeated grams, and multi-space
    separators."""
    from statefulstreamprocessor_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    docs = [
        (1, "a b c d e"),
        (2, "a b c d e"),              # exact dup of 1
        (3, "a b c x e"),              # near dup
        (4, "a  b\tc   d e"),          # same tokens, messy whitespace
        (5, "one two"),                # < n tokens: single short gram
        (6, "one two"),                # dup of the short doc
        (7, "a b a b a b"),            # repeated grams collapse (distinct)
        (8, "z"),                      # single token
        (9, "a b c d e f g h"),
    ]
    df = spark.createDataFrame(docs, "doc_id int, text string")

    def ref_pairs(threshold=0.1):
        def grams(t):
            toks = t.strip().lower().split()
            if len(toks) < 3:
                return {tuple(toks)}
            return {tuple(toks[i : i + 3]) for i in range(len(toks) - 2)}
        gs = {d: grams(t) for d, t in docs}
        out = {}
        ids = sorted(gs)
        for i, a in enumerate(ids):
            for b in ids[i + 1 :]:
                inter = len(gs[a] & gs[b])
                if inter:
                    j = inter / (len(gs[a]) + len(gs[b]) - inter)
                    if round(j, 6) >= threshold:
                        out[(a, b)] = round(j, 6)
        return out

    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(
            df, "text", "doc_id", n=3, threshold=0.1, max_df=50
        ).collect()
    }
    assert got == ref_pairs()


def test_cosine_topk_matches_sql_reference_with_margin_stress(spark):
    """The numpy scorer (fold-order accumulation + 2e-4 local-top-k
    margin) must reproduce the Catalyst-fold SQL reference exactly —
    stressed with many near-tied similarities (clustered vectors) so the
    margin and the rounded-ordering tiebreak both get exercised."""
    import numpy as np

    from statefulstreamprocessor_spark.operators.similarity import (
        cosine_sim_col,
        cosine_topk,
    )
    from pyspark.sql import Window

    rng = np.random.default_rng(11)
    base = rng.standard_normal((4, 16))
    rows = []
    for i in range(300):
        v = base[i % 4] + 1e-3 * rng.standard_normal(16)
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.filter(F.col("vec_id") % 29 == 0)

    got = cosine_topk(q, emb, "vec_id", "embedding", k=5)

    qq = q.select(F.col("vec_id").alias("q_vec_id"), F.col("embedding").alias("qv"))
    scored = (
        emb.crossJoin(F.broadcast(qq))
        .filter(F.col("vec_id") != F.col("q_vec_id"))
        .select(
            "q_vec_id",
            "vec_id",
            F.round(cosine_sim_col(F.col("qv"), F.col("embedding")), 4).alias("sim"),
        )
    )
    w = Window.partitionBy("q_vec_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    ref = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("q_vec_id", F.col("vec_id").alias("neighbor_id"), "sim", "rank")
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, ref.collect()))


def test_cosine_topk_empty_query_side(spark):
    from statefulstreamprocessor_spark.operators.similarity import cosine_topk

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, embedding array<float>"
    )
    out = cosine_topk(emb.filter("vec_id < 0"), emb, "vec_id", "embedding", k=2)
    assert out.count() == 0


def test_nn_join_array_compact_pairset_unchanged(spark, events=None):
    """array_compact(array(alpha, beta)) must emit exactly the non-null
    candidates in order — same pair bag as the lambda filter form."""
    from statefulstreamprocessor_spark.operators import nn_join

    rng = random.Random(3)
    rows = []
    for uid in range(20):
        t = 0
        for _ in range(rng.randint(1, 30)):
            t += rng.randint(1, 100)
            rows.append((uid, t, rng.random() < 0.5, t * 10 + uid))
    df = spark.createDataFrame(rows, "user_id int, ts long, r boolean, eid long")
    r = df.filter("r").drop("r")
    s = df.filter("not r").drop("r")
    out = nn_join(r, s, "user_id", "ts")
    # kernel reference
    from statefulstreamprocessor_spark.kernels import closure_pairs

    got = sorted(
        (row["user_id"], row["r_ts"], row["s_ts"]) for row in out.collect()
    )
    ref = []
    import collections

    import numpy as np

    by_uid_r = collections.defaultdict(list)
    by_uid_s = collections.defaultdict(list)
    for uid, t, is_r, eid in rows:
        (by_uid_r if is_r else by_uid_s)[uid].append(t)
    for uid in set(by_uid_r) | set(by_uid_s):
        rr = np.array(sorted(by_uid_r.get(uid, [])), dtype=np.int64)
        ss = np.array(sorted(by_uid_s.get(uid, [])), dtype=np.int64)
        if not len(rr) or not len(ss):
            continue
        ri, si = closure_pairs(rr, ss)
        for i, j in zip(ri, si):
            ref.append((uid, int(rr[i]), int(ss[j])))
    assert got == sorted(ref)


def test_nn_join_one_source_matches_two_frame(rand_events):
    """Single-scan CASE-tagged merged stream == two-filtered-frames union,
    including Δ-banded form and foreign side values being dropped."""
    from statefulstreamprocessor_spark.operators.nn_join import (
        nn_join,
        nn_join_one_source,
    )

    # inject a third side value that both forms must ignore
    extra = rand_events.limit(5).withColumn("side", F.lit("x"))
    ev = rand_events.unionByName(extra)
    r = ev.filter(F.col("side") == "r").drop("side")
    s = ev.filter(F.col("side") == "s").drop("side")
    for delta in (None, 3600.0):
        old = nn_join(r, s, "user_id", "ts", delta=delta)
        new = nn_join_one_source(
            ev, "user_id", "ts", "side", "r", "s", delta=delta
        )
        assert old.schema == new.schema
        assert sorted(map(tuple, old.collect())) == sorted(
            map(tuple, new.collect())
        )


def _asof_brute(left, right, direction, tolerance_us=None):
    """Pure-Python as-of: per left row, the nearest right row of its key
    in ``direction`` (inclusive at equal ts); equal right ts resolve to
    the MAX (backward) / MIN (forward) right payload (ts, value); a
    partner more than ``tolerance_us`` away is no partner."""
    out = []
    for k, t, v in left:
        if direction == "backward":
            cands = [(rt, rv) for rk, rt, rv in right if rk == k and rt <= t]
            best = max(cands, default=None)
        else:
            cands = [(rt, rv) for rk, rt, rv in right if rk == k and rt >= t]
            best = min(cands, default=None)
        if best is not None and tolerance_us is not None:
            if abs((best[0] - t) // dt.timedelta(microseconds=1)) > tolerance_us:
                best = None
        out.append((k, t, v, *(best or (None, None))))
    return sorted(out, key=repr)


def test_asof_matches_brute_force_reference(spark):
    """asof_join and both asof_join_banded forms == a pure-Python as-of:
    both directions, right-ts ties broken by the payload struct, and a
    tolerance met with |dt| exactly equal to it (and missed by 1 µs)."""
    from statefulstreamprocessor_spark.operators.asof import (
        asof_join,
        asof_join_banded,
    )

    rng = random.Random(13)
    t0 = dt.datetime(2024, 3, 1)
    tol_s = 600.0
    tol = dt.timedelta(seconds=tol_s)
    us = dt.timedelta(microseconds=1)
    left, right = [], []
    for k in range(8):
        for _ in range(25):
            t = t0 + dt.timedelta(seconds=rng.randrange(0, 4 * 3600, 30))
            side = right if rng.random() < 0.5 else left
            side.append((k, t, float(rng.randint(0, 9))))
    # equal-ts right rows with different payloads, and an equal-ts left row
    left.append((8, t0, 0.5))
    right += [(8, t0, 1.0), (8, t0, 7.0), (8, t0, 3.0)]
    # partners exactly at the tolerance (kept) and 1 µs beyond it (dropped)
    left += [(9, t0 + tol, 0.0), (10, t0 + tol + us, 0.0)]
    right += [(9, t0, 1.0), (9, t0 + 2 * tol, 2.0)]
    right += [(10, t0, 1.0), (10, t0 + 2 * tol + 2 * us, 2.0)]
    schema = "user_id int, ts timestamp_ntz, value double"
    ldf = spark.createDataFrame(left, schema)
    rdf = spark.createDataFrame(right, schema)

    def rows(df):
        return sorted(map(tuple, df.collect()), key=repr)

    for direction in ("backward", "forward"):
        free = _asof_brute(left, right, direction)
        cut = _asof_brute(left, right, direction, int(tol_s * 1_000_000))
        assert any(r[3] is not None for r in cut)
        assert free != cut
        kw = dict(keys="user_id", ts_col="ts", direction=direction)
        assert rows(asof_join(ldf, rdf, **kw)) == free
        assert rows(asof_join(ldf, rdf, tolerance=tol_s, **kw)) == cut
        assert rows(asof_join_banded(ldf, rdf, tolerance=tol_s, **kw)) == cut
        assert (
            rows(asof_join_banded(ldf, rdf, tolerance=tol_s, band_seconds=1800.0, **kw))
            == cut
        )
        assert rows(asof_join_banded(ldf, rdf, band_seconds=1800.0, **kw)) == free


def test_windowed_latest_pair_sql_tail_matches_column_reference(rand_events):
    """The SQL-expression-string aggregation tail (max_by + power
    derivation) == a per-Column reference built inline, bit-identical
    doubles included."""
    import math

    from pyspark.sql import functions as SF

    from statefulstreamprocessor_spark.operators.windows import (
        windowed_latest_pair,
    )

    out = windowed_latest_pair(
        rand_events, ["user_id"], "ts", "side", "value",
        "1 hour", "15 minutes",
    )
    is_r = SF.col("side") == "r"
    g = rand_events.groupBy(
        SF.window("ts", "1 hour", "15 minutes").alias("__w"), "user_id"
    )
    paired = g.agg(
        SF.max_by(
            SF.when(is_r, SF.struct(SF.col("ts").alias("t"), SF.col("value").alias("v"))),
            SF.when(is_r, SF.col("ts")),
        ).alias("__r"),
        SF.max_by(
            SF.when(~is_r, SF.struct(SF.col("ts").alias("t"), SF.col("value").alias("v"))),
            SF.when(~is_r, SF.col(("ts"))),
        ).alias("__s"),
    ).filter(SF.col("__r").isNotNull() & SF.col("__s").isNotNull())
    factor = 2 * math.pi / 60
    result = SF.least(
        SF.lit(20000.0), SF.abs(SF.lit(factor) * SF.col("__r.v") * SF.col("__s.v"))
    )
    ref = paired.select(
        SF.col("__w.start").alias("window_start"),
        SF.col("__w.end").alias("window_end"),
        "user_id",
        SF.col("__r.t").alias("r_ts"),
        SF.col("__r.v").alias("r_value"),
        SF.col("__s.t").alias("s_ts"),
        SF.col("__s.v").alias("s_value"),
        result.alias("result"),
        SF.least(SF.col("__r.t"), SF.col("__s.t")).alias("out_ts"),
        SF.floor(result / SF.lit(20000.1) * 5).cast("int").alias("level"),
    )
    # names + types; nullability is not part of the oracle contract (the
    # SQL-literal CAST makes `result`/`level` non-nullable where the
    # Column reference's F.lit form is nullable)
    assert [(f.name, f.dataType) for f in out.schema.fields] == [
        (f.name, f.dataType) for f in ref.schema.fields
    ]
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, ref.collect())
    )


@pytest.fixture(scope="module")
def messy_docs(spark):
    """Randomized docs with near-dup clusters, short docs, messy
    whitespace, empty and NULL texts — the shapes the minhash /
    decontamination gram arguments lean on."""
    rng = random.Random(23)
    words = [f"w{i}" for i in range(50)]
    rows = []
    doc_id = 0
    for cluster in range(20):
        base = [rng.choice(words) for _ in range(rng.randint(1, 60))]
        for variant in range(rng.randint(1, 5)):
            toks = list(base)
            for _ in range(rng.randint(0, 2)):
                if toks:
                    toks[rng.randrange(len(toks))] = rng.choice(words)
            sep = "  " if variant % 2 else " "
            rows.append((doc_id, sep.join(toks)))
            doc_id += 1
    rows += [(doc_id, ""), (doc_id + 1, None), (doc_id + 2, "one")]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_pair_explode_matches_nested_transform(messy_docs):
    """Round-7: the in-bucket pair generation moved from the interpreted
    nested transform/flatten form to chained codegen explodes — the
    (id_a, id_b, n_bands) multiset must be identical."""
    from statefulstreamprocessor_spark.operators.dedup import (
        band_bucket_explode,
        minhash_lsh_candidates,
        minhash_signature_udf,
    )

    docs = messy_docs.filter(F.length("text") >= 5)
    new = minhash_lsh_candidates(
        docs, "text", "doc_id", min_input_partitions=4
    )
    # the pre-round-7 nested-transform pairing, inline
    sig = minhash_signature_udf(5, 64)
    with_sig = docs.repartition(4).select(
        F.col("doc_id").alias("id"), sig(F.col("text")).alias("sig")
    )
    grouped = (
        band_bucket_explode(with_sig, 16, 4)
        .groupBy("band", "bucket")
        .agg(F.sort_array(F.collect_list("id")).alias("ids"))
        .withColumn("ids", F.slice("ids", 1, 64))
    )
    old = (
        grouped.filter(F.size("ids") > 1)
        .select(
            F.explode(
                F.filter(
                    F.flatten(
                        F.transform(
                            F.col("ids"),
                            lambda x: F.transform(
                                F.col("ids"),
                                lambda y: F.when(
                                    x < y, F.struct(x.alias("a"), y.alias("b"))
                                ),
                            ),
                        )
                    ),
                    lambda p: p.isNotNull(),
                )
            ).alias("p")
        )
        .select(F.col("p.a").alias("id_a"), F.col("p.b").alias("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_bands"))
    )
    got = sorted(map(tuple, new.collect()))
    assert got == sorted(map(tuple, old.collect()))
    assert len(got) > 0  # near-dup clusters must collide


def test_dot_fixed_sql_is_bit_equal_to_python_fold(spark):
    """Round-7: the unrolled dot/cosine parse as ONE SQL expression; the
    doubles must be bit-identical to an independent left fold in index
    order (IEEE doubles in Python and on the JVM), which pins the
    summation order."""
    import math
    import struct

    from statefulstreamprocessor_spark.operators.similarity import (
        _cosine_sim_fixed_sql,
        _dot_fixed_sql,
    )

    def fold_dot(a, b):
        acc = a[0] * b[0]
        for i in range(1, len(a)):
            acc = acc + a[i] * b[i]
        return acc

    def bits(x):
        return struct.pack("<d", x)

    rng = random.Random(11)
    dim = 64
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(dim)],
         [rng.uniform(-1, 1) for _ in range(dim)])
        for i in range(200)
    ]
    df = spark.createDataFrame(
        rows, "id long, a array<double>, b array<double>"
    )
    out = df.selectExpr(
        "id",
        f"{_dot_fixed_sql('a', 'b', dim)} AS dot_sql",
        f"{_cosine_sim_fixed_sql('a', 'b', dim)} AS cos_sql",
    ).collect()
    assert len(out) == len(rows)
    for r in out:
        _, a, b = rows[r["id"]]
        assert bits(r["dot_sql"]) == bits(fold_dot(a, b))
        cos = fold_dot(a, b) / (
            math.sqrt(fold_dot(a, a)) * math.sqrt(fold_dot(b, b))
        )
        assert bits(r["cos_sql"]) == bits(cos)


def test_hashed_char_gram_rescore_matches_string_reference(spark, request):
    """Round-7: the minhash rescore carries char-5-grams as xxhash64
    longs; the per-pair jaccard must equal the string-set form on messy
    near-dup texts (collision-free by construction here, as on the gate
    data — the all-pairs oracle would catch a real collision)."""
    rng = random.Random(5)
    alphabet = "abcdef gh"
    rows = []
    for i in range(60):
        base = "".join(rng.choice(alphabet) for _ in range(rng.randint(5, 120)))
        rows.append((2 * i, base))
        # near-dup: one edit
        pos = rng.randrange(len(base))
        rows.append((2 * i + 1, base[:pos] + rng.choice(alphabet) + base[pos + 1:]))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    import sys as _sys

    _sys.path.insert(0, "/root/repo")
    import __spark_entry__ as entry_mod

    hashed = docs.select(
        "doc_id", entry_mod._char_gram_set(F.col("text")).alias("g")
    )
    strings = docs.select(
        "doc_id",
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.length("text") - 5),
                lambda i: F.col("text").substr(i + 1, F.lit(5)),
            )
        ).alias("g"),
    )
    pairs = spark.createDataFrame(
        [(2 * i, 2 * i + 1) for i in range(60)], "id_a long, id_b long"
    )

    def jacc(grams):
        ga = grams.select(F.col("doc_id").alias("id_a"), F.col("g").alias("ga"))
        gb = grams.select(F.col("doc_id").alias("id_b"), F.col("g").alias("gb"))
        ni = F.size(F.array_intersect("ga", "gb"))
        return (
            pairs.join(ga, "id_a").join(gb, "id_b")
            .select(
                "id_a", "id_b",
                F.round(ni / (F.size("ga") + F.size("gb") - ni), 6).alias("j"),
            )
        )

    assert sorted(map(tuple, jacc(hashed).collect())) == sorted(
        map(tuple, jacc(strings).collect())
    )
