"""Deduplication operators for large-scale training-data pipelines.

All operators are shuffle-conscious compositions of DataFrame primitives:

* exact_dedup — hash groupBy on content (one shuffle, map-side partial agg);
* minhash_lsh_candidates — shingle → 64-permutation MinHash signature
  (vectorized numpy in a pandas UDF) → banded LSH bucketing (explode bands,
  one shuffle on (band, bucket-hash)) → candidate pairs; verified with exact
  shingle-set Jaccard. At 100 TB scale this is the standard near-dup sweep:
  candidates per band-bucket are quadratic only within a bucket, and hot
  buckets are capped (``max_bucket_size``) with the overflow logged rather
  than silently exploding a partition;
* simhash_candidates — 64-bit SimHash + pigeonhole chunk bucketing for
  hamming-distance ≤ 3;
* ngram_jaccard_pairs — exact n-gram Jaccard via token self-join (pure
  Catalyst, SQL-parity-checkable).

Hashing uses blake2b (MinHash shingles) and md5 (SimHash grams — md5 is
recomputable in DuckDB SQL for the driver-gate oracle); both are stable
across platforms/processes — never Python's salted ``hash``.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

from .sqlident import quote_ident

__all__ = [
    "exact_dedup",
    "minhash_signature_udf",
    "minhash_lsh_candidates",
    "simhash_udf",
    "simhash_candidates",
    "ngram_jaccard_pairs",
    "minhash_signature_py",
    "simhash_py",
]

_MERSENNE = (1 << 61) - 1
_N_PERM = 64

def _perm_params(n_perm: int = _N_PERM, seed: int = 1234) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.Generator(np.random.PCG64(seed))
    a = rng.integers(1, _MERSENNE, size=n_perm, dtype=np.int64)
    b = rng.integers(0, _MERSENNE, size=n_perm, dtype=np.int64)
    return a, b


def _shingle_hashes(text: str, k: int) -> np.ndarray:
    if not text or len(text) < k:
        return np.array([0], dtype=np.uint64)
    hs = {
        int.from_bytes(
            hashlib.blake2b(text[i : i + k].encode(), digest_size=8).digest(), "big"
        )
        for i in range(len(text) - k + 1)
    }
    return np.fromiter(hs, dtype=np.uint64, count=len(hs))


def minhash_signature_py(text: str, k: int = 5, n_perm: int = _N_PERM) -> list[int]:
    """Pure-python/numpy oracle + kernel: 64-permutation MinHash."""
    a, b = _perm_params(n_perm)
    h = _shingle_hashes(text, k).astype(np.object_)  # python ints: exact mod
    sigs = []
    for i in range(n_perm):
        vals = (int(a[i]) * h + int(b[i])) % _MERSENNE
        sigs.append(int(vals.min()))
    return sigs


def minhash_signature_udf(k: int = 5, n_perm: int = _N_PERM):
    a, b = _perm_params(n_perm)
    a_i = [int(x) for x in a]
    b_i = [int(x) for x in b]

    @F.pandas_udf(ArrayType(LongType()))
    def sig(text: pd.Series) -> pd.Series:
        out = []
        for t in text:
            h = _shingle_hashes(t or "", k)
            # exact 61-bit modular arithmetic via python ints (vector small)
            hv = h.astype(np.object_)
            out.append(
                [int(((ai * hv + bi) % _MERSENNE).min()) for ai, bi in zip(a_i, b_i)]
            )
        return pd.Series(out)

    return sig


def exact_dedup(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """Keep the minimum id per identical content; report duplicate count."""
    return df.groupBy(content_col).agg(
        F.min(id_col).alias(f"keep_{id_col}"),
        F.count(F.lit(1)).alias("dupes"),
    )


def band_bucket_explode(
    with_sig: DataFrame, bands: int, rows_per_band: int
) -> DataFrame:
    """(id, sig) → one row per (id, band, bucket): the LSH banding —
    bucket = xxhash64 of the band's signature slice. Factored out so the
    batch sweep (:func:`minhash_lsh_candidates`) and the streaming sweep
    (``streaming/neardup.py``) bucket IDENTICALLY by construction —
    their candidate sets can then be compared row-for-row."""
    return (
        with_sig.select(
            "id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(bands - 1)),
                    lambda b: F.struct(
                        b.alias("band"),
                        F.xxhash64(
                            F.slice(
                                F.col("sig"),
                                b * rows_per_band + 1,
                                rows_per_band,
                            ).cast("string")
                        ).alias("bucket"),
                    ),
                )
            ).alias("bb"),
        )
        .select(
            "id",
            F.col("bb.band").alias("band"),
            F.col("bb.bucket").alias("bucket"),
        )
    )


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 5,
    n_perm: int = _N_PERM,
    bands: int = 16,
    max_bucket_size: int = 64,
    min_input_partitions: int | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash LSH.

    Returns (id_a, id_b, n_bands) with id_a < id_b. Buckets larger than
    ``max_bucket_size`` are deterministically truncated to their smallest
    ids — bounded per-bucket work, no quadratic blowup on degenerate
    buckets (the truncation is an explicit recall/cost knob).

    ``min_input_partitions``: the signature UDF runs map-side on the
    scan's splits — a few-row-group local input otherwise computes EVERY
    signature on one task (measured 17 s serial vs 1.5 s at 32-way on
    5k docs at sf0.1; same knob and rationale as
    :func:`ngram_jaccard_pairs`). Leave None on many-split cluster scans.
    """
    rows_per_band = n_perm // bands
    if min_input_partitions is not None:
        df = df.repartition(min_input_partitions)
    sig = minhash_signature_udf(k, n_perm)
    with_sig = df.select(F.col(id_col).alias("id"), sig(F.col(text_col)).alias("sig"))
    banded = band_bucket_explode(with_sig, bands, rows_per_band)
    grouped = banded.groupBy("band", "bucket").agg(
        F.sort_array(F.collect_list("id")).alias("ids")
    )
    grouped = grouped.withColumn("ids", F.slice("ids", 1, max_bucket_size))
    # in-bucket ordered pairs as two chained explodes of a plain column —
    # whole-stage-codegen'd, like ngram_jaccard_pairs' bucket pairing.
    # The previous nested transform/flatten/filter higher-order form runs
    # INTERPRETED (CodegenFallback) per pair slot: measured 17.2 s for the
    # candidate stage at sf0.1 (9.6k buckets, 137k pair slots) vs 1.6 s
    # with the explodes — identical pair multiset, optimization round 7.
    pairs = (
        grouped.filter(F.size("ids") > 1)
        .select("ids", F.explode("ids").alias("a"))
        .select("a", F.explode("ids").alias("b"))
        .filter(F.col("a") < F.col("b"))
        .select(F.col("a").alias("id_a"), F.col("b").alias("id_b"))
    )
    return pairs.groupBy("id_a", "id_b").agg(F.count(F.lit(1)).alias("n_bands"))


def simhash_py(text: str, k: int = 3) -> int:
    """64-bit SimHash over word k-grams (signed, for BIGINT columns).

    The per-gram hash is the first 8 bytes of md5 (big-endian) — md5 exists
    in both Spark and DuckDB, so the signature is recomputable in pure SQL
    (the driver-gate oracle does exactly that from the md5 hex digits).
    """
    toks = (text or "").lower().split()
    grams = (
        [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]
        if len(toks) >= k
        else toks or [""]
    )
    acc = np.zeros(64, dtype=np.int64)
    for g in grams:
        h = np.uint64(
            int.from_bytes(hashlib.md5(g.encode()).digest()[:8], "big")
        )
        bits = (h >> np.arange(64, dtype=np.uint64)) & np.uint64(1)
        acc += np.where(bits == 1, 1, -1)
    v = 0
    for i in range(64):
        if acc[i] > 0:
            v |= 1 << i
    return v - (1 << 64) if v >= (1 << 63) else v


def simhash_udf(k: int = 3):
    @F.pandas_udf(LongType())
    def sh(text: pd.Series) -> pd.Series:
        return text.map(lambda t: simhash_py(t or "", k))

    return sh


def simhash_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    chunks: int = 4,
    max_bucket_size: int = 1024,
    min_input_partitions: int | None = None,
) -> DataFrame:
    """Hamming-≤(chunks-1) candidates by pigeonhole chunk equality.

    Physical shape mirrors :func:`minhash_lsh_candidates`: ONE hash exchange
    on (chunk, val), per-bucket collect of (id, h) structs sorted and
    deterministically truncated to the ``max_bucket_size`` smallest ids,
    then a bounded ordered-pair explode. A (chunk, val) self-join (the
    previous formulation) pairs every document sharing a 16-bit chunk value
    — a degenerate corpus region (boilerplate/empty texts → identical
    signatures) makes that a d²/2 hot key. The truncation is an explicit
    recall/cost knob, observable (not silent) via the
    ``simhash_capped_buckets`` ``observe()`` metric.
    """
    # fan the signature UDF out of a few-split scan (same knob and
    # rationale as minhash_lsh_candidates / ngram_jaccard_pairs)
    if min_input_partitions is not None:
        df = df.repartition(min_input_partitions)
    sh = simhash_udf(k)
    with_h = df.select(F.col(id_col).alias("id"), sh(F.col(text_col)).alias("h"))
    width = 64 // chunks
    mask = (1 << width) - 1
    chunked = with_h.select(
        "id",
        "h",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftrightunsigned(F.col("h"), c * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("val"),
                    )
                    for c in range(chunks)
                ]
            )
        ).alias("cc"),
    ).select("id", "h", F.col("cc.chunk").alias("chunk"), F.col("cc.val").alias("val"))
    grouped = (
        chunked.groupBy("chunk", "val")
        .agg(F.array_sort(F.collect_list(F.struct("id", "h"))).alias("ds"))
        .observe(
            f"simhash_cap_{chunks}_{max_bucket_size}",
            F.count(F.when(F.size("ds") > max_bucket_size, 1)).alias(
                "simhash_capped_buckets"
            ),
        )
        .withColumn("ds", F.slice("ds", 1, max_bucket_size))
        .filter(F.size("ds") >= 2)
    )
    # ordered pairs within the bucket's (bounded) doc list — two chained
    # plain-column explodes (codegen'd; see ngram_jaccard_pairs)
    pairs = (
        grouped.select("ds", F.explode("ds").alias("a"))
        .select("a", F.explode("ds").alias("b"))
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.h").alias("h_a"),
            F.col("b.h").alias("h_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    return pairs.select("id_a", "id_b", hamming.alias("hamming"))


def connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 25,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Connected components: min-label propagation + pointer doubling.

    The dedup-clustering step after candidate generation: every document in
    a near-dup component gets the component's minimum id as ``cluster_id``.
    Each round does (a) one-hop neighbor-min propagation and (b) a pointer
    jump ``comp ← comp[comp]`` that halves remaining label-chain length, so
    convergence needs O(log diameter) rounds instead of O(diameter) — two
    shuffles + one convergence ``count()`` action per round. Deterministic.

    ``checkpoint_dir``: when given, iterative lineage is truncated with
    RELIABLE checkpoints (survives executor loss — required for long runs
    on a real cluster); default is ``localCheckpoint`` (executor-local
    blocks, fine for short local jobs). Round count is logged.
    """
    spark = vertices.sparkSession
    if checkpoint_dir is not None:
        spark.sparkContext.setCheckpointDir(checkpoint_dir)

    def _ckpt(df: DataFrame) -> DataFrame:
        return df.checkpoint(eager=True) if checkpoint_dir else df.localCheckpoint()

    sym = edges.select(
        F.col(src_col).alias("a"), F.col(dst_col).alias("b")
    ).unionByName(
        edges.select(F.col(dst_col).alias("a"), F.col(src_col).alias("b"))
    )
    labels = _ckpt(
        vertices.select(F.col(id_col).alias("id"), F.col(id_col).alias("comp"))
    )
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        # (a) one-hop: min label over neighbors
        neigh = (
            sym.join(labels, sym["a"] == labels["id"])
            .groupBy(F.col("b").alias("id2"))
            .agg(F.min("comp").alias("n_comp"))
        )
        hop = labels.join(neigh, labels["id"] == neigh["id2"], "left").select(
            "id",
            F.least(
                F.col("comp"), F.coalesce(F.col("n_comp"), F.col("comp"))
            ).alias("comp"),
        )
        # (b) pointer doubling: comp ← comp[comp] (labels are node ids, so
        # every comp resolves; left join guards the self-label fixpoint)
        ptr = hop.select(F.col("id").alias("pid"), F.col("comp").alias("pcomp"))
        new_labels = _ckpt(
            hop.join(ptr, hop["comp"] == ptr["pid"], "left").select(
                "id", F.coalesce(F.col("pcomp"), F.col("comp")).alias("comp")
            )
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.comp") != F.col("o.comp"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    import logging

    logging.getLogger(__name__).info(
        "connected_components converged in %d rounds (max_iter=%d)",
        rounds, max_iter,
    )
    return labels.select(F.col("id"), F.col("comp").alias("cluster_id"))


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.4,
    max_df: int | None = None,
    min_input_partitions: int | None = None,
) -> DataFrame:
    """Exact word-n-gram Jaccard similarity pairs (pure Catalyst).

    grams per doc → explode → self-join on gram (one shuffle) → count
    intersections, |∪| = |A|+|B|−|∩|. SQL-expressible, oracle-checked.

    ``max_df`` caps the gram document frequency: grams present in more
    than ``max_df`` documents are dropped BEFORE pairing (mirroring the
    ``max_bucket_size`` cap in :func:`minhash_lsh_candidates`). Without it
    a single boilerplate gram shared by d documents contributes d²/2 pair
    rows — a stage-killing hot key at corpus scale. The denominator
    |A|+|B|−|∩| keeps the FULL distinct-gram counts, so the statistic is
    "Jaccard with common-gram evidence removed" — pairs whose overlap is
    only boilerplate no longer qualify (the desired behavior for near-dup
    mining). The cap is observable, not silent: the plan carries an
    ``observe`` metric ``ngram_capped_grams`` readable via a
    QueryExecutionListener.

    Physical shape with ``max_df``: ONE scan of the corpus → explode
    distinct grams → hash exchange on gram → per-gram doc-list collect +
    size filter → ordered-pair explode (≤ max_df²/2 per gram, bounded) →
    hash exchange on (id_a, id_b) count. A self-join formulation would
    scan + tokenize the corpus once per branch (measured 3× slower at
    sf0.1) and hot grams would skew the join exchange.

    Grams are carried as 64-bit xxhash of the token window — never
    materialized as strings (token lists have no space ambiguity, so hash
    equality == gram-string equality modulo 64-bit collisions). Distinct
    counts and the Jaccard values are identical to the string formulation
    (oracle-checked).

    ``min_input_partitions``: tokenization is map-side, so its parallelism
    equals the scan's split count. On a real cluster with thousands of
    splits leave None; for few-row-group local inputs set it to the core
    count (one small extra exchange of the raw text).
    """
    # NULL text yields NULL grams (split(NULL) is NULL): in the max_df
    # branch those docs would share a gram-IS-NULL bucket with
    # n_grams = size(NULL) = -1 and survive only by the Jaccard going
    # negative — exclude them explicitly instead (ADVICE round-2 fix)
    df = df.filter(f"{quote_ident(text_col)} IS NOT NULL")
    if min_input_partitions is not None:
        df = df.repartition(min_input_partitions)
    # Built as SQL strings (optimization round 7, guide §1.2 step 2): the
    # per-Column construction of this plan cost ~900 py4j socket
    # round-trips (~0.2 s of driver time per build, measured with
    # cProfile); SQL strings parse JVM-side in one RPC per select.
    # Catalyst's structural equality makes the repeated `split(...)`
    # subtrees CSE exactly as a reused Column object does.
    #
    # Lambda-free gram construction: the transform(sequence,
    # xxhash64(slice)) higher-order form is CodegenFallback — every gram
    # evaluated interpreted, measured 2.0 s vs 0.8 s at sf1.0 for this
    # stage. arrays_zip of n shifted slices builds the same token windows
    # as native (codegen'd) collection ops: element i of the zip is
    # (tok[i], tok[i+1], …, tok[i+n-1]) with NULL padding past the end —
    # and since split() never yields NULL tokens, NULL marks "past end"
    # uniquely, so struct equality == token-window equality including the
    # short-document (< n tokens) single-gram case. array_distinct runs on
    # the structs (collision-free, exactly the string semantics the oracle
    # computes) and each distinct gram is hashed AFTER the explode — one
    # codegen'd xxhash64 per row. Hash equality classes are unchanged
    # (xxhash64 chains per field with the running hash as seed, exactly as
    # it chains array elements).
    toks = f"split(lower(trim({quote_ident(text_col)})), '\\\\s+')"
    n_win = f"greatest(size({toks}) - {n - 1}, 1)"
    zips = "arrays_zip(" + ", ".join(
        f"slice({toks}, {i + 1}, {n_win})" for i in range(n)
    ) + ")"
    # explode_outer, NOT explode: explode makes the optimizer infer a
    # size(grams) > 0 filter and push it below the repartition exchange,
    # re-evaluating the whole gram expression serially on the scan task —
    # measured 3.5 s of single-task CPU at sf0.1. With NULL text filtered
    # above, the gram array is non-null and never empty (n_win >= 1), so
    # the null row of explode_outer cannot occur.
    g = (
        df.selectExpr(
            f"{quote_ident(id_col)} AS id", f"array_distinct({zips}) AS __dz"
        )
        .selectExpr("id", "size(__dz) AS n_grams", "explode_outer(__dz) AS __gs")
        .selectExpr("id", "n_grams", "xxhash64(__gs) AS gram")
    )
    if max_df is not None:
        grouped = g.groupBy("gram").agg(
            F.expr("collect_list(struct(id, n_grams))").alias("ds")
        )
        grouped = grouped.observe(
            f"ngram_df_cap_{threshold}_{max_df}",
            F.expr(f"count(CASE WHEN size(ds) > {max_df} THEN 1 END)").alias(
                "ngram_capped_grams"
            ),
        ).filter(f"size(ds) <= {max_df} AND size(ds) >= 2")
        # ordered pairs within the gram's (bounded) doc list — two chained
        # explodes of plain columns (whole-stage-codegen'd; a higher-order
        # flatten/transform here runs interpreted, ~10× slower per pair)
        pairs = (
            grouped.selectExpr("ds", "explode(ds) AS a")
            .selectExpr("a", "explode(ds) AS b")
            .filter("a.id < b.id")
        )
    else:
        pairs = g.alias("a").join(
            g.alias("b"), F.expr("a.gram = b.gram AND a.id < b.id")
        )
    inter = pairs.groupBy(
        F.expr("a.id").alias("id_a"),
        F.expr("b.id").alias("id_b"),
        F.expr("a.n_grams").alias("na"),
        F.expr("b.n_grams").alias("nb"),
    ).agg(F.expr("count(1)").alias("n_inter"))
    return inter.selectExpr(
        "id_a",
        "id_b",
        "round(n_inter / (na + nb - n_inter), 6) AS jaccard",
    ).filter(f"jaccard >= CAST('{float(threshold)!r}' AS DOUBLE)")


def winnow_shared_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_shared: int = 5,
    k: int = 8,
    window: int = 4,
    max_bucket_size: int = 16,
) -> DataFrame:
    """Substring-level near-dup candidates by SHARED WINNOWING
    FINGERPRINTS (the MOSS/"deduplicating training data" shape): two
    documents sharing ``min_shared`` selected k-gram fingerprints overlap
    in real substrings even when word-level similarity is low — the
    plagiarism/quotation/template case the set-based dedups miss.

    Output: ``id_a`` | ``id_b`` | ``n_shared`` (distinct shared
    fingerprints, ≥ min_shared).

    Physical shape mirrors :func:`simhash_candidates`: per-doc DISTINCT
    fingerprints (vectorized numpy rolling-hash UDF) → ONE hash exchange
    on the fingerprint → per-bucket sorted id list deterministically
    truncated at ``max_bucket_size`` smallest ids (a boilerplate
    substring shared by d docs is a d²/2 hot key otherwise — the cap is
    the explicit recall/cost knob, observable via the
    ``winnow_capped_buckets`` ``observe()`` metric) → bounded
    ordered-pair explode → map-side-combinable pair count.
    """
    from statefulstreamprocessor_spark.functions.textops import (
        winnow_fingerprints_udf,
    )

    fp_udf = winnow_fingerprints_udf(k, window)
    fps = (
        df.select(
            F.col(id_col).alias("id"),
            F.explode_outer(
                F.array_distinct(fp_udf(F.col(text_col)))
            ).alias("fp"),
        )
        .filter(F.col("fp").isNotNull())
    )
    grouped = (
        fps.groupBy("fp")
        .agg(F.array_sort(F.collect_list("id")).alias("ids"))
        .observe(
            f"winnow_pairs_cap_{k}_{window}_{max_bucket_size}",
            F.count(F.when(F.size("ids") > max_bucket_size, 1)).alias(
                "winnow_capped_buckets"
            ),
        )
        .withColumn("ids", F.slice("ids", 1, max_bucket_size))
        .filter(F.size("ids") >= 2)
    )
    pairs = (
        grouped.select("ids", F.explode("ids").alias("a"))
        .select("a", F.explode("ids").alias("b"))
        .filter(F.col("a") < F.col("b"))
        .select(F.col("a").alias("id_a"), F.col("b").alias("id_b"))
    )
    return (
        pairs.groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
