"""DSIR-style data selection via importance resampling (Xie et al. 2023,
arXiv:2302.03169): score every document by how much more likely its
hashed n-gram bag is under a TARGET distribution (a trusted/high-quality
subset) than under the RAW corpus distribution, then keep the top of the
ranking — the standard recipe for tilting a 100 TB crawl toward a small
curated corpus without training a classifier.

Pipeline (each step one DataFrame op, no Python in the hot path):

1. features — word unigrams + bigrams hashed into ``n_buckets`` buckets
   (:func:`hashed_ngram_counts`): one projection + one explode + one
   (id, bucket) combine-aggregated shuffle;
2. bucket log-ratios — ONE bucket-level aggregate computing both
   distributions at once (target membership as a join marker), sized
   ``n_buckets`` rows (:func:`dsir_bucket_ratios`), fixed-point
   micro-nats:
   ``r[b] = floor(1e6 · ln( (p[b]+1)(q_tot+B) / ((q[b]+1)(p_tot+B)) ))``
   — add-one smoothing, products computed in double in a pinned order so
   any SQL engine reproduces the exact same IEEE value;
3. per-doc score — broadcast-join the B-row ratio table onto the counts
   and sum ``c·r[b]`` per doc (:func:`dsir_scores`): EXACT integer
   arithmetic from here on, so engine-independent;
4. selection — top-k by (score DESC, id ASC) via one distributed
   TakeOrdered of the k-th threshold + a broadcast compare
   (:func:`dsir_selected`) — no global sort, no single-partition window.

With ``hash_fn="md5"`` every stage is reproducible by a plain SQL oracle
(functions/hashing.py contract); the only cross-engine float ops are one
double division and one ``ln``, both on identical inputs, and the
micro-nat floor makes a verdict flip require the true value within ~1e-10
of an integer boundary.

Reference parity note: the reference engine (mhelmstetter/oplog-analyzer)
has no corpus-selection surface; this operator belongs to the SURVEY
§2.11 training-data family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .hashing import seeded_hash
from .textstats import tokens
from ..sources.tables import fan_out


def hashed_ngram_counts(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 64,
    seed: int = 7,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Per-doc hashed n-gram bag: ``(id, bucket, c)`` over word unigrams
    and space-joined bigrams, ``bucket = seeded_hash(gram) mod n_buckets``.

    Plan: the gram array is MATERIALIZED in its own projection before the
    explode (the explode_outer + isNotNull pattern —
    InferFiltersFromGenerate otherwise stamps the whole array expression
    into an inferred pre-filter, see dedup.ngram_jaccard_pairs), then one
    map-side-combinable (id, bucket) aggregate.  Empty documents tokenize
    to an empty array and simply vanish here; callers re-attach them with
    a left join (see :func:`dsir_scores`)."""
    w = fan_out(df, id_col).select(F.col(id_col).alias("id"), tokens(text_col).alias("w"))
    n1 = F.greatest(F.size("w") - 1, F.lit(0))
    bigrams = F.zip_with(
        F.slice("w", 1, n1),
        F.slice("w", 2, n1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    grams = w.select("id", F.concat(F.col("w"), bigrams).alias("grams"))
    exploded = grams.select("id", F.explode_outer("grams").alias("g")).filter(
        F.col("g").isNotNull()
    )
    return exploded.groupBy(
        "id",
        F.pmod(seeded_hash(seed, F.col("g"), hash_fn), F.lit(n_buckets)).alias(
            "bucket"
        ),
    ).agg(F.count(F.lit(1)).alias("c"))


def dsir_bucket_ratios(
    counts: DataFrame,
    target_ids: DataFrame,
    n_buckets: int = 64,
) -> DataFrame:
    """Per-bucket importance log-ratio in micro-nats:

    ``r_micro[b] = floor(1e6 · ln( ((p[b]+1)·(q_tot+B)) /
    ((q[b]+1)·(p_tot+B)) ))``

    where p = target bucket counts (``counts`` of the ids in
    ``target_ids``, a one-column id frame), q = raw bucket counts, and B
    = ``n_buckets`` (add-one smoothing over the bucket vocabulary).
    Returns ``(bucket, p_cnt, q_cnt, r_micro)`` — B rows, broadcast-sized
    by construction.  Products are cast to double BEFORE multiplying, in
    this exact order, so an external SQL oracle reproduces the IEEE value
    bit-for-bit (and so counts past 2^53 degrade gracefully instead of
    overflowing int64 at extreme scale)."""
    tgt = target_ids.toDF("id").distinct().withColumn("__t", F.lit(1))
    # ONE pass over counts computes both distributions (a separate
    # semi-joined aggregate would re-execute the whole feature subtree —
    # explode included — a second time); totals come from the B-row
    # bucket aggregate, not another corpus pass
    agg = (
        counts.join(tgt, "id", "left")
        .groupBy("bucket")
        .agg(
            F.sum("c").alias("q_cnt"),
            F.sum(
                F.when(F.col("__t").isNotNull(), F.col("c")).otherwise(F.lit(0))
            ).alias("p_cnt"),
        )
    )
    totals = agg.agg(
        F.sum("q_cnt").alias("q_tot"), F.sum("p_cnt").alias("p_tot")
    )
    joined = agg.crossJoin(F.broadcast(totals))
    b = F.lit(n_buckets)
    num = (F.col("p_cnt") + 1).cast("double") * (F.col("q_tot") + b).cast("double")
    den = (F.col("q_cnt") + 1).cast("double") * (F.col("p_tot") + b).cast("double")
    return joined.select(
        "bucket",
        "p_cnt",
        "q_cnt",
        F.floor(F.log(num / den) * F.lit(1000000.0)).cast("long").alias("r_micro"),
    )


def dsir_scores(
    df: DataFrame,
    counts: DataFrame,
    ratios: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-doc importance score: ``(id, n_feats, score_micro,
    score_per_feat)`` — ``score_micro = Σ_b c[b]·r_micro[b]`` (exact
    integer arithmetic), ``score_per_feat`` the length-normalized variant
    (``floor(score_micro / n_feats)``; raw DSIR weight favors long docs).
    Docs with no features (empty text) re-attach with (0, 0, 0).  One
    broadcast join (the ratio table is B rows) + one combine-aggregated
    shuffle on id."""
    s = (
        counts.join(F.broadcast(ratios.select("bucket", "r_micro")), "bucket")
        .groupBy("id")
        .agg(
            F.sum("c").alias("n_feats"),
            F.sum(F.col("c") * F.col("r_micro")).alias("score_micro"),
        )
    )
    return (
        df.select(F.col(id_col).alias("id"))
        .join(s, "id", "left")
        .select(
            "id",
            F.coalesce("n_feats", F.lit(0)).alias("n_feats"),
            F.coalesce("score_micro", F.lit(0)).alias("score_micro"),
            F.when(F.coalesce("n_feats", F.lit(0)) == 0, F.lit(0))
            .otherwise(F.floor(F.col("score_micro") / F.col("n_feats")))
            .cast("long")
            .alias("score_per_feat"),
        )
    )


def dsir_selected(scores: DataFrame, k: int) -> DataFrame:
    """Mark the top-``k`` docs by (score_micro DESC, id ASC) with a
    ``selected`` boolean — WITHOUT a global sort: one distributed
    TakeOrdered of the k-th (negated-score, id) threshold (bounded
    k-row collect of 2 longs) and one broadcast struct compare.  Fewer
    than k docs ⇒ everything is selected."""
    key = F.struct((-F.col("score_micro")).alias("ns"), F.col("id").alias("i"))
    kth = (
        scores.select(key.alias("k"))
        .orderBy("k")
        .limit(k)
        .agg(F.max("k").alias("kth"))
        .collect()[0]["kth"]
    )
    if kth is None:  # empty input
        return scores.withColumn("selected", F.lit(False))
    # the id passes through UNCOERCED (ADVICE r06): int() raised on
    # string id columns, which run_dataset's --id-col/--dsir-select
    # exposes (uniform_sample_k already passed the raw value)
    thr = F.struct(
        F.lit(int(kth["ns"])).alias("ns"), F.lit(kth["i"]).alias("i")
    )
    return scores.withColumn("selected", key <= thr)


def dsir_weights(
    df: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 64,
    seed: int = 7,
    hash_fn: str = "xxhash64",
    k: int | None = None,
    persist_registry: list | None = None,
) -> DataFrame:
    """The composed DSIR frame: hashed features → bucket log-ratios
    (against ``target``, a frame carrying ``id_col``) → per-doc scores,
    plus the top-``k`` ``selected`` verdict when ``k`` is given.

    The counts frame has two consumers (the ratio aggregate and the score
    join) plus the k-th-threshold probe, so it is persisted — without
    that, Spark re-executes the tokenize→explode→aggregate subtree once
    per consumer (the dominant cost at corpus scale).  The cache is left
    to LRU eviction (one (id, bucket≤B, c) frame, far smaller than the
    corpus text) unless the caller passes ``persist_registry``."""
    counts = hashed_ngram_counts(
        df, id_col, text_col, n_buckets, seed, hash_fn
    ).persist()
    if persist_registry is not None:
        persist_registry.append(counts)
    ratios = dsir_bucket_ratios(counts, target.select(id_col), n_buckets)
    scores = dsir_scores(df, counts, ratios, id_col)
    if k is None:
        return scores
    # the selection reads scores twice (the k-th-threshold probe is an
    # action, then the caller's own action recomputes the frame); scores is
    # one skinny row per doc, so cache it and both passes — including the
    # ratio aggregate feeding its broadcast join — run once
    scores = scores.persist()
    if persist_registry is not None:
        persist_registry.append(scores)
    return dsir_selected(scores, k)
