"""Streaming deduplication — exact (:class:`DedupStream`), minhash/LSH
near-dup (:class:`NearDupStream`) and embedding near-dup
(:class:`EmbNearDupStream`) admission across an unbounded feed, on the
shared micro-batch protocol (``streaming/microbatch.py``: source, drain
and continuous triggers, checkpoint resume, meta pin, graceful stop).

The batch §2.11 family dedups a bounded corpus; a continuously-ingesting
training pipeline needs the STREAMING form: documents arrive in micro-
batches (crawl dumps landing in a bucket), and the pipeline must admit the
first copy of each normalized text while counting the duplicates it turns
away — across micro-batches, across drains, across restarts.

Design — merge-safe partials, the same algebra the tail accumulator uses
(``streaming/tail.py``), not ``applyInPandasWithState``:

  per batch   one hash aggregate of the micro-batch:
                (text_hash, min_id within batch, count)
              written to its own ``batch_id=<k>/`` partition;
  admitted()  one aggregate over the partials: per hash the winner is
              min(struct(batch_id, min_id)) — FIRST batch that saw the
              hash wins, ties inside a batch to the smaller id — plus the
              cumulative duplicate count.  Partials are group-count-sized
              (distinct hashes per batch), never row-sized.

Why not applyInPandasWithState: admission state here is a pure min — a
commutative/idempotent reduction that the partials algebra handles with
ONE aggregate at read time and zero Python in the stream.  The state-store
form adds a per-key Python round-trip per batch and pins every admitted
hash in the state store forever (unbounded state, no watermark can evict
it — a duplicate may arrive years later).

Determinism contract: the admitted id per hash depends on ARRIVAL order
(which batch saw the hash first) — inherent to any streaming dedup.  When
the feed is id-ordered (files land in key order), the admitted set equals
the batch-mode ``exact_dedup`` keep set (min id per normalized text); the
driver row ``stream_dedup_admitted`` certifies exactly that equivalence,
and the kill/resume pytest certifies checkpointed-offset resume (only the
delta is re-read, replayed batches rewrite identical partials).

Reference anchor: the reference tails an oplog but never dedups it
(TailCommand.java has no distinct-admission path); this module composes
its resumable-tail machinery (checkpoint + idempotent per-batch sinks +
merge-safe partials) with the §2.11 dedup semantics — beyond-reference by
design (SURVEY §2.11).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .microbatch import MicroBatchStream

#: default feed schema — the documents table shape
DOCS_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"

#: default feed schema for the embedding stream — the embeddings table shape
EMB_SCHEMA = "vec_id long, embedding array<float>, label int"


def _verdicts(index: DataFrame, rejects: DataFrame) -> DataFrame:
    """``(id, batch_id, admitted)`` for every id in a near-dup stream's
    index: one anti-join-shaped left join against the append-only reject
    set."""
    rej = rejects.select("id").distinct().withColumn("__rej", F.lit(1))
    return index.select("id", "batch_id").join(rej, "id", "left").select(
        "id", "batch_id", F.col("__rej").isNull().alias("admitted")
    )


class DedupStream(MicroBatchStream):
    """Resumable streaming exact-dedup over a growing parquet directory.

    ``work_dir`` holds the stream checkpoint and the cumulative partials;
    the meaning-defining options (id/text column, feed schema) are pinned
    in ``dedup_meta.json``: merging partials computed under a different
    normalization would silently change what "duplicate" means.
    """

    _META_FILE = "dedup_meta.json"
    _META_KIND = "dedup-stream"
    _META_FIELDS = ("id_col", "text_col", "schema")

    def __init__(
        self,
        spark: SparkSession,
        input_dir: str,
        work_dir: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        schema: str = DOCS_SCHEMA,
        max_files_per_trigger: int = 8,
    ) -> None:
        super().__init__(spark, input_dir, work_dir)
        self.id_col = id_col
        self.text_col = text_col
        self.schema = schema
        self.max_files_per_trigger = int(max_files_per_trigger)
        self.partials_dir = os.path.join(work_dir, "partials")
        self._pin_meta({k: getattr(self, k) for k in self._META_FIELDS})

    # -- per-batch transform ---------------------------------------------
    def _hash_col(self) -> F.Column:
        """md5 over whitespace/case-normalized text — exact_dedup's
        normalization (functions/dedup.py::_normalized), md5 so the SQL
        oracle reproduces every hash."""
        return F.md5(
            F.regexp_replace(
                F.lower(F.trim(F.col(self.text_col))), r"\s+", " "
            )
        )

    def _batch_partial(self, batch: DataFrame) -> DataFrame:
        return (
            batch.select(
                self._hash_col().alias("text_hash"),
                F.col(self.id_col).alias("id"),
            )
            .groupBy("text_hash")
            .agg(
                F.min("id").alias("min_id"),
                F.count(F.lit(1)).alias("cnt"),
            )
        )

    def _sink_batch(self, batch: DataFrame, batch_id: int) -> None:
        self._batch_partial(batch).write.mode("overwrite").parquet(
            os.path.join(self.partials_dir, f"batch_id={batch_id}")
        )

    # -- cumulative reports --------------------------------------------------
    def admitted(self) -> DataFrame:
        """Cumulative admission table: ``(text_hash, keep_id, dup_count,
        first_batch_id)`` — one row per distinct text seen so far.  One
        aggregate over the group-count-sized partials; min(struct) picks
        the earliest batch, then the smallest id within it."""
        p = self._read_batches(
            self.partials_dir, "text_hash string, min_id long, cnt long, batch_id long"
        )
        win = F.min(F.struct("batch_id", "min_id")).alias("w")
        return (
            p.groupBy("text_hash")
            .agg(win, F.sum("cnt").alias("dup_count"))
            .select(
                "text_hash",
                F.col("w.min_id").alias("keep_id"),
                "dup_count",
                F.col("w.batch_id").alias("first_batch_id"),
            )
        )

    def duplicates_turned_away(self) -> DataFrame:
        """Per-hash duplicate counts for hashes seen more than once —
        the streaming twin of exact_dedup's dup_count report."""
        return self.admitted().filter(F.col("dup_count") > 1)


class NearDupStream(MicroBatchStream):
    """Resumable streaming NEAR-dup dedup — MinHash/LSH admission over a
    growing parquet feed: a document is rejected iff some PREDECESSOR
    (earlier micro-batch, or a smaller id within the same batch) shares an
    LSH band bucket with it and their signatures agree on at least
    ``min_match`` of ``num_hashes`` components (matches/num_hashes is the
    unbiased jaccard estimator; the threshold is an integer component
    count, so the decision is engine-exact and SQL-certifiable in md5
    mode).

    Greedy-PREDECESSOR semantics, deliberately matching the batch
    pipeline's default ``cluster_dedup_keep(policy="greedy")`` (reject any
    doc that is the later member of a near-dup pair, whether or not the
    earlier member was itself admitted): that makes the reject set
    APPEND-ONLY — a doc's verdict depends only on the feed prefix before
    it, never on later arrivals or on other verdicts — which is what makes
    the stream incremental:

      per batch   signatures + band buckets for the batch are written to
                  their own ``batch_id=<k>/`` index partitions, then ONE
                  join of the batch's buckets against the cumulative
                  index (plus the within-batch self-join) verifies
                  candidates by signature match-count and appends the
                  batch's rejects — batch × cumulative, never
                  cumulative × cumulative;
      admitted()  one anti-join of the id index against the reject set.

    The per-batch cumulative-index read is the honest cost term; at 10⁹
    docs the index partials are (band, bucket)-keyed parquet, so a
    bucket-partitioned layout (partitionBy band) turns the join into a
    pruned read — noted as the scale lever, not implemented here.

    Verification uses the SIGNATURE estimate, not exact shingle jaccard
    (the batch pipeline's verifier): storing shingle sets per admitted doc
    would make the index row-sized in text length.  The estimator's
    variance is the documented trade — raise ``num_hashes``/``min_match``
    to tighten it.

    Reference anchor: composes the reference's resumable-tail machinery
    (checkpoint + idempotent per-batch sinks) with §2.11 near-dup
    semantics — beyond-reference by design, like :class:`DedupStream`.
    """

    _META_FILE = "neardup_meta.json"
    _META_KIND = "near-dup-stream"
    _META_FIELDS = (
        "id_col", "text_col", "schema", "num_hashes", "bands",
        "min_match", "shingle_n", "hash_fn",
    )

    def __init__(
        self,
        spark: SparkSession,
        input_dir: str,
        work_dir: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        schema: str = DOCS_SCHEMA,
        num_hashes: int = 16,
        bands: int = 4,
        min_match: int = 12,
        shingle_n: int = 3,
        hash_fn: str = "md5",
        max_files_per_trigger: int = 8,
    ) -> None:
        if not (1 <= min_match <= num_hashes):
            raise ValueError("min_match must be in [1, num_hashes]")
        if num_hashes % bands != 0:
            raise ValueError("bands must divide num_hashes")
        super().__init__(spark, input_dir, work_dir)
        self.id_col = id_col
        self.text_col = text_col
        self.schema = schema
        self.num_hashes = int(num_hashes)
        self.bands = int(bands)
        self.min_match = int(min_match)
        self.shingle_n = int(shingle_n)
        self.hash_fn = hash_fn
        self.max_files_per_trigger = int(max_files_per_trigger)
        self.sigs_dir = os.path.join(work_dir, "sigs")
        self.buckets_dir = os.path.join(work_dir, "buckets")
        self.rejects_dir = os.path.join(work_dir, "rejects")
        self._pin_meta({k: getattr(self, k) for k in self._META_FIELDS})

    def _sink_batch(self, batch: DataFrame, batch_id: int) -> None:
        from ..functions.dedup import (
            minhash_banded,
            minhash_signatures,
            signature_match_count,
        )

        sigs = minhash_signatures(
            batch, self.id_col, self.text_col,
            self.num_hashes, self.shingle_n, self.hash_fn,
        )
        # the batch is re-derived per sink below; micro-batches are small
        # by construction (maxFilesPerTrigger) so persist, write, reuse
        sigs = sigs.persist()
        try:
            sigs.write.mode("overwrite").parquet(
                os.path.join(self.sigs_dir, f"batch_id={batch_id}")
            )
            banded = minhash_banded(
                sigs, self.num_hashes, self.bands, self.hash_fn
            )
            banded.write.mode("overwrite").parquet(
                os.path.join(self.buckets_dir, f"batch_id={batch_id}")
            )

            prev_b = self._read_batches(
                self.buckets_dir, "id long, band int, bucket string, batch_id long"
            ).filter(F.col("batch_id") < batch_id)
            prev_s = self._read_batches(
                self.sigs_dir, "id long, sig array<long>, batch_id long"
            ).filter(F.col("batch_id") < batch_id)

            cross = (
                prev_b.alias("a")
                .join(
                    banded.alias("b"),
                    (F.col("a.band") == F.col("b.band"))
                    & (F.col("a.bucket") == F.col("b.bucket")),
                )
                .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            )
            within = (
                banded.alias("x")
                .join(
                    banded.alias("y"),
                    (F.col("x.band") == F.col("y.band"))
                    & (F.col("x.bucket") == F.col("y.bucket"))
                    & (F.col("x.id") < F.col("y.id")),
                )
                .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
            )
            cand = cross.union(within).distinct()
            all_sigs = prev_s.select("id", "sig").union(sigs.select("id", "sig"))
            verified = (
                cand.join(
                    all_sigs.withColumnRenamed("sig", "sig_a"),
                    cand.id_a == F.col("id"),
                )
                .drop("id")
                .join(
                    sigs.select("id", F.col("sig").alias("sig_b")),
                    cand.id_b == F.col("id"),
                )
                .drop("id")
                .filter(
                    signature_match_count(F.col("sig_a"), F.col("sig_b"))
                    >= self.min_match
                )
            )
            verified.select("id_b").distinct().withColumnRenamed(
                "id_b", "id"
            ).write.mode("overwrite").parquet(
                os.path.join(self.rejects_dir, f"batch_id={batch_id}")
            )
        finally:
            sigs.unpersist()

    # -- cumulative reports --------------------------------------------------
    def verdicts(self) -> DataFrame:
        """Cumulative per-doc verdicts: ``(id, batch_id, admitted)`` for
        every document seen so far."""
        return _verdicts(
            self._read_batches(self.sigs_dir, "id long, sig array<long>, batch_id long"),
            self._read_batches(self.rejects_dir, "id long, batch_id long"),
        )

    def admitted(self) -> DataFrame:
        """Ids admitted so far (the streaming keep set)."""
        return self.verdicts().filter("admitted").select("id", "batch_id")


class EmbNearDupStream(MicroBatchStream):
    """Resumable streaming near-dup dedup over an EMBEDDING feed — the
    third cell of the streaming × dedup matrix (exact text, minhash text,
    embedding cosine): reject a vector iff a PREDECESSOR (earlier batch,
    or smaller id within the batch) lands in a shared hyperplane-LSH
    bucket (any table; multiprobe also reaches every hamming-1 bucket)
    AND exact cosine ≥ ``threshold``.

    Same greedy-predecessor design as :class:`NearDupStream` — the reject
    set is append-only, each batch joins batch × cumulative index — but
    the verification is EXACT (the normalized vectors are fixed-size, so
    the index can afford to store them; the text stream can't store
    shingle sets and settles for the signature estimate).  ZERO false
    positives by construction; recall follows the embedding_neardup_lsh
    levers (n_planes / n_tables / multiprobe), and the driver row
    ``stream_embdedup_audit`` certifies reject soundness row-by-row
    against a brute-force SQL oracle while exposing the misses.

    Reference anchor: beyond-reference by design (SURVEY §2.11), like the
    other streams.
    """

    _META_FILE = "embdedup_meta.json"
    _META_KIND = "embedding-near-dup-stream"
    _META_FIELDS = (
        "id_col", "vec_col", "schema", "threshold", "n_planes",
        "n_tables", "multiprobe", "dim", "seed",
    )

    def __init__(
        self,
        spark: SparkSession,
        input_dir: str,
        work_dir: str,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        schema: str = EMB_SCHEMA,
        threshold: float = 0.9,
        n_planes: int = 12,
        n_tables: int = 2,
        multiprobe: bool = True,
        dim: int = 64,
        seed: int = 42,
        max_files_per_trigger: int = 8,
    ) -> None:
        if not (0.0 < threshold <= 1.0):
            raise ValueError("threshold must be in (0, 1]")
        super().__init__(spark, input_dir, work_dir)
        self.id_col = id_col
        self.vec_col = vec_col
        self.schema = schema
        self.threshold = float(threshold)
        self.n_planes = int(n_planes)
        self.n_tables = int(n_tables)
        self.multiprobe = bool(multiprobe)
        self.dim = int(dim)
        self.seed = int(seed)
        self.max_files_per_trigger = int(max_files_per_trigger)
        self.vecs_dir = os.path.join(work_dir, "vecs")
        self.buckets_dir = os.path.join(work_dir, "buckets")
        self.rejects_dir = os.path.join(work_dir, "rejects")
        self._pin_meta({k: getattr(self, k) for k in self._META_FIELDS})

    def _sink_batch(self, batch: DataFrame, batch_id: int) -> None:
        from ..functions.similarity import (
            _dot,
            lsh_signatures,
            make_planes,
            normalize,
        )

        planes = make_planes(self.dim, self.n_tables * self.n_planes, self.seed)
        norm = normalize(batch, self.vec_col).select(
            F.col(self.id_col).alias("id"), "v"
        ).persist()
        try:
            norm.write.mode("overwrite").parquet(
                os.path.join(self.vecs_dir, f"batch_id={batch_id}")
            )
            buckets = lsh_signatures(
                norm, planes, "id", "v", self.n_tables
            ).select("id", F.posexplode("sigs").alias("table", "bucket"))
            buckets = buckets.persist()
            buckets.write.mode("overwrite").parquet(
                os.path.join(self.buckets_dir, f"batch_id={batch_id}")
            )

            prev_b = self._read_batches(
                self.buckets_dir, "id long, table int, bucket int, batch_id long"
            ).filter(F.col("batch_id") < batch_id)
            prev_v = self._read_batches(
                self.vecs_dir, "id long, v array<double>, batch_id long"
            ).filter(F.col("batch_id") < batch_id)

            probes = buckets
            if self.multiprobe:
                probes = buckets.withColumn(
                    "bucket",
                    F.explode(
                        F.array(
                            F.col("bucket"),
                            *[
                                F.col("bucket").bitwiseXOR(F.lit(1 << i))
                                for i in range(self.n_planes)
                            ],
                        )
                    ),
                )
            cross = (
                probes.alias("b")
                .join(
                    prev_b.alias("a"),
                    (F.col("a.table") == F.col("b.table"))
                    & (F.col("a.bucket") == F.col("b.bucket")),
                )
                .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            )
            within = (
                probes.alias("x")
                .join(
                    buckets.alias("y"),
                    (F.col("x.table") == F.col("y.table"))
                    & (F.col("x.bucket") == F.col("y.bucket"))
                    & (F.col("x.id") < F.col("y.id")),
                )
                .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
            )
            cand = cross.union(within).distinct()
            all_v = prev_v.select("id", "v").union(norm.select("id", "v"))
            verified = (
                cand.join(all_v.withColumnRenamed("v", "va"),
                          cand.id_a == F.col("id")).drop("id")
                .join(norm.select("id", F.col("v").alias("vb")),
                      cand.id_b == F.col("id")).drop("id")
                .filter(_dot(F.col("va"), F.col("vb")) >= self.threshold)
            )
            verified.select("id_b").distinct().withColumnRenamed(
                "id_b", "id"
            ).write.mode("overwrite").parquet(
                os.path.join(self.rejects_dir, f"batch_id={batch_id}")
            )
            buckets.unpersist()
        finally:
            norm.unpersist()

    def verdicts(self) -> DataFrame:
        """Cumulative per-vector verdicts: ``(id, batch_id, admitted)``."""
        return _verdicts(
            self._read_batches(self.vecs_dir, "id long, v array<double>, batch_id long"),
            self._read_batches(self.rejects_dir, "id long, batch_id long"),
        )

    def admitted(self) -> DataFrame:
        return self.verdicts().filter("admitted").select("id", "batch_id")
