"""Streaming ingest dedup: exact + MinHash near-dup against an
at-rest admitted-corpus index.

The north-star pipeline admits interleaved documents continuously; a
document must be rejected at ingest when it duplicates anything
already admitted — in an earlier micro-batch, in the bootstrap
corpus, or earlier in its own batch. Two rules, both derived from the
batch operators (``operators.dedup``) so stream and batch semantics
cannot drift:

- **exact**: content identity is the span-sequence digest
  (``sources.docs.span_sequence_digest`` — kind, text, media_ref,
  offset in order), i.e. the whole interleaved document, not just its
  text. Within a batch the lexicographically-smallest ``doc_id`` per
  digest survives (the ``exact_dedup`` canonical rule); against
  history it is an anti-join on the digest.
- **near-dup**: textual MinHash-LSH over the flattened text spans.
  Within a batch: verified pairs → connected components → min-id
  canonical (exactly ``dedup_groups``; a whole corpus arriving as one
  batch reproduces the batch operator's keep set, pinned in pytest).
  Across batches: *filter semantics* — a new doc is dropped iff it
  verifies (exact n-gram Jaccard ≥ threshold) against an already
  ADMITTED doc. Docs that were themselves dropped are not indexed, so
  a chain A←B←C admitted over three batches keeps A and C when only
  adjacent links are near-dups — the standard online-dedup rule, and
  the difference from the batch closure is documented, deterministic,
  and tested.

State shape at 10¹² docs: executor state is O(1) — every long-lived
fact lives AT REST in three append-only parquet stores under
``store_dir`` (epoch-partitioned; bootstrap = ``epoch=-1``):

- ``hashes``  (id, content_hash): one 32-char key per admitted doc —
  the exact anti-join side. Column-pruned scan: the join reads only
  the digest column.
- ``bands``   (id, band, key): N_BANDS rows per admitted doc — the
  LSH candidate join side, keyed (band, key) like the batch blocking.
- ``texts``   (id, text): flattened text, read back ONLY for docs that
  appear in a candidate pair (semi-join before the scan), so the
  verification cost is O(candidates), never O(store).

In production these stores are Iceberg tables (compaction, snapshot
isolation); here they are epoch-partitioned parquet with the same
discipline as ``streaming.enrich``: each epoch writes
``epoch=<id>`` subdirectories whole (idempotent replay), and every
read inside the handler filters ``epoch < current`` — a replayed
epoch can never see its own previous partial writes, which would
otherwise make a doc collide with itself and vanish.

Per-epoch cost: one signature pass over the BATCH (never the store),
one hash anti-join, one (band, key) join, candidate-bounded exact
verification, and a batch-local component closure. Kernel
intermediates persisted by the batch operators ride the returned
frames via ``plans.cache.carry`` and are released before the handler
returns (the ``streaming.enrich`` round-4 lesson).

Lineage discipline: each multiply-referenced stage is cut with an
eager ``localCheckpoint`` rather than a bare ``persist``. A persist
keeps the full logical plan, and every downstream action renders it —
with stages referenced 2-3× apiece, the nested ``InMemoryRelation``
strings expand the plan DAG into a tree whose rendering cost grows
multiplicatively per stage (observed: minutes of driver CPU in
``TreeNode.generateTreeString`` per epoch on an 8-document batch).
The checkpoint collapses each stage to an RDD scan node, the same
discipline as ``operators.components`` / ``boruvka``'s iterative
rounds.

The reference has no streaming (SURVEY.md §2.10); this extends the
``streaming.events`` / ``sessions`` / ``enrich`` family with the
ingest-side dedup a training-data pipeline runs in front of
everything else.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ffcl_spark.plans.cache import release
from ffcl_spark.plans.stats import free_checkpoint

HASHES, BANDS, TEXTS = "hashes", "bands", "texts"


def content_keys(docs: DataFrame) -> DataFrame:
    """(doc_id, content_hash, text): the two dedup keys of an
    interleaved document — the exact-identity span digest and the
    flattened text (text spans concatenated in span order) that the
    near-dup signatures are computed over."""
    from ffcl_spark.sources.docs import span_sequence_digest

    text = F.array_join(
        F.transform(
            F.filter(F.col("spans"), lambda s: s["kind"] == F.lit("text")),
            lambda s: s["text"],
        ),
        " ",
    )
    return (
        span_sequence_digest(docs)
        .withColumnRenamed("span_seq", "content_hash")
        .join(docs.select("doc_id", text.alias("text")), "doc_id")
    )


def _store_rows(admitted_keys: DataFrame, shingle_n: int):
    """(hashes, bands, texts) index rows for an already-admitted doc
    set — the bootstrap derivation (epoch appends reuse the handler's
    in-flight signature pass instead)."""
    from ffcl_spark.operators.dedup import minhash_band_keys, minhash_signatures

    hashes = admitted_keys.select(F.col("doc_id").alias("id"), "content_hash")
    sigs = minhash_signatures(admitted_keys, "doc_id", "text", shingle_n)
    bands = minhash_band_keys(sigs)
    texts = admitted_keys.select(F.col("doc_id").alias("id"), "text")
    return hashes, bands, texts


def bootstrap_store(
    spark: SparkSession,
    store_dir: str,
    history_docs: DataFrame | None = None,
    shingle_n: int = 3,
) -> None:
    """Initialize the at-rest index as ``epoch=-1`` from an already
    admitted corpus (or empty). Must run once before the stream starts
    — the handler reads all three stores unconditionally."""
    from ffcl_spark.sources.docs import DOCS_SCHEMA

    if history_docs is None:
        history_docs = spark.createDataFrame([], DOCS_SCHEMA)
    keys = content_keys(history_docs)
    for sub, df in zip((HASHES, BANDS, TEXTS), _store_rows(keys, shingle_n)):
        df.write.mode("overwrite").parquet(f"{store_dir}/{sub}/epoch=-1")


def _read_store(spark: SparkSession, store_dir: str, sub: str, epoch_id: int) -> DataFrame:
    """Admitted index rows from every epoch BEFORE this one. The epoch
    partition column makes replay self-exclusion a partition-pruned
    filter — an interrupted epoch's partial writes are invisible to
    its own retry."""
    base = f"{store_dir}/{sub}"
    return (
        spark.read.option("basePath", base)
        .parquet(base)
        .where(F.col("epoch") < F.lit(epoch_id))
        .drop("epoch")
    )


def _cut(df: DataFrame, held: list[DataFrame]) -> DataFrame:
    """Eagerly localCheckpoint ``df`` (truncating its logical plan to
    an RDD scan for every downstream reference) and schedule BOTH
    frames for release when the epoch ends: ``df`` for the operator
    caches it carries, and the checkpointed frame for the checkpoint
    RDD itself — the persisted RDD hangs off the NEW frame's
    LogicalRDD plan, so holding only the pre-checkpoint frame left
    the blocks to GC + ContextCleaner timing (observed: one surviving
    checkpoint RDD per epoch under full-suite driver load)."""
    held.append(df)
    ck = df.localCheckpoint()
    held.append(ck)
    return ck


def dedup_batch(
    batch_df: DataFrame,
    epoch_id: int,
    store_dir: str,
    out_dir: str,
    threshold: float = 0.8,
    neardup: bool = True,
    shingle_n: int = 3,
    quality_rules: dict | None = None,
) -> None:
    """One epoch of the ingest-dedup pipeline (the ``foreachBatch``
    body, exposed for replay-idempotency tests): admit the batch's
    survivors to ``out_dir/epoch=<id>`` and append their index rows to
    the three stores' ``epoch=<id>`` partitions.

    ``quality_rules`` (``textops._QUALITY_RULES`` thresholds over the
    flattened text) gates admission BEFORE dedup: a rejected doc is
    neither admitted nor indexed, so it never blocks a future
    higher-quality near-duplicate — quality rejection is stateless
    filter semantics, batch-local cost only."""
    from ffcl_spark.operators.dedup import (
        dedup_groups,
        minhash_band_keys,
        minhash_signatures,
        ngram_jaccard_pairs,
    )

    spark = batch_df.sparkSession
    held: list[DataFrame] = []
    try:
        ck = _cut(content_keys(batch_df), held)
        if quality_rules:
            from ffcl_spark.operators.textops import quality_filter

            ck = _cut(quality_filter(ck, quality_rules, "doc_id", "text"), held)
        # exact, within batch: min doc_id per digest survives
        keep_exact = ck.groupBy("content_hash").agg(F.min("doc_id").alias("doc_id"))
        # exact, vs history: anti-join on the digest (store side reads
        # one column; uniform md5 key — no skew)
        hist_h = _read_store(spark, store_dir, HASHES, epoch_id).select("content_hash")
        admitted = _cut(
            ck.join(keep_exact, ["content_hash", "doc_id"], "left_semi").join(
                hist_h, "content_hash", "left_anti"
            ),
            held,
        )

        if neardup:
            sigs = minhash_signatures(admitted, "doc_id", "text", shingle_n)
            bands_new = _cut(minhash_band_keys(sigs), held)
            # candidates vs ADMITTED history: batch band keys ⋈ store
            # band keys — the LSH blocking join, batch-sized left side
            hist_b = _read_store(spark, store_dir, BANDS, epoch_id)
            cand_hist = (
                bands_new.select(F.col("id").alias("id_b"), "band", "key")
                .join(hist_b.select(F.col("id").alias("id_a"), "band", "key"), ["band", "key"])
                .select("id_a", "id_b")
                .distinct()
            )
            # common-path short-circuit: most epochs of a healthy
            # stream share no band key with history — one cheap isEmpty
            # on the blocking join skips the whole shingle-verification
            # pipeline (and its jobs) when there is nothing to verify
            if cand_hist.isEmpty():
                surv = admitted
            else:
                # exact verification over batch texts + ONLY the
                # candidate history texts (semi-join before the store
                # scan)
                hist_t = _read_store(spark, store_dir, TEXTS, epoch_id).join(
                    cand_hist.select(F.col("id_a").alias("id")), "id", "left_semi"
                )
                ver_src = admitted.select(
                    F.col("doc_id").alias("id"), "text"
                ).unionByName(hist_t)
                hist_pairs = ngram_jaccard_pairs(
                    ver_src, threshold, "id", "text", shingle_n, candidates=cand_hist
                )
                held.append(hist_pairs)
                drop_hist = hist_pairs.select(F.col("id_b").alias("doc_id")).distinct()
                surv = _cut(admitted.join(drop_hist, "doc_id", "left_anti"), held)

            # within-batch closure == the batch operator: candidates
            # from the batch's own band keys, verified pairs → CC →
            # min-id canonical (dedup_groups semantics exactly)
            surv_bk = bands_new.join(
                surv.select(F.col("doc_id").alias("id")), "id", "left_semi"
            )
            wb_cands = (
                surv_bk.select(F.col("id").alias("id_a"), "band", "key")
                .join(surv_bk.select(F.col("id").alias("id_b"), "band", "key"), ["band", "key"])
                .where(F.col("id_a") < F.col("id_b"))
                .select("id_a", "id_b")
                .distinct()
            )
            # same short-circuit within the batch: no shared band key
            # between two survivors ⇒ no pairs ⇒ every survivor is its
            # own canonical — skip verification AND the component
            # closure's contraction rounds outright
            if wb_cands.isEmpty():
                final = surv
            else:
                wb_pairs = ngram_jaccard_pairs(
                    surv.select(F.col("doc_id").alias("id"), "text"),
                    threshold,
                    "id",
                    "text",
                    shingle_n,
                    candidates=wb_cands,
                )
                groups = dedup_groups(
                    surv, threshold, "doc_id", "text", shingle_n, pairs=wb_pairs
                )
                held.append(groups)
                final = _cut(
                    surv.join(
                        groups.where(F.col("id") == F.col("canonical_id")).select(
                            F.col("id").alias("doc_id")
                        ),
                        "doc_id",
                        "left_semi",
                    ),
                    held,
                )
        else:
            final = admitted

        # admit: full interleaved rows (span sequences untouched) + the
        # three index appends, all under epoch=<id> (overwrite = replay
        # idempotent; reads above excluded this epoch)
        batch_df.join(final.select("doc_id"), "doc_id", "left_semi").write.mode(
            "overwrite"
        ).parquet(f"{out_dir}/epoch={epoch_id}")
        final.select(F.col("doc_id").alias("id"), "content_hash").write.mode(
            "overwrite"
        ).parquet(f"{store_dir}/{HASHES}/epoch={epoch_id}")
        if neardup:
            # band keys reuse the batch's signature pass (bands_new is
            # persisted) instead of re-signing the survivors
            bands_new.join(
                final.select(F.col("doc_id").alias("id")), "id", "left_semi"
            ).write.mode("overwrite").parquet(f"{store_dir}/{BANDS}/epoch={epoch_id}")
            final.select(F.col("doc_id").alias("id"), "text").write.mode(
                "overwrite"
            ).parquet(f"{store_dir}/{TEXTS}/epoch={epoch_id}")
    finally:
        for df in held:
            release(df)
            if df.storageLevel.useMemory or df.storageLevel.useDisk:
                df.unpersist()
            # checkpoint RDDs are invisible to DataFrame.unpersist —
            # free their blocks deterministically (see
            # plans.stats.free_checkpoint)
            free_checkpoint(df)


def dedup_stream(
    docs_stream: DataFrame,
    store_dir: str,
    out_dir: str,
    ckpt_dir: str,
    threshold: float = 0.8,
    neardup: bool = True,
    shingle_n: int = 3,
    quality_rules: dict | None = None,
):
    """Start (availableNow) the ingest-dedup stream over a file-drop
    docs source (``streaming.enrich.read_docs_stream``). Requires
    ``bootstrap_store`` to have run for ``store_dir``. Returns the
    drained query. ``quality_rules`` adds the stateless quality
    admission gate in front of dedup (see :func:`dedup_batch`)."""

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        dedup_batch(
            batch_df,
            epoch_id,
            store_dir,
            out_dir,
            threshold,
            neardup,
            shingle_n,
            quality_rules,
        )

    q = (
        docs_stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def contamination_stream(
    docs_stream: DataFrame,
    refs: DataFrame,
    out_dir: str,
    ckpt_dir: str,
    *,
    threshold: float = 0.5,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Start (availableNow) the streaming DECONTAMINATION filter: score
    each micro-batch's documents against a STATIC benchmark corpus
    (``operators.dedup.ngram_contamination``) and write the per-doc
    decision log — (id, n_grams, n_hit, ratio, admitted) with
    ``admitted = ratio < threshold`` — to ``out_dir/epoch=<batch id>``
    (whole-directory overwrite ⇒ idempotent replay, the store
    discipline of this module). Returns the drained query.

    The production ingest shape: crawl batches arrive continuously,
    the benchmark set is fixed. Its distinct shingles are computed
    ONCE here and cut with an eager ``localCheckpoint`` (the
    hot-groups hoist lesson — a static reference is never re-shingled
    or re-scanned per epoch); per-epoch cost is one scan of the BATCH
    plus the broadcast join. Executor state between epochs: ZERO.

    Contract matches the batch operator: only docs with ≥ 1 shingle
    are scored (a doc shorter than ``shingle_n`` tokens carries no
    n-gram evidence); the union of all epochs' rows equals the batch
    ``ngram_contamination`` over the union of the batches — pinned in
    pytest. ``docs_stream`` carries plain (``id_col``, ``text_col``)
    columns (flatten interleaved spans upstream if needed)."""
    from ffcl_spark.operators.dedup import ngram_contamination, ref_shingle_set

    ref_sh = ref_shingle_set(
        refs, n=shingle_n, id_col=id_col, text_col=text_col
    ).localCheckpoint()

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        scored = ngram_contamination(
            batch_df,
            n=shingle_n,
            id_col=id_col,
            text_col=text_col,
            ref_shingles=ref_sh,
        ).withColumn("admitted", F.col("ratio") < F.lit(threshold))
        scored.write.mode("overwrite").parquet(f"{out_dir}/epoch={epoch_id}")

    q = (
        docs_stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    free_checkpoint(ref_sh)
    return q
