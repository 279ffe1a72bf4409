package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental span (ExactSubstr-style) dedup across corpus appends —
  * the substring-level twin of `IncrementalDedup`: the window registry
  * for the existing corpus is computed ONCE and persisted; each new
  * batch computes only its own w-token windows and probes them against
  * the store, so boilerplate arriving in batch N is cut against
  * keepers that arrived in batches 1..N-1 without ever rescanning them.
  *
  * Store layout (the posting trade, like the ngram store): one row per
  * DISTINCT window content ever seen — (wh, keep_doc_id, keep_pos) —
  * hive-partitioned by `bp = pmod(xxhash64(wh), parts)` so a batch's
  * probe reads only the partitions its own window hashes land in
  * (PartitionFilters, the IncrementalDedup contract). ~one row per
  * corpus token at rest (24-byte keys, no window text): the price of
  * substring-level memory, linear in the corpus like the postings it
  * mirrors.
  *
  * Keeper semantics are FIRST-ARRIVAL (store keeper wins; within a
  * batch, min (doc_id, pos) — the store-family convention). When
  * batches arrive in ascending doc_id order, first-arrival equals the
  * one-shot `SpanDedup.duplicatedSpans` keeper (global min (doc_id,
  * pos)), so the union of batch span sets equals the full-corpus span
  * set EXACTLY — the gate row's oracle is the one-shot SQL verbatim.
  *
  * Idempotent retries: a replayed batch finds its own keepers in the
  * store; the (doc_id, pos) = (keep_doc_id, keep_pos) guard keeps a
  * keeper from being reported as a duplicate of itself, and the
  * anti-join appends nothing. The whole read → probe → append cycle
  * holds the store lock (`graft.fs.StoreLock`), like every store here.
  *
  * The reference (SmartX-Team/connected-data-lake) has no curation
  * ops — this extends the engine for training pipelines (SURVEY §2.10).
  */
object IncrementalSpanDedup {

  /** Duplicated spans of one batch against the window store at
    * `storeDir` (created if absent): (doc_id, pos, keep_doc_id,
    * keep_pos) for every batch window whose content was already seen —
    * in the store, or earlier in this batch (min (doc_id, pos) wins).
    * Appends the batch's novel window keepers to the store. Feed the
    * result to [[SpanDedup.cutSpans]] to rewrite the batch. */
  def spanBatch(
      docsNew: DataFrame,
      storeDir: String,
      w: Int = 10,
      textCol: String = "text",
      storeParts: Int = IncrementalDedup.AutoStoreParts,
      compactFiles: Int = 0): DataFrame = {
    require(w >= 2, s"window width must be >= 2 tokens, got $w")
    StoreCycle.run(docsNew, storeDir, storeParts, compactFiles) { mf =>
      // key encoding (r13 verdict #3): new stores rest the window hash as
      // 16-byte BINARY (unhex of the md5 hex the window expression emits)
      // — the wh column IS the store's dominant at-rest cost (~one row
      // per corpus token), so this halves it; legacy keyless manifests
      // stay hex, rebuildStore migrates
      val (binKeys, encMeta) = IncrementalDedup.keyEncodingOf(mf)
      val win = SpanDedup.windows(docsNew, w, "doc_id", textCol)
      // auto sizing sees the batch's window rows ≈ its token count — the
      // store grows by ≤ that many rows per batch, the posting shape
      StoreCycle.Family(StoreLayout.named("span"),
        if (binKeys) win.withColumn("wh", unhex(col("wh"))) else win,
        _ => Map("w" -> w.toString) ++ encMeta, spanStep)
    }
  }

  /** Streaming twin of [[spanBatch]] — duplicated spans of a document
    * stream against the persisted window store, one locked cycle per
    * micro-batch; span rows land under `resultsDir/batch=<epoch>` with
    * the family's per-epoch-overwrite exactly-once contract, and the
    * same `AdoptOrDefaultStoreParts` default (adopt the manifest;
    * create at the fixed default — streams must not auto-size off a
    * tiny batch 0). */
  def spanStream(
      docsStream: DataFrame,
      storeDir: String,
      resultsDir: String,
      checkpointDir: String,
      w: Int = 10,
      textCol: String = "text",
      storeParts: Int = IncrementalDedup.AdoptOrDefaultStoreParts,
      compactFiles: Int = 64): org.apache.spark.sql.streaming.StreamingQuery =
    IncrementalDedup.streamCycles(docsStream, resultsDir, checkpointDir)(
      spanBatch(_, storeDir, w, textCol, storeParts, compactFiles))

  private def spanStep(b: StoreCycle.Batch): StoreCycle.Step[DataFrame] = {
    // batch-internal keeper per window content
    val batchKeep = b.rows.groupBy("wh")
      .agg(min(struct(col("doc_id"), col("pos"))).as("bk"),
        count(lit(1)).as("batch_occ"))
      .select(col("wh"), col("bk.doc_id").as("bk_doc"),
        col("bk.pos").as("bk_pos"), col("batch_occ"))
    val out = b.rows.drop("bp")
      .join(b.store, Seq("wh"), "left")
      .join(batchKeep, Seq("wh"))
      // store keeper wins; else the batch keeper, only when the window
      // actually duplicates within the batch; a keeper is never its own
      // duplicate (retry idempotence rides the first branch's guard)
      .withColumn("__kd",
        when(col("keep_doc_id").isNotNull, col("keep_doc_id"))
          .when(col("batch_occ") >= 2, col("bk_doc")))
      .withColumn("__kp",
        when(col("keep_doc_id").isNotNull, col("keep_pos"))
          .when(col("batch_occ") >= 2, col("bk_pos")))
      .filter(col("__kd").isNotNull &&
        !(col("doc_id") === col("__kd") && col("pos") === col("__kp")))
      .select(col("doc_id"), col("pos"),
        col("__kd").as("keep_doc_id"), col("__kp").as("keep_pos"))
      // materialize BEFORE the append: the lazy plan reads the store
      // directory, and re-evaluation after the append would see this
      // batch's own keepers and mark every window a duplicate
      .localCheckpoint()
    StoreCycle.Step(out,
      // index pairs from ALL batch keepers, not the anti-joined novel
      // slice — already-stored windows add over-claiming pairs only
      // (pruning cost), and exact repeats are likewise tolerated:
      // appendDocIndex dedupes within the batch only (no anti-join
      // against the stored index); duplicates cost distinct-bps pruning
      // work and are erased by retractDocIndex
      batchKeep.select(col("bk_doc").as("keep_doc_id"), b.bp.as("bp")),
      // the batch's novel window keepers; the anti-join makes a retried
      // batch append nothing (equal wh shares a bp, so the pruned view
      // is a complete witness)
      Some(batchKeep
        .join(b.store.select("wh"), Seq("wh"), "left_anti")
        .select(col("wh"), col("bk_doc").as("keep_doc_id"),
          col("bk_pos").as("keep_pos"))
        .withColumn("bp", b.bp)))
  }
}
