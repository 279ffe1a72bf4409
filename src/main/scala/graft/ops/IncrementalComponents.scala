package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental connected components over an ARRIVING pair stream — the
  * clustering maintenance a production dedup pipeline runs between full
  * rebuilds: `Components.ofPairs` answers "what are the clusters of
  * THESE pairs", this store answers "what are the clusters of every
  * pair ever seen", one batch at a time, without recomputing the
  * corpus-wide fixpoint per batch (quadratic over the pipeline's
  * lifetime — the same argument as [[IncrementalDedup]], one level up
  * the stack: its pair batches are exactly this operator's input).
  *
  * Layout (the union-find shape, made restartable):
  *  - `labels/` — (v, component) parquet, hive-partitioned by
  *    `bp = pmod(xxhash64(v), parts)`: the lookup an arriving batch
  *    does — "what clusters do MY endpoints already belong to" — is a
  *    partition-pruned scan of the batch's own hash range. One row per
  *    vertex EVER seen in a pair, appended once, never rewritten by
  *    arrivals.
  *  - `merges/` — (old, new) parquet: the union-find parent log. When a
  *    batch's pairs connect existing clusters, nothing in `labels`
  *    moves — the dethroned roots get one merge row each. Cluster
  *    merges touch O(merged clusters) rows, not O(cluster members):
  *    relabeling a billion-member cluster on arrival would be the
  *    quadratic this store exists to avoid.
  *  - reads resolve labels THROUGH the merge log: the log is bounded by
  *    total merge events, collected driver-side and path-compressed (a
  *    few MB per million merges — cf. the IVF centroid pull), then
  *    broadcast into one equi-join. [[compact]] folds the log into
  *    `labels` in place and empties it — run it when the log grows past
  *    taste; the store works identically (only slower reads) if never
  *    compacted.
  *
  * Component ids are the cluster's MINIMUM vertex id (the
  * `Components.ofPairs` convention), so incremental labels are
  * BATCH-ORDER INDEPENDENT: after any sequence of pair batches the
  * resolved view equals `Components.ofPairs` over the union of all
  * pairs (IncrementalComponentsSpec pins the parity; the gate checks a
  * two-batch split against the full-corpus recursive-CTE oracle).
  *
  * Concurrency: every cycle (and the compaction) runs under the store's
  * [[graft.fs.StoreLock]], like the dedup stores. Retried batches are
  * tolerated: label appends are anti-joined per vertex, and a replayed
  * merge row maps a root to the root it already maps to (resolution is
  * idempotent); duplicate log rows are cleared by the next compact. */
object IncrementalComponents {

  private val Layout = StoreLayout.named("components")
  private val Labels = Layout.data
  private val Swap = Layout.swap.get
  private val LabelsDir = Labels.rel
  private val MergesDir = "merges"

  /** Driver-side union-find resolution of the merge log: collect the
    * (old, new) rows — bounded by merge EVENTS, not corpus — and
    * path-compress every chain to its root. Returns the compressed
    * mapping (empty when the log is empty or absent).
    *
    * Lock-free callers (labels()) can race a FOLD's post-commit log
    * delete: the listing sees files the collect job then cannot open
    * (r19 fold-race find). A vanished log file means the fold is
    * COMMITTED, so a RE-READ — shorter or absent log — pairs
    * consistently with the labels listed after this map (see labels()'
    * ordering note); retry instead of failing the read
    * ([[SwapRetry.retryVanished]] — structured vanished-file
    * classification, deadline-bound). LOCKED callers (the batch cycle,
    * the fold, the rebuild) never retry: no fold can race the lock they
    * hold, so a log file vanishing under them is real damage that must
    * surface immediately (r19 ADVICE). */
  private def mergeMap(
      spark: SparkSession, dir: String, locked: Boolean): Map[Long, Long] =
    mergeMapCounted(spark, dir, locked)._1

  /** [[mergeMap]] plus the RAW log row count (duplicates included) from
    * the same collect — the batch cycle's merge-log-cap check reads it
    * instead of re-counting the log with a second job (r21). */
  private def mergeMapCounted(
      spark: SparkSession, dir: String,
      locked: Boolean): (Map[Long, Long], Long) = {
    val p = new org.apache.hadoop.fs.Path(dir, MergesDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def once: (Map[Long, Long], Long) =
      if (!fs.exists(p)) (Map.empty, 0L) else mergeMapOnce(spark, p.toString)
    if (locked) once
    else SwapRetry.retryVanished(s"clusters merge-log read on $dir")(once)
  }

  private def mergeMapOnce(
      spark: SparkSession, mergesPath: String): (Map[Long, Long], Long) = {
    {
      val rows = spark.read.schema("old BIGINT, new BIGINT")
        .parquet(mergesPath)
        .collect()
      val raw = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
      // path compression: follow chains (c3->c2, c2->c1 => c3->c1).
      // Chains are acyclic by construction (new < old always), so every
      // walk terminates. ITERATIVE walk with an explicit path, not
      // recursion: a re-entrant getOrElseUpdate can corrupt a resizing
      // mutable map, and a million-link chain would blow the stack.
      // Each link is walked once total (memo), so the whole pass is
      // O(log size).
      val memo = scala.collection.mutable.HashMap.empty[Long, Long]
      raw.keys.foreach { k =>
        if (!memo.contains(k)) {
          var c = k
          val path = scala.collection.mutable.ArrayBuffer.empty[Long]
          while (!memo.contains(c) && raw.contains(c)) {
            path += c
            c = raw(c)
          }
          val r = memo.getOrElse(c, c)
          path.foreach(memo.update(_, r))
        }
      }
      (raw.keys.map(k => k -> memo(k)).toMap, rows.length.toLong)
    }
  }

  /** The resolved label view: every vertex ever seen, with its CURRENT
    * canonical component (labels joined through the compressed merge
    * log). This is the frame a pipeline joins against to shrink a
    * corpus. */
  def labels(spark: SparkSession, storeDir: String): DataFrame = {
    val lp = s"$storeDir/$LabelsDir"
    val mf = IncrementalDedup.storeManifest(spark, storeDir)
    // SEQLOCK bracket (r19 ADVICE: labels() was lock-free with only the
    // merge-log read retried — a read racing two successive pointer
    // folds could lose its resolved generation when the second fold's
    // commit dropped the grace-held prev, failing FILE_NOT_EXIST on the
    // labels TABLE). Same discipline as the bm25/IVF searches: attempt,
    // validate the (pending, epoch, fold-marker) signature unmoved,
    // retry swap-shaped failures that signature movement explains. The
    // attempt MATERIALIZES (localCheckpoint) so the returned frame
    // survives any later fold's GC — the price of a consistent
    // lock-free snapshot, proportional to paired vertices, not corpus
    // (and the fold itself rewrites this same table wholesale). The
    // fold's `_compact_ready` marker joins the signature and the busy
    // probe, as IVF's rebuild marker does.
    SwapRetry.seqlockRead(spark, lp, s"clusters label read on $storeDir",
      () => Layout.heal(spark, storeDir),
      swapMarker = Some(s"$storeDir/${Swap.marker}"),
      refreshPath = Some(storeDir)) { () =>
      // merge map BEFORE the label listing — the lock-free order that
      // makes every interleaving with a concurrent pointer-mode fold
      // correct: the fold commits folded labels (one PUT), THEN deletes
      // the log. A partially-deleted log can therefore only be observed
      // with the POST-fold labels (already canonical: the stale rows'
      // dethroned roots no longer appear as components, so applying any
      // subset of them is a no-op), while a full log pairs correctly
      // with either generation. Listing labels first would permit
      // old-labels + partial-log — under-resolved components.
      val mm = mergeMap(spark, storeDir, locked = false)
      val (base, has) = Labels.readRaw(spark, storeDir, mf)
      if (!has) base.drop("bp")
      else resolve(base.drop("bp"), mm).localCheckpoint()
    }
  }

  /** Join `frame`'s `component` column through the compressed merge
    * map — one broadcast equi-join, or the frame unchanged when the
    * log is empty. */
  private def resolve(frame: DataFrame, mm: Map[Long, Long]): DataFrame =
    if (mm.isEmpty) frame
    else {
      val spark = frame.sparkSession
      import spark.implicits._
      val m = broadcast(mm.toSeq.toDF("__old", "__root"))
      frame.join(m, frame("component") === m("__old"), "left")
        .withColumn("component",
          coalesce(col("__root"), col("component")))
        .drop("__old", "__root")
    }

  /** Rebuild the label store under new partition geometry into a fresh
    * dir — the components arm of `IncrementalDedup.rebuildStore`,
    * called under the SOURCE store's lock. Rebuild resolves THROUGH
    * the merge log (the same fold `compact` applies), so the new store
    * starts with canonical labels and an EMPTY log: geometry migration
    * is also a full compaction. Manifest commits last, like the dedup
    * variants. */
  private[ops] def rebuildLocked(
      spark: SparkSession, srcDir: String, dstDir: String,
      requestedParts: Int, manifest: Map[String, String]): Int = {
    Swap.sweep(spark, srcDir, Labels) // finish any crashed fold first
    val readL = Labels.read(spark, srcDir, manifest)
    val resolved =
      if (!readL._2) None
      else Some(resolve(readL._1.drop("bp"),
        mergeMap(spark, srcDir, locked = true)).localCheckpoint())
    val parts =
      if (requestedParts > 0) requestedParts
      else IncrementalDedup.storePartsFor(
        resolved.map(_.count()).getOrElse(0L))
    resolved.foreach { r =>
      r.withColumn("bp", IncrementalDedup.bpOf(parts, col("v")))
        .repartition(col("bp"))
        .write.partitionBy("bp").mode("errorifexists")
        .parquet(s"$dstDir/$LabelsDir")
    }
    val dstFs = new org.apache.hadoop.fs.Path(dstDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    IncrementalDedup.writeManifest(dstFs, dstDir, Map(
      "variant" -> "components", "store_parts" -> parts.toString))
    parts
  }

  /** Absorb one batch of undirected pairs into the store (created on
    * first use) and return the resolved (v, component) view of THIS
    * batch's vertices. Store partition count fixes at creation via
    * [[IncrementalDedup.storePartsFor]] over the batch's vertex count
    * (manifest-recorded, explicit wins — the dedup-store discipline).
    * Runs on the shared [[StoreCycle]] with `labels/` as its data table:
    * the fresh vertices' label rows are the cycle's append, and the
    * post-append action writes the merge rows and then folds the log
    * when it passes `mergeLogCap`. */
  def addPairs(
      pairs: DataFrame,
      storeDir: String,
      aCol: String = "doc_a",
      bCol: String = "doc_b",
      storeParts: Int = IncrementalDedup.AutoStoreParts,
      mergeLogCap: Long = DefaultMergeLogCap): DataFrame =
    StoreCycle.run(pairs, storeDir, storeParts, compactFiles = 0) { _ =>
      // heal a crashed fold BEFORE reading anything (the cycle's labels
      // read heals a crashed retraction)
      Swap.sweep(pairs.sparkSession, storeDir, Labels)
      val edges = pairs
        .select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b"))
        .localCheckpoint()
      // the batch's distinct vertices, bucketed on v; creation sizes the
      // store from their count
      StoreCycle.Family(Layout,
        edges.select(col("a").as("v")).unionAll(edges.select(col("b").as("v")))
          .distinct(),
        _ => Map.empty,
        b => addStep(b, edges, storeDir, mergeLogCap))
    }

  /** Merge-log row cap before a cycle auto-compacts (r12 verdict #3):
    * [[mergeMap]] collects the log driver-side, so an uncompacted
    * lifetime of merge events was the one unbounded driver structure
    * left in the engine. Folding at ~1M rows bounds the collect at
    * ~16 MB while keeping compactions rare (a merge event retires a
    * CLUSTER — corpora don't produce millions of cluster merges per
    * batch). 0 disables the auto-fold (a caller running its own
    * compaction cadence). */
  val DefaultMergeLogCap: Long = 1L << 20

  private def addStep(
      b: StoreCycle.Batch,
      edges: DataFrame,
      storeDir: String,
      mergeLogCap: Long): StoreCycle.Step[DataFrame] = {
    val spark = edges.sparkSession
    val verts = b.rows
    val (mm, mmRows) = mergeMapCounted(spark, storeDir, locked = true)
    // existing assignments of the batch's endpoints: partition-pruned to
    // the batch's own hash range, resolved through the merge log
    val existingCk = (if (b.stored.isEmpty) b.store
      else resolve(b.store.join(verts, Seq("v"), "left_semi"), mm))
      .localCheckpoint()
    // local graph: the batch's pairs plus one (v — current root) edge
    // per already-labeled endpoint. Component ids live in the vertex id
    // namespace (cluster-min convention), so a root participates as a
    // virtual vertex and min-label propagation over this SMALL graph
    // yields the correct NEW canonical for every touched cluster.
    val graph = edges.select(col("a").as("doc_a"), col("b").as("doc_b"))
      .unionAll(existingCk
        .filter(col("v") =!= col("component"))
        .select(col("v").as("doc_a"), col("component").as("doc_b")))
    val comp = Components.ofPairs(graph).localCheckpoint()

    // 1. fresh vertices get their first label row (the cycle's append)
    val fresh = comp.join(verts, Seq("v"), "left_semi")
      .join(existingCk.select("v"), Seq("v"), "left_anti")
      .withColumn("bp", b.bp)
    // 2. dethroned roots get a merge row: roots whose NEW component is
    //    smaller than themselves. O(touched clusters) rows.
    val dethroned = comp
      .join(existingCk.select(col("component").as("v")).distinct(), Seq("v"),
        "left_semi")
      .filter(col("component") < col("v"))
      .select(col("v").as("old"), col("component").as("new"))
    def mergeRows(): Unit = {
      // the batch's merge-row count rides the append's own
      // materialization (observe) — the cap check must not re-count
      val dethObs = org.apache.spark.sql.Observation()
      dethroned.observe(dethObs, count(lit(1)).as("n"))
        .write.mode("append").parquet(s"$storeDir/$MergesDir")
      val dethRows = dethObs.get("n").asInstanceOf[Long]
      // merge-log residence bound: once the log (pre-existing rows — the
      // RAW count off this cycle's own mergeMap collect — plus this
      // batch's appended merge rows) passes the cap, fold it into labels
      // NOW, under the lock we already hold; after the fold the log is
      // empty, so the next cycle's driver-side collect is bounded by
      // cap + one batch's merges.
      if (mergeLogCap > 0 && mmRows + dethRows > mergeLogCap)
        compactLocked(spark, storeDir)
    }
    // the batch view: comp already holds the final canonical for every
    // batch vertex, checkpointed, so the store writes cannot invalidate it
    StoreCycle.Step(comp.join(verts, Seq("v"), "left_semi"), verts, Some(fresh),
      after = () => mergeRows())
  }

  /** Streaming form: absorb a PAIR STREAM into the label store, one
    * locked cycle per micro-batch — the natural downstream of
    * `IncrementalDedup.minhashStream`'s pair output. Batch views land
    * under `resultsDir/batch=<epoch>`, overwritten per epoch (the
    * exactly-once contract of the dedup streams); the STORE itself is
    * idempotent under replay, so the pipeline end-to-end tolerates
    * at-least-once delivery. */
  def pairStream(
      pairsStream: DataFrame,
      storeDir: String,
      resultsDir: String,
      checkpointDir: String,
      aCol: String = "doc_a",
      bCol: String = "doc_b",
      storeParts: Int = IncrementalDedup.AdoptOrDefaultStoreParts): org.apache.spark.sql.streaming.StreamingQuery =
    pairsStream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        addPairs(batch.toDF(), storeDir, aCol, bCol, storeParts)
          .write.mode("overwrite").parquet(s"$resultsDir/batch=$id")
        ()
      }
      .start()

  /** Retraction arm of [[Retract.retract]] (runs under the already-held
    * store lock): erase the retired vertices' label rows AND their
    * identity as cluster NAMES. The merge log is folded first
    * ([[compactLocked]] — after it every raw label is canonical and the
    * log is empty, so retired ids can only appear as `v` or as a
    * cluster's `component` name), then ONE compound rewrite commits
    * both effects under a single `_retract_pending` marker (r14 verdict
    * #3 — the old two-sequential-commits shape left a crash window
    * between them where labels named a retired doc_id until a manual
    * re-run): the touched set is every partition holding a retiree's
    * own row OR any member row of a cluster a retiree NAMES (all such
    * members carry the retired name in their `component` column, so the
    * discovery scan sees the full cluster), and the staged replacement
    * drops the retirees' rows then re-canonicalizes retired-named
    * clusters to their min SURVIVING member — computed AFTER the drop,
    * from the touched rows themselves, so the mapping is complete.
    *
    * Graph semantics, stated: edges a retired doc contributed stay
    * merged — the cluster was derived from OTHER documents' content
    * too, and splitting it would re-run the pair history this store
    * exists to avoid. What retraction erases is every occurrence of the
    * retired ID (as a vertex and as a name); RetractSpec pins both.
    * Returns label rows removed (renames are updates, not removals). */
  private[ops] def retractLocked(
      spark: SparkSession, storeDir: String, ids: Seq[Long],
      manifest: Map[String, String]): Long = {
    Swap.sweep(spark, storeDir, Labels)
    compactLocked(spark, storeDir)
    val parts = manifest.get("store_parts").map(_.toInt).getOrElse(
      sys.error(s"$storeDir has no store_parts in its manifest"))
    // removed = own rows only (renames are updates): one column-pruned
    // count, bp-prefiltered — the compound matcher below can't report
    // it (its hit count includes renamed members)
    val (labels0, hasData) = Labels.read(spark, storeDir, manifest)
    if (!hasData) return 0L
    val bps = Retract.bpsOf(ids, parts)
    val removed = Retract.semiOn(spark, ids, "v")(
      labels0.filter(col("bp").isin(bps: _*))).count()
    val ownOf = Retract.semiOn(spark, ids, "v")
    val namedOf = Retract.semiOn(spark, ids, "component")
    // labels(), the fold, and the batch cycle all read this table
    // through the pointer-aware StoreTable reader, so rename-less schemes
    // commit this swap by pointer flip (and the fold itself commits by
    // pointer too — see compactLocked)
    Retract.rewriteTouched(spark, Labels.dir(storeDir), Labels.partCol,
      Labels.readRaw(spark, storeDir, manifest),
      df => ownOf(df).unionByName(namedOf(df)),
      df => {
        val kept = Retract.antiOn(spark, ids, "v")(df)
        // min surviving member per retired-named cluster; retired-named
        // clusters are ≤ the takedown batch, so the mapping broadcasts
        val canon = namedOf(kept)
          .groupBy("component").agg(min(col("v")).as("__new"))
        kept.join(broadcast(canon), Seq("component"), "left")
          .withColumn("component", coalesce(col("__new"), col("component")))
          .drop("__new")
      })
    removed
  }

  /** One row per CLUSTER: the canonical member (v == component) of
    * every multi-member cluster plus, implicitly, every never-paired
    * document a caller keeps by anti-joining the label view — the
    * store-backed form of `Dedup.keepRepresentatives`'s decision.
    * Shrinking a corpus is then `docs ⨝ keepers ∪ docs ⟂ labels`. */
  def keepers(spark: SparkSession, storeDir: String): DataFrame =
    labels(spark, storeDir).filter(col("v") === col("component"))

  /** Fold the merge log into the label table and clear it. Relabeling
    * never moves a row between partitions (bp keys on v, not
    * component), so the fold replaces the whole labels table through the
    * whole-table swap the IVF rebuild shares ([[TableSwap]]), dropping
    * the folded log once the new labels are in: a crash either discards
    * the staged labels or finishes the swap on the next locked cycle or
    * read-heal. Replaying a stale log over folded labels is a no-op,
    * since the dethroned roots no longer appear as any row's component.
    * Returns the number of rows whose label changed. */
  def compact(spark: SparkSession, storeDir: String): Long =
    graft.fs.StoreLock.withLock(storeDir,
      spark.sparkContext.hadoopConfiguration) {
      Layout.sweep(spark, storeDir)
      compactLocked(spark, storeDir)
    }

  /** The compaction fold body, for callers that already hold the store
    * lock (the public [[compact]], and [[addPairs]]'s merge-log cap). */
  private[ops] def compactLocked(spark: SparkSession, storeDir: String): Long = {
    val mm = mergeMap(spark, storeDir, locked = true)
    if (mm.isEmpty) return 0L
    val (base0, hasData) = Labels.readRaw(spark, storeDir,
      IncrementalDedup.storeManifest(spark, storeDir))
    if (!hasData) 0L
    else Swap.commit(spark, storeDir, Labels) { staged =>
      val obs = org.apache.spark.sql.Observation()
      resolve(base0.withColumn("__prev", col("component")), mm)
        .observe(obs, count(when(col("component") =!= col("__prev"),
          lit(1))).as("changed"))
        .drop("__prev")
        .repartition(col("bp"))
        .write.partitionBy("bp").parquet(staged(LabelsDir))
      obs.get("changed").asInstanceOf[Long]
    }
  }
}
