package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persisted IVF (inverted-file) ANN index — the build-once / query-many
  * shape a production vector store runs, as two plain parquet tables:
  *
  *   <indexDir>/centroids    (cell, centroid array<double>)   k×dim, tiny
  *   <indexDir>/assignments  (id, vec, cell=<hive partition>)  the corpus
  *
  * The assignments table is HIVE-PARTITIONED BY CELL, which is the whole
  * point: a probe filters `cell IN (the query's nprobe nearest cells)`,
  * so partition pruning reads nprobe/nlist of the corpus from disk —
  * at 100 TB the search is a pruned scan, not a full pass (the inline
  * `Similarity.ivfTopK` re-assigns cells per call; this index pays that
  * cost once at build). Any parquet reader can consume both tables —
  * same external-handoff contract as the rootfs table.
  */
object IvfIndex {

  private val Layout = StoreLayout.named("ivf")
  private val Assignments = Layout.data
  private val Swap = Layout.swap.get

  /** Build the index at `indexDir` (overwrites): assigns every candidate
    * to its nearest centroid (first-`nlist` seed, or `kmeansIters` Lloyd
    * rounds) and writes the cell-partitioned corpus + centroid table. */
  def build(
      candidates: DataFrame,
      indexDir: String,
      nlist: Int = 16,
      kmeansIters: Int = 0,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit =
    // under the writer lock like every other mutation: an unlocked
    // build racing a locked append would interleave its overwrites with
    // the append's reads. And sweep FIRST — a stale _rebuild_ready
    // marker from a crashed rebuild would otherwise survive the build
    // and resurrect the PRE-crash generation over the fresh tables on
    // the next locked cycle's sweep.
    graft.fs.StoreLock.withLock(indexDir,
      candidates.sparkSession.sparkContext.hadoopConfiguration) {
      val spark = candidates.sparkSession
      Layout.sweep(spark, indexDir)
      val cand = candidates.select(col(idCol).as("id"), col(vecCol).as("vec"))
      // seeding + assignment are the SAME helpers the inline ivfTopK uses —
      // the "persisted index reproduces the inline path" contract
      val cents =
        if (kmeansIters > 0)
          Similarity.kmeansCentroids(candidates, nlist, kmeansIters, idCol, vecCol)
        else Similarity.seedCentroids(cand, nlist)
      cents.coalesce(1).write.mode("overwrite").parquet(s"$indexDir/centroids")
      val centroids = spark.read.parquet(s"$indexDir/centroids")
      writeAssignments(Similarity.assignCells(cand, centroids),
        s"$indexDir/assignments", org.apache.spark.sql.SaveMode.Overwrite)
      // manifest the INTENDED nlist (the former "known ratchet":
      // kmeansCentroids drops cells that received no members, and a
      // rebuild that re-derives nlist from the live centroid table
      // inherits every decay — with the manifest, rebuilds re-cluster
      // at the design count forever)
      IncrementalDedup.writeManifest(
        new org.apache.hadoop.fs.Path(indexDir)
          .getFileSystem(spark.sparkContext.hadoopConfiguration),
        indexDir,
        Map("variant" -> "ivf", "nlist" -> nlist.toString))
      // seed the swap epoch at BUILD (r18): the rebuild swap destroys
      // assignments/ (and the counter in it) — mid-swap the epoch
      // reads 0, so readers must never legitimately hold e0 = 0 or a
      // first-rebuild race window is seqlock-invisible (0 == 0)
      Retract.setEpochAt(spark, s"$indexDir/assignments", 1L)
    }

  /** The assignments table, pointer-resolved (r18 verdict #1): on
    * rename-less schemes mutations commit by pointer flip
    * ([[graft.fs.PartitionPointer]]), so live rows are the resolved
    * union of legacy `cell=` dirs and versioned generations — a blind
    * `spark.read.parquet` listing would miss the latter. EVERY read
    * surface (search probe, occupancy, append anti-join + width guard,
    * rebuild corpus, retraction) goes through here; that centralization
    * is what lets retraction AND the recluster's whole-layout swap run
    * on object stores with NO override. Rename-atomic stores never grow
    * a pointer, so their read is byte-identical to before.
    *
    * The one store table read with an INFERRED schema (every other
    * reads through [[StoreTable.readRaw]]): the caller's `idCol` and
    * `vecCol` types ride into `id` and `vec` unchanged, and indexes
    * built before the int8 probe lack the `code` column, so no schema
    * can be pinned from the manifest. The inference costs one Spark
    * job per read. */
  private[ops] def assignmentsDf(
      spark: SparkSession, indexDir: String): DataFrame = {
    val dir = Assignments.dir(indexDir)
    graft.fs.PartitionPointer.readDf(spark, dir, None)
      .collect { case (df, true) => df }
      .getOrElse(spark.read.parquet(dir))
  }

  /** The centroids table, pointer-resolved: a pointer-mode rebuild
    * versions it under `assignments/_tables/centroids/tv=K` so the ONE
    * pointer PUT commits centroids and cell partitions together (a
    * two-PUT commit would let a reader pair new assignments with old
    * centroids as a STABLE state after a crash between them). */
  private[ops] def centroidsDf(
      spark: SparkSession, indexDir: String): DataFrame = {
    val aRoot = new org.apache.hadoop.fs.Path(s"$indexDir/assignments")
    val fs = aRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.fs.PartitionPointer.liveTable(fs, aRoot, "centroids") match {
      case Some(p) => spark.read.parquet(p.toString)
      case None    => spark.read.parquet(s"$indexDir/centroids")
    }
  }

  /** The one assignments writer all mutations share. Adds the int8 probe
    * `code` ([[graft.functions.QuantizeCode]] — 8× smaller than the
    * double vector, the column a coded probe scans INSTEAD of `vec`) and
    * sorts each cell partition by id, so the coded search's re-rank
    * fetch (`id IN (candidates)`) lands on tight per-row-group id
    * ranges — parquet min/max skipping turns the fetch into point reads
    * instead of a second pass over the probed cells. */
  private def writeAssignments(
      assigned: DataFrame, dir: String,
      mode: org.apache.spark.sql.SaveMode): Unit =
    assigned
      .withColumn("code", graft.functions.Vec.code(col("vec")))
      .repartition(col("cell"))
      .sortWithinPartitions("cell", "id")
      .write.mode(mode).partitionBy("cell").parquet(dir)

  /** Append a batch to an existing index WITHOUT a rebuild — the
    * maintenance path an hourly-ingest vector store actually runs. New
    * vectors are assigned to the FROZEN build-time centroids (broadcast,
    * map-only) and appended to their cell partitions, one file per
    * touched cell. A drifting corpus therefore degrades recall
    * gradually (cells grow imbalanced) rather than wrongly; file
    * fragmentation is bounded by one file per cell per append.
    *
    * Cell health (r12): each append ends with an occupancy reading —
    * a partition-column-only aggregate, so it scans parquet metadata,
    * not vectors — and when `rebuildImbalance` > 0 and max/mean
    * occupancy exceeds it, the index is re-clustered IN THE SAME LOCK
    * HOLD (fresh k-means centroids over the full corpus, every vector
    * re-assigned, one whole-table swap — see [[rebuild]]).
    * Returns true iff a rebuild ran. The default 0.0 keeps the trigger
    * off: hot-cell growth is expected under planned skew (a product
    * catalog's head), and only the operator knows drift from design.
    *
    * Idempotent retries by the dedup-store argument: a retried vector
    * assigns to the SAME cell (frozen centroids, deterministic
    * tie-break), so the cell-pruned existing-assignments view is a
    * complete witness for the id anti-join — a re-run appends nothing,
    * at touched-cell cost, never a corpus scan. Writers serialize on
    * the index StoreLock; searches are lock-free parquet reads. */
  def append(
      batch: DataFrame,
      indexDir: String,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      rebuildImbalance: Double = 0.0,
      rebuildIters: Int = 2): Boolean =
    graft.fs.StoreLock.withLock(indexDir,
      batch.sparkSession.sparkContext.hadoopConfiguration) {
      val spark = batch.sparkSession
      // finish (or discard) any crashed rebuild or retraction swap
      // BEFORE reading
      Layout.sweep(spark, indexDir)
      // width guard (the embeddingBatch vec_type discipline): the
      // assignments table has ONE element width, fixed at build; an
      // append of a different width would commit mixed-width files into
      // the same partitions and make every later read throw. Upcasting
      // into a double table is exact; anything else is the caller's
      // bug, surfaced loudly here instead of at the next search.
      val tableSchema = assignmentsDf(spark, indexDir).schema
      val tableElem = tableSchema("vec").dataType match {
          case org.apache.spark.sql.types.ArrayType(e, _) => e
          case other => throw new IllegalStateException(
            s"index $indexDir assignments vec is ${other.sql}, not an array")
        }
      val batchElem = batch.schema(vecCol).dataType match {
        case org.apache.spark.sql.types.ArrayType(e, _) => e
        case other => throw new IllegalArgumentException(
          s"$vecCol must be an array column, got ${other.sql}")
      }
      val widthOk = tableElem == batchElem
      require(widthOk ||
        (tableElem == org.apache.spark.sql.types.DoubleType &&
          batchElem.isInstanceOf[org.apache.spark.sql.types.NumericType]),
        s"index $indexDir stores ARRAY<${tableElem.sql}> vectors but the " +
          s"batch's $vecCol is ARRAY<${batchElem.sql}> — narrowing would " +
          "change scores; rebuild the index at the wider type or cast " +
          "the batch explicitly")
      val cand = batch.select(col(idCol).as("id"),
        (if (widthOk) col(vecCol)
         else transform(col(vecCol), x => x.cast("double"))).as("vec"))
        // the existing-id anti-join below cannot catch a duplicate
        // WITHIN the batch (neither copy is in the table yet) — both
        // would commit and the neighbor would surface at two ranks
        .dropDuplicates("id")
      val centroids = centroidsDf(spark, indexDir)
      val assigned = Similarity.assignCells(cand, centroids)
        // reused by the touched probe, the anti-join, and the write
        .localCheckpoint()
      val touched = assigned.select("cell").distinct()
        .collect().map(_.getLong(0)).toSeq // ≤ nlist values, driver-safe
      val existing = probedAssignments(spark, indexDir, touched)
      val fresh = assigned
        .join(existing.select(col("id")), Seq("id"), "left_anti")
      // an index built before the code column existed stays UNCODED —
      // appending coded rows into it would leave nulls on the old rows
      // and a coded probe would silently drop them; rebuild() upgrades.
      // Pointer stores stage-and-move per file (appendPartitioned) so
      // rows land in each touched cell's LIVE generation, not a hidden
      // legacy dir a versioned entry supersedes.
      val freshRows =
        if (tableSchema.fieldNames.contains("code"))
          fresh.withColumn("code", graft.functions.Vec.code(col("vec")))
        else fresh
      if (!graft.fs.PartitionPointer.appendPartitioned(spark,
          s"$indexDir/assignments", freshRows, "cell",
          sortCols = Seq("cell", "id")))
        freshRows
          .repartition(col("cell"))
          .sortWithinPartitions("cell", "id")
          .write.mode("append").partitionBy("cell")
          .parquet(s"$indexDir/assignments")
      val trigger = rebuildImbalance > 0 &&
        imbalance(spark, indexDir) > rebuildImbalance
      if (trigger) rebuildLocked(spark, indexDir, rebuildIters)
      trigger
    }

  /** Retract vectors from the index (r13 verdict #1, the IVF arm):
    * removes every assignment row of the given ids, rewriting only the
    * CELL partitions that held one (the [[Retract]] marker roll-forward;
    * preserves the id-sort the coded re-rank fetch skips on). A later
    * [[append]] of the same ids re-adds them cleanly — the existing-id
    * anti-join no longer sees them. Returns rows removed. */
  def retract(spark: SparkSession, indexDir: String, ids: Seq[Long]): Long = {
    require(ids.nonEmpty, "retract: empty id list")
    graft.fs.StoreLock.withLock(indexDir,
      spark.sparkContext.hadoopConfiguration) {
      Swap.sweep(spark, indexDir, Assignments)
      val dd = ids.distinct
      // the whole IVF read surface (search, occupancy, rebuild, append
      // anti-join) resolves the partition pointer via
      // assignmentsDf/centroidsDf, so rename-less schemes commit this
      // swap by pointer flip
      Retract.rewriteTouched(spark, Assignments.dir(indexDir), Assignments.partCol,
        if (Assignments.holdsData(spark, indexDir)) (assignmentsDf(spark, indexDir), true)
        else (spark.emptyDataFrame, false),
        Retract.semiOn(spark, dd, "id"), Retract.antiOn(spark, dd, "id"),
        sortCols = Seq("cell", "id"))
    }
  }

  /** Per-cell occupancy (cell, n) of the assignments table. The count
    * groups on the HIVE PARTITION column, so the scan reads no data
    * columns — footer metadata and directory names only; cheap enough
    * to run after every append even on a 100 TB index. Cells that exist
    * in the centroid table but hold no vectors have no partition
    * directory and so no row here. */
  def cellOccupancy(spark: SparkSession, indexDir: String): DataFrame = {
    Layout.heal(spark, indexDir)
    assignmentsDf(spark, indexDir)
      .groupBy("cell").agg(count(lit(1)).as("n"))
  }

  /** max/mean cell occupancy — 1.0 is perfectly balanced; the probe
    * cost model degrades linearly in this ratio (a probe of the hottest
    * cell reads max/mean times its fair share of the corpus). */
  def imbalance(spark: SparkSession, indexDir: String): Double = {
    val row = cellOccupancy(spark, indexDir)
      .agg(max("n").cast("double"), avg("n")).collect()(0)
    if (row.isNullAt(0)) 1.0 else row.getDouble(0) / row.getDouble(1)
  }

  /** Re-cluster the index in place: fresh k-means centroids over the
    * CURRENT corpus (same nlist), every vector re-assigned, committed as
    * one whole-table swap of `assignments/` with `centroids/` alongside
    * ([[TableSwap]]): a crash either discards the staged generation or
    * finishes the swap on the next locked cycle or read-heal, so readers
    * see a complete index of ONE generation. On rename-less schemes the
    * swap is one pointer PUT covering every cell partition AND the
    * centroids table, so the recluster needs no override there. */
  def rebuild(spark: SparkSession, indexDir: String, kmeansIters: Int = 2): Unit =
    graft.fs.StoreLock.withLock(indexDir,
      spark.sparkContext.hadoopConfiguration) {
      Layout.sweep(spark, indexDir)
      rebuildLocked(spark, indexDir, kmeansIters)
    }

  private def rebuildLocked(
      spark: SparkSession, indexDir: String, kmeansIters: Int): Unit = {
    val corpus = assignmentsDf(spark, indexDir)
      .select("id", "vec")
    // nlist comes from the build-time manifest (r14 — the former "known
    // ratchet" closed): kmeansCentroids drops cells that received no
    // members, so deriving nlist from the LIVE centroid table let every
    // drifted rebuild inherit the decayed count. Pre-manifest legacy
    // indexes keep the old fallback; their first manifest arrives with
    // the next build().
    val nlist = IncrementalDedup.storeManifest(spark, indexDir).get("nlist")
      .map(_.toInt)
      .getOrElse(centroidsDf(spark, indexDir).count().toInt)
    // the staged generation reads the live tables and writes elsewhere,
    // so no read-under-overwrite hazard
    val cents =
      if (kmeansIters > 0)
        Similarity.kmeansCentroids(corpus, nlist, kmeansIters, "id", "vec")
      else Similarity.seedCentroids(corpus, nlist)
    Swap.commit(spark, indexDir, Assignments) { staged =>
      cents.coalesce(1).write.mode("overwrite").parquet(staged("centroids"))
      // codes re-derive from vec, so a rebuild also UPGRADES a pre-code
      // index to the coded layout
      writeAssignments(Similarity.assignCells(corpus, spark.read.parquet(staged("centroids"))),
        staged(Assignments.rel), org.apache.spark.sql.SaveMode.Overwrite)
    }
  }

  /** The assignments scan restricted to `cells` — THE partition-pruned
    * read (search() and the pruning spec share it, so the spec tests the
    * real plan). Literal type MATCHES the inferred partition type: hive
    * partition inference types small `cell=` values as INT, and a
    * BIGINT comparison there would wrap the partition attribute in a
    * cast — defeating pruning, degrading every probe to a corpus scan.
    * But a blanket `.toInt` would silently TRUNCATE when the inference
    * says BIGINT (seed cells are raw vector ids, which can exceed Int):
    * the isin would match nothing, searches would return empty, and the
    * append anti-join's witness would vanish. Dispatch on the schema. */
  private[ops] def probedAssignments(
      spark: SparkSession, indexDir: String, cells: Seq[Long]): DataFrame = {
    val df = assignmentsDf(spark, indexDir)
    val lits: Seq[Any] = df.schema("cell").dataType match {
      case org.apache.spark.sql.types.IntegerType => cells.map(_.toInt)
      case _                                      => cells
    }
    df.filter(col("cell").isin(lits: _*))
  }

  /** Search the index: exact cosine top-k over the `nprobe` nearest
    * cells of each query. The probed cell set reaches the assignments
    * scan as a partition filter (≤ nlist values, collected driver-side —
    * k-sized, not corpus-sized), so only those partitions are read.
    *
    * `rerank` = 0 (default) scores every probed row on the full `vec`
    * column — exact over the probed cells. `rerank` ≥ 1 is the IVF-PQ
    * path: the scoring pass reads only the int8 `code` column (8× fewer
    * bytes off disk — at 100 TB the probe's IO is the search cost),
    * keeps the top k·rerank candidates per query by approximate cosine,
    * then re-ranks JUST those on exact vectors — an `id IN (…)` fetch
    * (≤ |queries|·k·rerank ids, driver-bounded by construction) against
    * the id-sorted cell files, so parquet min/max skips the row groups
    * holding no candidate. Final scores are exact cosine; only the
    * candidate CUT is approximate (int8 |Δcosine| ≲ 0.006, so recall
    * loss needs true neighbors separated by less than the quantization
    * noise — the recall unit pins ≥ 0.95 at rerank 4). Requires a coded
    * index (built/rebuilt since the code column); throws otherwise
    * rather than silently scoring nulls. */
  def search(
      spark: SparkSession,
      indexDir: String,
      queries: DataFrame,
      k: Int,
      nprobe: Int = 4,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      rerank: Int = 0): DataFrame = {
    // SEQLOCK read (r17 — the bm25 discipline ported to the ANN arm):
    // searches are lock-free parquet reads, and a CONCURRENT
    // `IvfIndex.retract` swaps probed-cell partitions by rename fence —
    // whole-old, whole-new, or transiently ABSENT. A listing taken
    // inside the two-rename window silently misses the cell (fewer
    // neighbors, no error), and fenced-out files can vanish under an
    // in-flight task. Bracket the racy section — listing, pruned probe,
    // the scoring jobs, and the materializing localCheckpoint — with
    // (pending, epoch) snapshots on assignments/ (Retract.finish bumps
    // the shared `_retract_epoch` there) and retry any attempt a swap
    // overlapped. Bounded like the bm25 loop: retractions are short
    // administrative ops; waiting them out past the deadline means a
    // wedged retractor.
    val aDir = s"$indexDir/assignments"
    // shared seqlock bracket (SwapRetry, the r19→r20 unification):
    // progress deadline resets on signature movement, absolute cap
    // bounds a pathological continuous churner, and a swap-shaped
    // failure (incl. the r19 race find — path RESOLUTION hitting the
    // rename-path rebuild's whole-table-absent instant, PATH_NOT_FOUND
    // from the analyzer) retries ONLY when marker/arm/epoch movement
    // explains it.
    SwapRetry.seqlockRead(spark, aDir, s"ivf search on $indexDir",
      () => Layout.heal(spark, indexDir),
      swapMarker = Some(s"$indexDir/${Swap.marker}"),
      refreshPath = Some(indexDir)) { () =>
      searchAttempt(spark, indexDir, queries, k, nprobe,
        idCol, vecCol, rerank)
    }
  }

  private def searchAttempt(
      spark: SparkSession,
      indexDir: String,
      queries: DataFrame,
      k: Int,
      nprobe: Int,
      idCol: String,
      vecCol: String,
      rerank: Int): DataFrame = {
    val centroids = broadcast(centroidsDf(spark, indexDir))
    val qcells = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
      .join(centroids)
      .withColumn("r", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(Similarity.cosine(col("qvec"), col("centroid")).desc,
            col("cell").asc)))
      .filter(col("r") <= nprobe)
      .select(col("query_id"), col("qvec"), col("cell"))
    // COLLECTED, not persisted (r21): the frame is (queries × nprobe)
    // rows — broadcast-small by the same contract the scoring joins
    // below already rely on. One collect job yields the probed-cell
    // list for free AND replaces the old persist + collect + unpersist
    // dance, which had a poisoning failure mode (r18: a collect failing
    // mid-swap skipped the unpersist, and the CacheManager's plan key —
    // blind to the captured file listing — served the dead generation's
    // files to every later attempt). A local relation cannot poison
    // anything: each retry recomputes it from live listings.
    val qcellRows = IncrementalDedup.collectPrelude(qcells, s"ivf search on $indexDir")
    val qcellsLocal: DataFrame = broadcast(
      spark.createDataFrame(
        java.util.Arrays.asList(qcellRows: _*), qcells.schema))
    locally {
      val probedCells = qcellRows.map(_.getLong(2)).distinct.toSeq
      val assignments = probedAssignments(spark, indexDir, probedCells)
      if (rerank <= 0) {
        val scored = assignments.join(qcellsLocal, Seq("cell"))
          .select(col("query_id"), col("id").as("neighbor_id"),
            round(Similarity.cosine(col("qvec"), col("vec")), 4).as("cosine"))
        // two-stage top-k: no partition ever holds a query's whole probed set
        Similarity.twoStageTopK(scored, k)
          .localCheckpoint() // materialize inside the seqlock attempt
      } else {
        require(assignments.schema.fieldNames.contains("code"),
          s"index $indexDir has no probe codes — built before the coded " +
            "layout; rebuild() upgrades it in place")
        // scoring pass: (cell, id, code) only — vec never leaves disk here
        val approx = assignments.select("cell", "id", "code")
          .join(qcellsLocal, Seq("cell"))
          .select(col("query_id"), col("id").as("neighbor_id"),
            graft.functions.Vec.cosineCode(col("qvec"), col("code")).as("cosine"))
        val cand = Similarity.twoStageTopK(approx, k * rerank)
          .select("query_id", "neighbor_id").localCheckpoint()
        val candIds = cand.select("neighbor_id").distinct()
          .collect().map(_.getLong(0)).toSeq
        val qvecs = qcellsLocal.select("query_id", "qvec").distinct()
        val exact = assignments
          .filter(col("id").isin(candIds: _*)) // pushed; id-sorted cells
          .select(col("id").as("neighbor_id"), col("vec"))
          .join(broadcast(cand), Seq("neighbor_id"))
          .join(broadcast(qvecs), Seq("query_id"))
          .select(col("query_id"), col("neighbor_id"),
            round(Similarity.cosine(col("qvec"), col("vec")), 4).as("cosine"))
        Similarity.twoStageTopK(exact, k).localCheckpoint()
      }
    }
  }
}
