package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._

/** Store retraction — the takedown path for DERIVED data (r13 verdict
  * #1): `CdlFs.deleteWhere` removes a document's rows from the TABLE,
  * but its content-derived artifacts survive in the persisted stores —
  * digest/minhash/simhash rows, ngram postings, span-window keepers,
  * LSH-bucketed vectors, IVF assignments, cluster labels. For
  * right-to-be-forgotten those are retained content-derived data;
  * `retract(storeDir, docIds)` erases them, per store, under the same
  * store lock the batch cycles hold.
  *
  * Scale shape: discovery is ONE column-pruned scan of the store's
  * 8-byte id column (the ngram df-pass class of cost — columnar,
  * embarrassingly parallel, no data columns read); the REWRITE then
  * touches only the partitions that actually held a retired row —
  * O(touched partitions), never O(store). Stores whose partition key IS
  * the id hash (the split layout's `vectors/`, the clusters store's
  * `labels/`) skip even the discovery scan: the candidate `bp` set is
  * computed from the ids and pruning applies end-to-end. `docIds` is a
  * driver-side list by design — takedown batches are thousands of ids,
  * not corpus-sized. Batches past [[IsinThreshold]] switch from `isin`
  * predicates to broadcast hash semi/anti joins automatically (r14
  * verdict #4): per-id cost stays flat and the plan never inflates with
  * the id count, so a 10k-id takedown is one call, not ten chunked ones.
  *
  * Keeper semantics (exact + span stores): DROP THE ROW and let the
  * next arrival re-keep. The stores record only the keeper — not the
  * other occurrences — so "promote the next-min survivor" would need
  * occurrence history they deliberately don't keep; dropping erases the
  * content's memory with its keeper (the RTBF-consistent reading: the
  * first post-retraction copy of that content is novel again).
  * RetractSpec proves both halves: a retracted keeper appears in no
  * store scan, and a later batch re-detects against the surviving
  * state correctly. The ngram store's bloom sidecar is left as a
  * SUPERSET (it may still claim retired grams) — supersets only cost
  * false-positive scans, never correctness (the sidecar's standing
  * contract); `rebuildStore` re-derives it tight.
  *
  * Crash contract — roll-forward, the family discipline, for every
  * partition swap of the store layer: a retraction here and a
  * compaction (`IncrementalDedup.compactStore`) both commit through
  * [[replacePartitions]]. The replacement partitions are fully staged
  * under `_retract_tmp`, then a `_retract_pending` marker (listing each
  * partition as `replace:` or `drop:`) commits the swap; [[sweep]] — run
  * by every locked cycle's store read and by the index/label read-heal
  * paths — finishes it after any crash. Before the marker a crash
  * discards the staging dir and the table is untouched. A pointer store
  * commits the same lines with one pointer PUT instead.
  */
object Retract {

  private val RetractTmp = "_retract_tmp"
  private val RetractPending = "_retract_pending"
  private val RetractOldPrefix = "_retractold_"

  /** Retract `docIds` from the dedup-family store at `storeDir`
    * (variant from the manifest): removes every row derived from a
    * retired doc — signature/posting/vector rows keyed `doc_id`/
    * `vec_id`, keeper rows keyed `keep_doc_id` (exact/span), label rows
    * and cluster names (components, via
    * [[IncrementalComponents.retractLocked]]). Returns rows removed. */
  def retract(spark: SparkSession, storeDir: String, docIds: Seq[Long]): Long = {
    require(docIds.nonEmpty, "retract: empty id list")
    // IVF indexes dispatch BEFORE the lock (r14 ADVICE): IvfIndex.retract
    // manages its own locked cycle, and the store lock is not reentrant —
    // a mis-targeted `retract` on an ivf manifest must route, not confuse
    if (IncrementalDedup.storeManifest(spark, storeDir)
        .get("variant").contains("ivf"))
      return IvfIndex.retract(spark, storeDir, docIds)
    graft.fs.StoreLock.withLock(storeDir,
      spark.sparkContext.hadoopConfiguration) {
      val manifest = IncrementalDedup.storeManifest(spark, storeDir)
      require(manifest.contains("variant"),
        s"$storeDir has no readable _graft_store.json manifest — not a " +
          "graft store")
      val ids = docIds.distinct
      def del(t: StoreTable, prefilter: Option[Column]): Long =
        rewriteTouched(spark, t.dir(storeDir), t.partCol,
          t.readRaw(spark, storeDir, manifest), semiOn(spark, ids, t.idCol),
          antiOn(spark, ids, t.idCol), prefilter = prefilter)
      // bucket-partitioned tables with a doc→bp index (r16): the index
      // names the exact candidate bps for the batch — the discovery
      // scan prunes to them (O(touched), no full id-column pass) — and
      // the index's own rows for the retired ids are erased afterwards
      // (it over-claims between the two steps: pruning cost only). A
      // table bucketed on its own id (the split layout's `vectors/`)
      // takes its candidate bps from the ids themselves — pruning
      // end-to-end, no discovery scan.
      def delTable(t: StoreTable): Long = {
        val dataDir = t.dir(storeDir)
        if (t.idHashed)
          del(t, Some(col("bp").isin(
            bpsOf(ids, manifest("store_parts").toInt): _*)))
        else {
          val dpParts = manifest.get("doc_index_parts").map(_.toInt)
            .getOrElse(manifest("store_parts").toInt)
          val pre =
            if (IncrementalDedup.docIndexEnabled(manifest))
              // None (index dir gone despite the flag) → full-scan
              // discovery, never a silent no-op takedown
              IncrementalDedup.docIndexBps(spark, dataDir, ids, dpParts, manifest)
                .map(bps => col("bp").isin(bps: _*))
            else None // legacy store: full-scan discovery
          val n = del(t, pre)
          IncrementalDedup.retractDocIndex(spark, dataDir, ids, dpParts, manifest)
          n
        }
      }
      def takedown: Long = StoreLayout.of(manifest)
        .getOrElse(sys.error(s"unknown store variant in manifest: ${manifest("variant")}"))
        .tables.map(delTable).sum
      manifest("variant") match {
        case "components" =>
          IncrementalComponents.retractLocked(spark, storeDir, ids, manifest)
        // bm25 brackets the same per-table takedown with its arm sentinel
        // and the stats recompute
        case "bm25" => Bm25Index.retractLocked(spark, storeDir)(takedown)
        case _ => takedown
      }
    }
  }

  /** The candidate partition ids a retired-id set hashes into: the
    * stores' `pmod(xxhash64(id), parts)`, computed on the driver (ids
    * are driver-side) with the hash and seed Spark's `xxhash64` uses,
    * so no Spark job starts. */
  private[ops] def bpsOf(ids: Seq[Long], parts: Int): Seq[Int] =
    ids.map(id => java.lang.Math.floorMod(XXH64.hashLong(id, 42L), parts.toLong).toInt)
      .distinct

  /** Takedown batches larger than this switch from `isin` predicates to
    * broadcast hash joins (r14 verdict #4): an N-term isin inflates the
    * predicate tree — plan analysis, codegen, and every pruned scan's
    * filter all walk it — while a broadcast join against the id list
    * costs one tiny exchange regardless of N. Below it, isin wins: the
    * predicate pushes to parquet row-group stats and skips clean files
    * without a join operator in the plan. */
  private[ops] val IsinThreshold = 1000

  private def idsDf(spark: SparkSession, ids: Seq[Long]): DataFrame = {
    import spark.implicits._
    ids.toDF("__rid")
  }

  /** Rows of the frame whose `idCol` IS a retired id — isin below
    * [[IsinThreshold]], broadcast left-semi join above. NULL ids match
    * neither (SQL join semantics = the old !coalesce(pred) reading). */
  private[ops] def semiOn(spark: SparkSession, ids: Seq[Long],
      idCol: String): DataFrame => DataFrame =
    if (ids.size <= IsinThreshold) _.filter(col(idCol).isin(ids: _*))
    else df => df.join(broadcast(idsDf(spark, ids)),
      df(idCol) === col("__rid"), "left_semi")

  /** Rows of the frame whose `idCol` is NOT a retired id (NULLs kept) —
    * the complement of [[semiOn]], broadcast left-anti above the
    * threshold. */
  private[ops] def antiOn(spark: SparkSession, ids: Seq[Long],
      idCol: String): DataFrame => DataFrame =
    if (ids.size <= IsinThreshold)
      _.filter(!coalesce(col(idCol).isin(ids: _*), lit(false)))
    else df => df.join(broadcast(idsDf(spark, ids)),
      df(idCol) === col("__rid"), "left_anti")

  /** Rewrite the partitions of `dataDir` that hold `matcher`-selected
    * rows — and ONLY those — replacing each touched partition's content
    * with `transform` of it. Returns the number of matching rows found.
    * `read` is the table's (live rows, holds data), evaluated only after
    * the sweep has healed any crashed swap: the caller knows the table's
    * schema ([[StoreTable.readRaw]]; IVF infers its own). `prefilter`
    * (partition-column-only) narrows the discovery scan for
    * id-hash-partitioned stores. Caller holds the store lock; the swap
    * is [[replacePartitions]]. */
  private[ops] def rewriteTouched(
      spark: SparkSession,
      dataDir: String,
      partCol: String,
      read: => (DataFrame, Boolean),
      matcher: DataFrame => DataFrame,
      transform: DataFrame => DataFrame,
      sortCols: Seq[String] = Nil,
      prefilter: Option[Column] = None): Long = {
    sweep(spark, dataDir)
    val (df0, hasData) = read
    if (!hasData) return 0L
    val scan = prefilter.map(df0.filter).getOrElse(df0)
    // discovery: (id, partition) only — column-pruned, no data columns
    val hits = matcher(scan)
      .groupBy(partCol).agg(count(lit(1)).as("__n")).collect()
    if (hits.isEmpty) return 0L
    val touchedVals: Seq[Any] = hits.map(_.get(0)).toIndexedSeq
    // touched partitions only (partition-pruned read), transformed
    replacePartitions(spark, dataDir, partCol, touchedVals.map(v => s"$partCol=$v"),
      transform(df0.filter(col(partCol).isin(touchedVals: _*))), sortCols)
    hits.map(_.getLong(1)).sum
  }

  /** The one partition swap of the store layer: partitions `names`
    * (`<partCol>=<v>`) of the table at `dataDir` take the content of
    * `rows`, which carry `partCol` and hold rows of those partitions
    * only. The rows are staged under `_retract_tmp`, one dir per
    * partition; a named partition that stages nothing is dropped. A
    * pointer store ([[graft.fs.PartitionPointer.swapsByPointer]]) commits
    * the swap with one pointer PUT and an epoch bump; any other writes
    * the `_retract_pending` marker and rolls it forward. Caller holds
    * the store lock and has run [[sweep]] (a marker still pending would
    * be overwritten). */
  private[ops] def replacePartitions(spark: SparkSession, dataDir: String,
      partCol: String, names: Seq[String], rows: DataFrame,
      sortCols: Seq[String] = Nil): Unit = {
    import org.apache.hadoop.fs.Path
    val root = new Path(dataDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(root, RetractTmp)
    fs.delete(tmp, true)
    val repart = rows.repartition(col(partCol))
    (if (sortCols.nonEmpty) repart.sortWithinPartitions(sortCols.map(col): _*)
     else repart)
      .write.partitionBy(partCol).mode("overwrite").parquet(tmp.toString)
    // commit point: a partition that stages no tmp dir is recorded as
    // drop: — the sweep can then distinguish "already placed" from
    // "must delete" after any crash
    val lines = names.map { n =>
      if (fs.exists(new Path(tmp, n))) s"replace:$n" else s"drop:$n"
    }
    if (graft.fs.PartitionPointer.swapsByPointer(fs, root))
      graft.fs.PartitionPointer.commitSwap(spark, root, partCol, lines,
        tmp, () => bumpEpoch(fs, root))
    else {
      writeMarker(fs, root, lines)
      finish(fs, root, lines)
    }
  }

  /** Heal a crashed partition swap of the table at `dataDir`: marker
    * present → finish the swap (roll forward); marker absent → any
    * staging dir is a pre-commit crash, discard it. Run by every locked
    * store read (private[graft]: the soak's pointer-GC cadence probe
    * also times it, under its own lock hold). */
  private[graft] def sweep(spark: SparkSession, dataDir: String): Unit = {
    import org.apache.hadoop.fs.Path
    val root = new Path(dataDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    sweepCompactTrash(fs, root)
    val marker = new Path(root, RetractPending)
    if (fs.exists(marker)) {
      val in = fs.open(marker)
      val body =
        try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
        finally in.close()
      finish(fs, root, body.split("\n").toSeq.map(_.trim).filter(_.nonEmpty))
    } else {
      fs.delete(new Path(root, RetractTmp), true)
      // fenced-out corpses can only outlive their marker if the final
      // marker delete itself crashed mid-metadata-op — hygiene, and the
      // underscore prefix keeps them invisible to readers either way;
      // so is the staging of a compaction that crashed before it
      // trashed a partition (see sweepCompactTrash)
      if (fs.exists(root))
        fs.listStatus(root).map(_.getPath)
          .filter(p => p.getName.startsWith(RetractOldPrefix) || p.getName == CompactTmp)
          .foreach(fs.delete(_, true))
    }
    // pointer-store GC (rename-less schemes): collect grace-expired
    // previous generations, orphan staged versions, dead tombstones —
    // one exists() probe on stores without a pointer
    graft.fs.PartitionPointer.sweepGarbage(spark, dataDir)
  }

  private val CompactTrash = "_compact_trash"
  private val CompactTmp = "_compact_tmp"

  /** Heal a compaction that crashed under the trash/place rename swap
    * compaction ran before it committed through [[replacePartitions]]:
    * no current code writes `_compact_trash`, so this heals only states
    * an older writer left, at the cost of one existence probe. It
    * restores partitions left in `_compact_trash` but never re-placed.
    * The commit witness is `_compact_tmp/<name>`: the place step renamed
    * it to `<name>`, so tmp/<name> ABSENT while the partition exists
    * means the place COMMITTED — the live partition already holds the
    * trash rows compacted, and merging them back would double every
    * row. Only when tmp/<name> still EXISTS did the crash land between
    * the two renames; a live dst then means a later append recreated
    * the partition with new rows only, and the trash rows — the store's
    * original data — must MERGE in. File names are task-UUID-unique, so
    * per-file moves cannot collide. Parquet discovery ignores
    * `_`-prefixed dirs, so a read or a takedown discovery over un-swept
    * trash would miss those partitions' rows. */
  private def sweepCompactTrash(
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Unit = {
    import org.apache.hadoop.fs.Path
    val trash = new Path(root, CompactTrash)
    if (!fs.exists(trash)) return
    val tmp = new Path(root, CompactTmp)
    def mustRename(src: Path, dst: Path): Unit =
      require(fs.rename(src, dst), s"rename failed: $src -> $dst")
    fs.listStatus(trash).foreach { s =>
      val name = s.getPath.getName
      val dst = new Path(root, name)
      if (!fs.exists(dst)) mustRename(s.getPath, dst)
      else if (fs.exists(new Path(tmp, name)))
        fs.listStatus(s.getPath)
          .filter(_.getPath.getName.endsWith(".parquet"))
          .foreach(f => mustRename(f.getPath, new Path(dst, f.getPath.getName)))
      else fs.delete(s.getPath, true) // place committed: trash is a stale copy
    }
    fs.delete(trash, true)
    fs.delete(tmp, true)
  }

  /** Quick marker probe for lock-free read paths ([[StoreLayout.heal]]):
    * heal only when a crashed retraction is actually pending, taking the
    * lock briefly. */
  private[ops] def pending(spark: SparkSession, dataDir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dataDir, RetractPending)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  private val RetractEpochFile = "_retract_epoch"
  private val RetractArmFile = "_retract_arm"

  /** Arm-busy sentinel for retraction arms whose consistency surface
    * spans MULTIPLE swaps plus sidecar rewrites (r16 ADVICE, medium):
    * bm25's arm is postings swap → doc-index maintenance → docs swap →
    * stats rewrite → final epoch bump. Each inner swap's own marker and
    * bump cover only itself, so a lock-free reader whose whole
    * read-and-validate cycle fell BETWEEN the postings swap's bump and
    * the final bump saw new postings + stale stats with no marker and
    * an unchanged epoch — and accepted. The sentinel is raised before
    * the first swap and cleared only AFTER the final bump; readers
    * treat it exactly like a pending marker (busy → wait), so the
    * docs/stats phase is observable. A crashed arm leaves the sentinel
    * up; the read-heal ([[StoreLayout.heal]]) finishes the arm's
    * idempotent tail (sweep, the family's tail such as bm25's stats
    * recompute, bump) under the store lock and clears it. Content is a debug aid
    * (pid); only existence is read, so no write-atomicity is needed. */
  private[ops] def armRaise(spark: SparkSession, dataDir: String): Unit = {
    import org.apache.hadoop.fs.Path
    val root = new Path(dataDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(root)
    val out = fs.create(new Path(root, RetractArmFile), true)
    try out.write(ProcessHandle.current().pid().toString
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Clear the arm-busy sentinel — call only after the arm's final
    * epoch bump (the bump-before-clear ordering is what lets a reader
    * that saw no sentinel and an unchanged epoch conclude no arm
    * overlapped its read). */
  private[ops] def armClear(spark: SparkSession, dataDir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dataDir, RetractArmFile)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, false)
  }

  /** Probe the arm-busy sentinel (lock-free read paths). */
  private[ops] def armBusy(spark: SparkSession, dataDir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dataDir, RetractArmFile)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Swap-completion counter for LOCK-FREE readers — the seqlock half
    * the rename-fence alone cannot give (r16, r15 verdict #6): the
    * fence guarantees a racing reader never sees a HALF-DELETED
    * partition, but a listing taken inside the two-rename window still
    * misses the partition entirely, and a reader that probed the
    * pending marker before and after its read can be fooled by a swap
    * that started AND finished in between. [[finish]] bumps this
    * counter exactly once per completed swap, BEFORE deleting the
    * marker; a reader that snapshots (pending, epoch), reads, and
    * re-snapshots therefore observes ANY overlapping swap — as a live
    * marker or as a changed epoch — and retries. Missing file = 0
    * (pre-epoch stores); temp-write + rename keeps the value atomic. */
  private[ops] def epoch(spark: SparkSession, dataDir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(dataDir, RetractEpochFile)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    var attempt = 0
    while (true) {
      try {
        if (!fs.exists(p)) return 0L
        val in = fs.open(p)
        val body =
          try new String(in.readAllBytes(),
            java.nio.charset.StandardCharsets.UTF_8).trim
          finally in.close()
        body.toLongOption match {
          case Some(v) => return v
          // empty/garbled = a concurrent overwrite-create publish
          // caught mid-write (possible only on posix-backed schemes —
          // real object stores PUT atomically on close): transient,
          // same retry as the vanished-file race below. Persistent
          // garbage after the retries is real corruption — loud.
          case None if attempt < 20 => attempt += 1; Thread.sleep(10L)
          case None => throw new IllegalStateException(
            s"corrupt swap-epoch counter at $p: '$body'")
        }
      } catch {
        // exists→open races bumpEpoch's delete→rename window (µs): a
        // vanished file here IS a concurrent bump — brief retry
        case _: java.io.FileNotFoundException if attempt < 20 =>
          attempt += 1; Thread.sleep(10L)
      }
    }
    0L // unreachable
  }

  /** Re-bump a directory's swap epoch from OUTSIDE a finish() — for
    * retraction arms whose consistency surface extends past the data
    * swap (r16 review: bm25's stats sidecar rewrites AFTER the postings
    * swap already bumped, so a reader could pair new postings with
    * stale totals; the extra bump forces its seqlock retry). Caller
    * holds the store lock. */
  private[ops] def bumpEpochAt(spark: SparkSession, dataDir: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(dataDir)
    bumpEpoch(root.getFileSystem(spark.sparkContext.hadoopConfiguration), root)
  }

  /** Write an explicit epoch value — for swaps that REPLACE the whole
    * directory the counter lives in (a rename-mode [[TableSwap]]
    * replaces the entire table dir, destroying `_retract_epoch` with it; a plain
    * bump would then read 0 and write 1 in EVERY generation, making
    * successive rebuilds seqlock-indistinguishable — the ABA a reader
    * spanning exactly one full swap would accept). The caller captures
    * the pre-swap epoch and publishes `old + 1` into the fresh dir.
    * Caller holds the store lock. */
  private[ops] def setEpochAt(
      spark: SparkSession, dataDir: String, value: Long): Unit = {
    val root = new org.apache.hadoop.fs.Path(dataDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.fs.AtomicRename.publishSmallFile(fs,
      new org.apache.hadoop.fs.Path(root, RetractEpochFile),
      value.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      s".tmp-${ProcessHandle.current().pid()}")
  }

  private def bumpEpoch(
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Unit = {
    import org.apache.hadoop.fs.Path
    val p = new Path(root, RetractEpochFile)
    val cur =
      if (!fs.exists(p)) 0L
      else {
        val in = fs.open(p)
        try new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8).trim.toLong
        finally in.close()
      }
    // scheme-aware publish (r16 verdict #1): temp+rename on
    // rename-atomic schemes (µs absent window, readers retry); direct
    // overwrite-PUT on object stores — atomic on close, NO absent
    // window (the old delete+copy+delete flow left the counter
    // momentarily missing, which epoch() would misread as 0)
    graft.fs.AtomicRename.publishSmallFile(fs, p,
      (cur + 1).toString.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      s".tmp-${ProcessHandle.current().pid()}")
  }

  /** Roll the staged swap forward; every step re-runs safely after a
    * crash. Partition replacement is RENAME-FENCED (r14 ADVICE): the
    * live dir first renames to an underscore-prefixed `_retractold_*`
    * sibling (invisible to parquet listing — readers atomically stop
    * seeing the OLD rows), then the staged dir renames in, then the old
    * corpse drops. A lock-free concurrent reader (Bm25Index.search)
    * listing inside the swap can transiently miss the partition
    * entirely — the same already-stated crash-healed shape — but can no
    * longer observe a HALF-DELETED directory (the old delete-then-rename
    * flow deleted the live dir file-by-file under readers). Crash
    * matrix: old-present/live-absent → place src, drop old;
    * src-absent → already placed, drop old; drop lines rename-then-
    * delete the same way. */
  private def finish(
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path,
      lines: Seq[String]): Unit = {
    import org.apache.hadoop.fs.Path
    val tmp = new Path(root, RetractTmp)
    def fenceOut(name: String): Path = {
      // atomically retire the live dir behind an ignored-prefix name;
      // re-runs skip when a prior attempt already moved it
      val old = new Path(root, s"$RetractOldPrefix$name")
      val live = new Path(root, name)
      if (fs.exists(live)) {
        fs.delete(old, true) // a stale corpse from an even earlier crash
        require(fs.rename(live, old), s"retract fence rename failed: $live")
      }
      old
    }
    lines.foreach { l =>
      l.split(":", 2) match {
        case Array("drop", name) => fs.delete(fenceOut(name), true)
        case Array("replace", name) =>
          val src = new Path(tmp, name)
          val old =
            if (fs.exists(src)) {
              val o = fenceOut(name)
              require(fs.rename(src, new Path(root, name)),
                s"retract rename failed: $src")
              o
            } else new Path(root, s"$RetractOldPrefix$name") // already placed
          fs.delete(old, true)
        case other => sys.error(s"corrupt retract marker line: $l")
      }
    }
    // seqlock order: bump BEFORE the marker delete — a reader that saw
    // no marker and an unchanged epoch is guaranteed swap-free. A crash
    // between the two re-runs finish (idempotent renames) and bumps
    // again: spurious reader retries, never a missed swap.
    bumpEpoch(fs, root)
    fs.delete(new Path(root, RetractPending), false)
    fs.delete(tmp, true)
  }

  /** Marker write — temp + rename (the manifest discipline; the marker
    * is written only on rename-atomic schemes): a crash mid-write must
    * leave either no marker (pre-commit) or a complete one (roll
    * forward), never a truncated line list. A crashed writer's orphan
    * temp goes first. */
  private def writeMarker(
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path,
      lines: Seq[String]): Unit = {
    fs.listStatus(root)
      .filter(_.getPath.getName.startsWith(s"$RetractPending.tmp-"))
      .foreach(s => fs.delete(s.getPath, false))
    graft.fs.AtomicRename.publishSmallFile(fs,
      new org.apache.hadoop.fs.Path(root, RetractPending),
      lines.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8),
      s".tmp-${ProcessHandle.current().pid()}")
  }
}
