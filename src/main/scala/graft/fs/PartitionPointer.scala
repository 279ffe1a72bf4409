package graft.fs

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** Swap-by-pointer partition versioning for RENAME-LESS schemes (r17
  * verdict #1) — the upgrade from "fail loudly" to real support.
  *
  * The swap fences ([[graft.ops.Retract]]) commit partition
  * replacements by directory rename, which object-store schemes (S3A
  * and friends) implement as client-side file-by-file COPY + DELETE —
  * a racing lock-free reader can list a PARTIALLY copied partition.
  * r16/r17 closed that hole by refusal ([[AtomicRename.requireForSwap]]);
  * this module closes it by design, using the one atomic primitive
  * every object store does provide: a single-object PUT replaces the
  * object atomically on close ([[AtomicRename.publishSmallFile]]).
  *
  * Layout (engages ONLY once a `_pointer` file exists — the first
  * partition swap on a rename-less scheme creates it; rename-atomic
  * schemes never get one, so their fast path is byte-identical to
  * before):
  *
  * {{{
  *   store/
  *     bp=0/ bp=1/ ...          // "legacy" hive partitions (creation
  *                              //  + appends write here, unchanged)
  *     _parts/bp=3/pv=2/        // versioned replacements, one pv=<K>
  *                              //  generation per committed swap
  *     _tables/centroids/tv=1/  // versioned AUX TABLES (r19): small
  *                              //  sibling tables whose consistency
  *                              //  surface spans the same swap (the
  *                              //  IVF centroids) commit in the SAME
  *                              //  pointer PUT as the partitions
  *     _pointer                 // THE commit point: partition -> live
  *                              //  version map (+ table versions), one
  *                              //  small-file PUT
  * }}}
  *
  * Per-partition pointer entry semantics:
  *  - no entry        → the legacy hive dir (if present) is live;
  *  - live = K ≥ 0    → `_parts/<name>/pv=K` is live; any legacy dir
  *                      with the same name is superseded garbage;
  *  - live = -2       → tombstone: the partition was dropped whole;
  *                      every on-disk dir for it is hidden garbage.
  *
  * A swap therefore stages its replacement partitions wherever it
  * likes (the existing `_retract_tmp` flow), moves each into a FRESH
  * `pv=` path nothing references — a non-atomic copy+delete rename is
  * perfectly safe on an unreferenced path — and commits everything
  * with ONE pointer PUT. Readers resolve the pointer once per read and
  * see whole-old or whole-new, never a half-copied partition. Crash
  * before the PUT: the pointer is unchanged, the store reads exactly
  * as before, and the staged generation is swept as garbage. Crash
  * after: the swap is fully committed; the remaining work is garbage
  * collection. No marker, no roll-forward.
  *
  * GC + the one-generation GRACE window: each entry remembers its
  * previous location (`prev`: an old pv, or [[PrevLegacy]] for the
  * pre-pointer hive dir) and the pointer seq at which it last changed.
  * [[sweepGarbage]] — run under the store lock by every
  * [[graft.ops.Retract.sweep]] — collects an entry's `prev` only once
  * a LATER pointer publish exists (`ptr.seq > entry.chSeq`), so a
  * reader that resolved the pointer just before a swap keeps its whole
  * snapshot on disk for at least one full mutation cycle. Seqlock
  * readers (Bm25Index.search) revalidate their swap epoch after every
  * read and retry, so even a two-swaps-stale snapshot costs a retry,
  * never a torn result. What is NOT protected: a blind
  * `spark.read.parquet(storeDir)` listing taken outside both the lock
  * and the seqlock on a pointer store sees only the legacy dirs —
  * underscore prefixes hide `_parts` from partition discovery. Such a
  * read misses every versioned generation, and it can also return rows
  * the store no longer holds: a legacy dir a swap superseded stays on
  * disk and listable until [[sweepGarbage]] collects it (as
  * `prev = PrevLegacy` for the grace cycle, or hidden behind a
  * tombstone until the tombstone's own grace expires), so a blind read
  * after a retraction can return the retracted rows. Only reads through
  * [[readDf]] see the committed state: every store table reads through
  * it with its pinned schema (`graft.ops.StoreTable.readRaw`), and the
  * IVF assignments with an inferred one (`graft.ops.IvfIndex.assignmentsDf`).
  *
  * Appends on a pointer store stage to an `_append_tmp-<pid>` dir and
  * MOVE files (never directories) into each touched partition's live
  * location — object-level PUTs, atomic per file. Appending into a
  * tombstoned partition first deletes the tombstone's hidden garbage
  * (those rows were retired; resurrecting them is the one failure a
  * takedown cannot have), then clears the tombstone with a pointer PUT
  * BEFORE any file lands, so a crash can never strand visible rows
  * behind a hiding tombstone.
  *
  * Reference contract protected: the whole-or-absent invariant
  * documented at ops/Retract.scala (the reference stores datasets on
  * object storage, crates/cdl-fs/src/lib.rs:343-352, where rename is
  * copy+delete).
  *
  * Cost at object-store scale, stated: the stage→`pv=` move is itself
  * a copy+delete on such schemes — but a SERVER-SIDE one (S3A rename
  * issues CopyObject per file: no bytes through the client) and
  * bounded by the TOUCHED partitions, which every swap in this engine
  * already bounds (retraction/compaction rewrite O(touched); only the
  * IVF recluster moves the whole layout, and that op rewrites the
  * whole layout by definition). The commit itself stays one small PUT
  * regardless of data volume.
  */
object PartitionPointer {

  val PointerFile = "_pointer"
  val PartsDir = "_parts"
  /** Versioned AUX TABLES (r19 — the IVF rebuild's whole-layout swap):
    * a store whose consistency surface includes a small sibling table
    * (the IVF centroids) must commit that table IN THE SAME PUT as its
    * partition flips, or a reader could pair new partitions with the
    * old table. Each named table lives at `_tables/<name>/tv=<K>` under
    * the pointer root with the live K carried by the pointer itself —
    * one publish commits partitions + tables atomically. */
  val TablesDir = "_tables"
  private val AppendTmpPrefix = "_append_tmp-"
  private val Magic = "graftptr1"
  private val MagicV2 = "graftptr2"

  /** live = partition dropped whole; all its dirs are garbage. */
  val Tombstone: Int = -2
  /** prev = none (nothing to collect). */
  val NoPrev: Int = -1
  /** prev = the legacy hive dir `store/<name>` (pre-pointer layout). */
  val PrevLegacy: Int = -3

  /** One partition's pointer state. `chSeq` is the pointer seq of the
    * publish that last changed this entry — the GC grace clock. */
  final case class Entry(live: Int, prev: Int, chSeq: Long)

  final case class Ptr(seq: Long, partCol: String,
      entries: Map[String, Entry],
      tables: Map[String, Entry] = Map.empty)

  def pointerPath(root: Path): Path = new Path(root, PointerFile)

  def active(fs: FileSystem, root: Path): Boolean =
    fs.exists(pointerPath(root))

  def versionedPath(root: Path, part: String, v: Int): Path =
    new Path(root, s"$PartsDir/$part/pv=$v")

  /** Whether a swap of the table at `root` commits by pointer: always on
    * a rename-less scheme, and on any scheme once the table has a
    * pointer — its readers resolve the pointer, so a rename swap of its
    * legacy dirs would miss the versioned generations. Retraction,
    * compaction and the whole-table swap all decide by this one rule. */
  def swapsByPointer(fs: FileSystem, root: Path): Boolean =
    !AtomicRename.isAtomic(root) || active(fs, root)

  /** The live dir of partition `part` under `ptr` (the table's pointer,
    * if it has one): the versioned generation an entry names, else the
    * legacy hive dir; None behind a tombstone. */
  def liveDir(root: Path, ptr: Option[Ptr], part: String): Option[Path] =
    ptr.flatMap(_.entries.get(part)) match {
      case Some(e) if e.live >= 0 => Some(versionedPath(root, part, e.live))
      case Some(_)                => None
      case None                   => Some(new Path(root, part))
    }

  /** Does the pointer-or-legacy view hold any live data? (The
    * pointer-aware twin of the `bp=` listing probe.) */
  def hasLive(fs: FileSystem, root: Path): Boolean =
    readPtr(fs, root).exists { ptr =>
      ptr.entries.values.exists(_.live >= 0) ||
        legacyDirs(fs, root, ptr).nonEmpty
    }

  /** Parse the pointer, retrying briefly on a torn read. On a real
    * object store the publish is one PUT (atomic on close), so a torn
    * read is impossible; the retry exists for posix-backed test mocks
    * where overwrite-create is observable mid-write. Malformed after
    * the retries → loud failure (operator damage; store-fsck names it). */
  def readPtr(fs: FileSystem, root: Path): Option[Ptr] = {
    val p = pointerPath(root)
    var attempt = 0
    while (true) {
      if (!fs.exists(p)) return None
      val body =
        try {
          val in = fs.open(p)
          try Some(new String(in.readAllBytes(),
            java.nio.charset.StandardCharsets.UTF_8))
          finally in.close()
        } catch {
          // exists→open races a concurrent publish's delete window on
          // rename-atomic schemes (µs) — same retry as Retract.epoch
          case _: java.io.FileNotFoundException => None
        }
      body.flatMap(parse) match {
        case Some(ptr) => return Some(ptr)
        case None if attempt < 20 => attempt += 1; Thread.sleep(25L)
        case None => throw new IllegalStateException(
          s"corrupt partition pointer at $p after ${attempt + 1} reads — " +
            "run store-fsck; rebuildStore re-derives a clean layout")
      }
    }
    None // unreachable
  }

  private def parse(body: String): Option[Ptr] = {
    val lines = body.split("\n").map(_.trim).filter(_.nonEmpty)
    if (lines.length < 4 ||
        (lines.head != Magic && lines.head != MagicV2)) return None
    try {
      val seq = lines(1).stripPrefix("seq=").toLong
      val partCol = lines(2).stripPrefix("partcol=")
      if (!lines(2).startsWith("partcol=") || partCol.isEmpty) return None
      val last = lines.last
      if (!last.startsWith("end=")) return None // torn tail
      val n = last.stripPrefix("end=").toInt
      def parseEntry(l: String): (String, Entry) = {
        val t = l.split(" ")
        require(t.length == 4)
        t(0) -> Entry(t(1).toInt, t(2).toInt, t(3).toLong)
      }
      // v2 carries a tables section between the header and the entries
      // (see [[TablesDir]]); v1 bodies (pre-r19 stores) parse with an
      // empty tables map — same magic discipline both ways
      val (tables, entryStart) =
        if (lines.head == MagicV2) {
          if (!lines(3).startsWith("tables=")) return None
          val k = lines(3).stripPrefix("tables=").toInt
          (lines.slice(4, 4 + k).map(parseEntry).toMap, 4 + k)
        } else (Map.empty[String, Entry], 3)
      val entryLines = lines.slice(entryStart, lines.length - 1)
      if (entryLines.length != n) return None
      Some(Ptr(seq, partCol, entryLines.map(parseEntry).toMap, tables))
    } catch { case _: RuntimeException => None }
  }

  /** One-PUT atomic publish (overwrite-create on rename-less schemes,
    * temp+rename on atomic ones — [[AtomicRename.publishSmallFile]]). */
  def publish(fs: FileSystem, root: Path, ptr: Ptr): Unit = {
    def fmt(kv: (String, Entry)): String =
      s"${kv._1} ${kv._2.live} ${kv._2.prev} ${kv._2.chSeq}"
    // v1 body while no tables exist: byte-compatible with pre-r19
    // pointers (and with any reader still on the v1 parser)
    val header =
      if (ptr.tables.isEmpty) Seq(Magic, s"seq=${ptr.seq}", s"partcol=${ptr.partCol}")
      else Seq(MagicV2, s"seq=${ptr.seq}", s"partcol=${ptr.partCol}",
        s"tables=${ptr.tables.size}") ++
        ptr.tables.toSeq.sortBy(_._1).map(fmt)
    val body = (header ++
      ptr.entries.toSeq.sortBy(_._1).map(fmt) ++
      Seq(s"end=${ptr.entries.size}")).mkString("\n")
    AtomicRename.publishSmallFile(fs, pointerPath(root),
      body.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      s".tmp-${ProcessHandle.current().pid()}")
  }

  /** Legacy hive dirs that are LIVE: present on disk and not named by
    * any entry (an entry ≥ 0 supersedes its legacy dir; a tombstone
    * hides it). */
  private def legacyDirs(fs: FileSystem, root: Path, ptr: Ptr): Seq[Path] =
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toIndexedSeq
      .map(_.getPath)
      .filter(_.getName.startsWith(s"${ptr.partCol}="))
      .filterNot(p => ptr.entries.contains(p.getName))

  /** The fresh version for a partition's next generation: one past the
    * max `pv=` dir ON DISK (not just the pointer's) so a crashed
    * earlier attempt's half-copied orphan is never reused. */
  def freshVersion(fs: FileSystem, root: Path, part: String): Int = {
    val pd = new Path(root, s"$PartsDir/$part")
    if (!fs.exists(pd)) 0
    else {
      val vs = fs.listStatus(pd).flatMap(s =>
        s.getPath.getName.stripPrefix("pv=").toIntOption)
      if (vs.isEmpty) 0 else vs.max + 1
    }
  }

  def tablePath(root: Path, name: String, v: Int): Path =
    new Path(root, s"$TablesDir/$name/tv=$v")

  /** [[freshVersion]] for an aux table's next generation. */
  private def freshTableVersion(fs: FileSystem, root: Path, name: String): Int = {
    val td = new Path(root, s"$TablesDir/$name")
    if (!fs.exists(td)) 0
    else {
      val vs = fs.listStatus(td).flatMap(s =>
        s.getPath.getName.stripPrefix("tv=").toIntOption)
      if (vs.isEmpty) 0 else vs.max + 1
    }
  }

  /** The LIVE versioned dir of aux table `name`, when the pointer
    * carries one — the caller keeps its legacy location otherwise. */
  def liveTable(fs: FileSystem, root: Path, name: String): Option[Path] =
    readPtr(fs, root).flatMap(_.tables.get(name))
      .collect { case e if e.live >= 0 => tablePath(root, name, e.live) }

  /** Pointer-aware store read: None when the dir has no pointer (caller
    * keeps its legacy read), else the resolved (frame, hasData). The
    * frame unions the live legacy hive dirs (partition column from
    * directory names, as always) with the live versioned generations
    * (read under `basePath=_parts`, whose `<partCol>=N/pv=K` structure
    * yields the partition column plus a dropped `pv`). Partition
    * pruning pushes into BOTH arms — a `bp.isin(...)` prefilter reads
    * only the touched generations, verified by plan in the spec. */
  def readDf(spark: SparkSession, dir: String,
      schema: Option[StructType]): Option[(DataFrame, Boolean)] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ptr = readPtr(fs, root).getOrElse(return None)
    val legacy = legacyDirs(fs, root, ptr).map(_.toString)
    val versioned = ptr.entries.toSeq.collect {
      case (n, e) if e.live >= 0 => versionedPath(root, n, e.live).toString
    }
    def reader = schema.fold(spark.read)(s => spark.read.schema(s))
    val l =
      if (legacy.isEmpty) None
      else Some(reader.option("basePath", dir).parquet(legacy: _*))
    val v =
      if (versioned.isEmpty) None
      else Some(reader.option("basePath", s"$dir/$PartsDir")
        .parquet(versioned: _*).drop("pv"))
    (l, v) match {
      case (Some(a), Some(b)) => Some((a.unionByName(b), true))
      case (Some(a), None)    => Some((a, true))
      case (None, Some(b))    => Some((b, true))
      case (None, None) =>
        val s = schema.getOrElse(StructType(Nil))
        Some((spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s), false))
    }
  }

  /** Pointer-aware partitioned append. Returns false when the dir has
    * no pointer — the caller keeps its plain
    * `partitionBy(...).mode("append")` write (the only path on
    * rename-atomic schemes). In pointer mode: stage the batch to a tmp
    * dir, then move each staged FILE into its partition's live
    * location — per-object PUTs, atomic each, exactly how a hive
    * append's files become visible. New partitions land as legacy hive
    * dirs (no pointer update needed — the reader lists them);
    * tombstoned partitions are purged and un-tombstoned FIRST (see
    * object doc). Caller holds the store lock (append cycles always
    * do), so the pointer cannot change mid-append. */
  def appendPartitioned(spark: SparkSession, dir: String,
      rows: DataFrame, partCol: String,
      sortCols: Seq[String] = Nil): Boolean = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    var ptr = readPtr(fs, root).getOrElse(return false)
    require(ptr.partCol == partCol,
      s"pointer at $dir is over ${ptr.partCol}, append is over $partCol")
    val tmp = new Path(root,
      s"$AppendTmpPrefix${ProcessHandle.current().pid()}")
    fs.delete(tmp, true)
    val repart = rows.repartition(col(partCol))
    (if (sortCols.nonEmpty) repart.sortWithinPartitions(sortCols.map(col): _*)
     else repart)
      .write.partitionBy(partCol).mode("overwrite").parquet(tmp.toString)
    val staged = fs.listStatus(tmp).toIndexedSeq.map(_.getPath)
      .filter(_.getName.startsWith(s"$partCol="))
    // resurrected tombstones: purge their hidden garbage while it is
    // still hidden, then clear the tombstones in one PUT — only after
    // that may this batch's files land (crash between the two leaves
    // an empty live partition, never retired rows back from the dead)
    val resurrect = staged.map(_.getName)
      .filter(n => ptr.entries.get(n).exists(_.live == Tombstone))
    if (resurrect.nonEmpty) {
      resurrect.foreach { n =>
        fs.delete(new Path(root, n), true)
        fs.delete(new Path(root, s"$PartsDir/$n"), true)
      }
      ptr = ptr.copy(seq = ptr.seq + 1, entries = ptr.entries -- resurrect)
      publish(fs, root, ptr)
    }
    staged.foreach { pd =>
      val name = pd.getName
      // the resurrection above left no staged partition tombstoned
      val dst = liveDir(root, Some(ptr), name).get
      fs.mkdirs(dst)
      fs.listStatus(pd).foreach { f =>
        require(fs.rename(f.getPath, new Path(dst, f.getPath.getName)),
          s"append file move failed: ${f.getPath} -> $dst")
      }
    }
    fs.delete(tmp, true)
    true
  }

  /** The [[commitSwap]] lines of a whole-table swap: replace every
    * partition staged under `tmp`, drop every other live one (pointer
    * entries ≥ 0 plus the legacy dirs no entry names). */
  def replaceAllLines(fs: FileSystem, root: Path, partCol: String,
      tmp: Path): Seq[String] = {
    def parts(dir: Path): Set[String] =
      if (!fs.exists(dir)) Set.empty
      else fs.listStatus(dir).map(_.getPath.getName)
        .filter(_.startsWith(s"$partCol=")).toSet
    val staged = parts(tmp)
    val legacy = parts(root)
    val live = readPtr(fs, root).fold(legacy)(p =>
      p.entries.collect { case (n, e) if e.live >= 0 => n }.toSet ++
        (legacy -- p.entries.keySet))
    staged.toSeq.sorted.map(n => s"replace:$n") ++
      (live -- staged).toSeq.sorted.map(n => s"drop:$n")
  }

  /** Commit a staged partition swap by pointer flip — the rename-less
    * twin of Retract's marker + rename roll-forward. `lines` is the
    * same `replace:<name>` / `drop:<name>` list the marker path uses;
    * staged replacements live under `tmp/<name>`. Steps: move each
    * staged dir to a fresh unreferenced `pv=` path (non-atomic rename
    * is safe there), then ONE pointer PUT commits all of them, then
    * the epoch bump (the seqlock's swap-observability counter, exactly
    * as the marker path bumps it). Old generations become `prev` and
    * are collected by [[sweepGarbage]] after the grace cycle. */
  def commitSwap(spark: SparkSession, root: Path, partCol: String,
      lines: Seq[String], tmp: Path,
      bumpEpoch: () => Unit,
      tableStages: Map[String, Path] = Map.empty): Unit = {
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ptr0 = readPtr(fs, root).getOrElse(Ptr(0L, partCol, Map.empty))
    require(ptr0.partCol == partCol,
      s"pointer at $root is over ${ptr0.partCol}, swap is over $partCol")
    val newSeq = ptr0.seq + 1
    var entries = ptr0.entries
    def prevOf(name: String): Int = entries.get(name) match {
      case Some(e) if e.live >= 0 => e.live
      case Some(_)                => NoPrev // tombstone: nothing live
      case None =>
        if (fs.exists(new Path(root, name))) PrevLegacy else NoPrev
    }
    // an entry's grace-held prev is about to be OVERWRITTEN by this
    // swap's bookkeeping — delete the generation or it leaks as an
    // unreferenced orphan (two back-to-back swaps of one partition
    // never give the grace sweep a later-publish window). Safe within
    // the grace contract: the outgoing prev predates the CURRENT live
    // generation, so only a reader two-or-more swaps stale could still
    // hold it, and epoch revalidation has already sent such readers
    // back to re-resolve. DEFERRED until after the publish (r19
    // ADVICE): deleting before the PUT meant a crash in between rolled
    // back to a pointer still NAMING the deleted prev — a one-swap-
    // stale reader lost its files slightly before any newer pointer
    // existed, tighter than the documented grace contract. Post-PUT
    // the outgoing prev is referenced by nothing; a crash before the
    // deferred delete leaves only an orphan the grace sweep collects.
    val deferredDrops = scala.collection.mutable.ArrayBuffer.empty[Path]
    def dropOutgoingPrev(name: String): Unit = entries.get(name).foreach { e =>
      if (e.prev >= 0) deferredDrops += versionedPath(root, name, e.prev)
      else if (e.prev == PrevLegacy) deferredDrops += new Path(root, name)
    }
    lines.foreach { l =>
      l.split(":", 2) match {
        case Array("replace", name) =>
          val fresh = freshVersion(fs, root, name)
          val dst = versionedPath(root, name, fresh)
          fs.mkdirs(dst.getParent)
          require(fs.rename(new Path(tmp, name), dst),
            s"pointer stage move failed: $tmp/$name -> $dst")
          dropOutgoingPrev(name)
          entries += name -> Entry(fresh, prevOf(name), newSeq)
        case Array("drop", name) =>
          dropOutgoingPrev(name)
          entries += name -> Entry(Tombstone, prevOf(name), newSeq)
        case other => sys.error(s"corrupt swap line: $l")
      }
    }
    // aux tables ride the SAME publish (see [[TablesDir]]): each staged
    // table moves to a fresh unreferenced tv= path first, so a crash
    // before the PUT leaves only orphans for [[sweepGarbage]]
    var tables = ptr0.tables
    tableStages.foreach { case (name, staged) =>
      val fresh = freshTableVersion(fs, root, name)
      val dst = tablePath(root, name, fresh)
      fs.mkdirs(dst.getParent)
      require(fs.rename(staged, dst),
        s"pointer table stage move failed: $staged -> $dst")
      // same outgoing-prev rule as the partitions above (deferred)
      tables.get(name).foreach { e =>
        if (e.prev >= 0) deferredDrops += tablePath(root, name, e.prev)
      }
      val prev = tables.get(name).collect { case e if e.live >= 0 => e.live }
        .getOrElse(NoPrev)
      tables += name -> Entry(fresh, prev, newSeq)
    }
    publish(fs, root, Ptr(newSeq, partCol, entries, tables))
    bumpEpoch()
    deferredDrops.foreach(p => fs.delete(p, true))
    fs.delete(tmp, true)
  }

  /** Collect pointer-store garbage under the store lock: append-tmp
    * corpses, grace-expired previous generations, orphan `pv=` dirs
    * from crashed swaps, and fully-collected tombstones. Grace rule:
    * an entry's `prev` is deleted only when the CURRENT pointer seq is
    * past the entry's change seq — i.e. at least one pointer publish
    * happened since the swap — so a reader's resolved snapshot
    * survives a full mutation cycle (see object doc). No-op (one
    * exists probe) on stores without a pointer. */
  def sweepGarbage(spark: SparkSession, dir: String): Unit = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ptr = readPtr(fs, root).getOrElse(return)
    if (fs.exists(root))
      fs.listStatus(root).map(_.getPath)
        .filter(_.getName.startsWith(AppendTmpPrefix))
        .foreach(p => fs.delete(p, true))
    var entries = ptr.entries
    var changed = false
    // 1. grace-expired previous generations
    ptr.entries.foreach { case (n, e) =>
      if (e.prev != NoPrev && ptr.seq > e.chSeq) {
        if (e.prev == PrevLegacy) fs.delete(new Path(root, n), true)
        else fs.delete(versionedPath(root, n, e.prev), true)
        entries += n -> e.copy(prev = NoPrev)
        changed = true
      }
    }
    // 1b. superseded legacy dirs whose reference was overwritten: a
    // second swap of the same partition sets prev to the OLD pv,
    // dropping the PrevLegacy reference — the hidden legacy dir would
    // otherwise never be collected (r18 review find). An entry with
    // live >= 0 and a non-legacy prev means the legacy dir (if any) was
    // superseded at least one full publish ago; readers that could
    // still resolve it are >= 2 swaps stale and epoch revalidation has
    // already sent them back.
    entries.foreach { case (n, e) =>
      if (e.live >= 0 && e.prev != PrevLegacy) {
        val legacy = new Path(root, n)
        if (fs.exists(legacy)) fs.delete(legacy, true)
      }
    }
    // 2. orphan pv dirs (crashed swaps staged but never referenced)
    val partsRoot = new Path(root, PartsDir)
    if (fs.exists(partsRoot)) {
      fs.listStatus(partsRoot).map(_.getPath).foreach { pd =>
        val keep = entries.get(pd.getName).toSeq
          .flatMap(e => Seq(e.live, e.prev)).filter(_ >= 0).toSet
        fs.listStatus(pd).map(_.getPath)
          .filter(_.getName.startsWith("pv="))
          .filterNot(_.getName.stripPrefix("pv=").toIntOption.exists(keep))
          .foreach(p => fs.delete(p, true))
        if (fs.listStatus(pd).isEmpty) fs.delete(pd, true)
      }
    }
    // 3. grace-expired tombstones: everything they hide is garbage —
    // delete any remaining dirs (e.g. a legacy dir that was already
    // superseded before the drop, so `prev` never referenced it), then
    // drop the entry
    entries.foreach { case (n, e) =>
      if (e.live == Tombstone && e.prev == NoPrev && ptr.seq > e.chSeq) {
        fs.delete(new Path(root, n), true)
        fs.delete(new Path(root, s"$PartsDir/$n"), true)
        entries -= n
        changed = true
      }
    }
    // 4. aux tables, same rules: grace-expired previous generations,
    // then orphan tv dirs (crashed swaps) and table dirs the pointer no
    // longer names at all
    var tables = ptr.tables
    ptr.tables.foreach { case (n, e) =>
      if (e.prev >= 0 && ptr.seq > e.chSeq) {
        fs.delete(tablePath(root, n, e.prev), true)
        tables += n -> e.copy(prev = NoPrev)
        changed = true
      }
    }
    val tablesRoot = new Path(root, TablesDir)
    if (fs.exists(tablesRoot)) {
      fs.listStatus(tablesRoot).map(_.getPath).foreach { td =>
        tables.get(td.getName) match {
          case None => fs.delete(td, true)
          case Some(e) =>
            val keep = Seq(e.live, e.prev).filter(_ >= 0).toSet
            fs.listStatus(td).map(_.getPath)
              .filter(_.getName.startsWith("tv="))
              .filterNot(_.getName.stripPrefix("tv=").toIntOption.exists(keep))
              .foreach(p => fs.delete(p, true))
        }
      }
    }
    if (changed)
      publish(fs, root, Ptr(ptr.seq + 1, ptr.partCol, entries, tables))
  }
}
