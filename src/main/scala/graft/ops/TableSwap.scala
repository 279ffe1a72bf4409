package graft.ops

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The whole-table swap of a store's data table: the IVF recluster
  * (`assignments/`, with `centroids/` alongside) and the components fold
  * (`labels/`, then the folded `merges/` log dropped) both replace every
  * partition of a table at once, through this one protocol. A family
  * passes only data, all named relative to the store root:
  *
  *  - `marker`: the ready marker that commits a rename-mode swap; its
  *    body `preepoch=<n>` keeps the table's seqlock epoch from before
  *    the swap, which deletes the table dir and its counter with it;
  *  - `tmp`: the rename-mode staging dir;
  *  - `pointerTmp`: the pointer-mode staging dir;
  *  - `aux`: further whole tables replaced in the same commit;
  *  - `dropAfter`: a dir deleted once the swap is in.
  *
  * A swap of one table stages it in the staging dir itself; a swap with
  * `aux` tables stages each table in a sub-dir named after it. */
private[ops] final case class TableSwap(
    marker: String, tmp: String, pointerTmp: String,
    aux: Seq[String] = Nil, dropAfter: Option[String] = None) {

  private def staged(root: Path, pointer: Boolean, name: String): Path = {
    val base = new Path(root, if (pointer) pointerTmp else tmp)
    if (aux.isEmpty) base else new Path(base, name)
  }

  /** Whether a committed rename-mode swap awaits its roll-forward. */
  def pending(spark: SparkSession, storeDir: String): Boolean = {
    val p = new Path(storeDir, marker)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Stage a new generation of `table` and the `aux` tables, then swap it
    * in; the caller holds the store lock and has run [[sweep]]. `write`
    * gets each table's staging dir by name and writes the whole
    * generation there; its result is returned once the swap is in.
    *
    * Pointer stores (a rename-less scheme, or a table that already has a
    * pointer) commit with ONE pointer PUT that carries the aux tables as
    * versioned tables too ([[graft.fs.PartitionPointer.commitSwap]]): a
    * crash before it leaves only orphans the pointer GC collects, and
    * after it the swap is in. The table dir survives, and its epoch with
    * it.
    *
    * Rename stores roll forward from the marker: a crash before it leaves
    * only the staging dir, which [[sweep]] discards; after it, [[sweep]]
    * finishes the swap. The arm sentinel brackets the whole window in
    * both modes, so a lock-free reader that validates against no arm and
    * an unchanged epoch saw exactly one generation. */
  def commit[A](spark: SparkSession, storeDir: String, table: StoreTable)(
      write: (String => String) => A): A = {
    val root = new Path(storeDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = table.dir(storeDir)
    val tRoot = new Path(dir)
    val pointer = graft.fs.PartitionPointer.swapsByPointer(fs, tRoot)
    fs.delete(new Path(root, if (pointer) pointerTmp else tmp), true)
    val out = write(n => staged(root, pointer, n).toString)
    if (pointer) {
      Retract.armRaise(spark, dir)
      val stage = staged(root, pointer, table.rel)
      graft.fs.PartitionPointer.commitSwap(spark, tRoot, table.partCol,
        graft.fs.PartitionPointer.replaceAllLines(fs, tRoot, table.partCol, stage),
        stage, () => Retract.bumpEpochAt(spark, dir),
        tableStages = aux.map(n => n -> staged(root, pointer, n)).toMap)
      // readers resolve the pointer's versioned aux tables first: the
      // legacy dirs are garbage now
      aux.foreach(n => fs.delete(new Path(root, n), true))
      dropAfter.foreach(d => fs.delete(new Path(root, d), true))
      fs.delete(new Path(root, pointerTmp), true)
      Retract.armClear(spark, dir)
    } else {
      // a never-bumped table reads 0, as does the window in which the
      // swap has deleted its counter: stamp 1 first, so a reader holding
      // e0 = 0 cannot span the window unseen
      val pre = Retract.epoch(spark, dir) match {
        case 0L => Retract.setEpochAt(spark, dir, 1L); 1L
        case e  => e
      }
      graft.fs.AtomicRename.publishSmallFile(fs, new Path(root, marker),
        s"preepoch=$pre".getBytes(UTF_8), s".tmp-${ProcessHandle.current().pid()}")
      Retract.armRaise(spark, dir)
      finish(spark, fs, storeDir, table, Some(pre))
    }
    out
  }

  /** Roll a committed rename-mode swap forward; every step re-runs safely
    * after a crash. Each table still staged replaces its live dir — the
    * aux tables first, so the data table, whose signals readers
    * snapshot, turns over last. The arm is raised again in the placed
    * dir (the delete took it with the old one), `dropAfter` goes, and
    * the epoch is published as `pre + 1` (a plain bump for a body-less
    * marker) BEFORE the marker delete, so successive generations never
    * repeat an epoch; then the marker, the staging dir and the arm go. */
  private def finish(spark: SparkSession, fs: FileSystem, storeDir: String,
      table: StoreTable, pre: Option[Long]): Unit = {
    val root = new Path(storeDir)
    val dir = table.dir(storeDir)
    (aux :+ table.rel).foreach { n =>
      val src = staged(root, pointer = false, n)
      if (fs.exists(src)) {
        val live = new Path(root, n)
        fs.delete(live, true)
        require(fs.rename(src, live), s"rename failed: $src -> $live")
      } // src absent: this table was already placed
    }
    Retract.armRaise(spark, dir)
    dropAfter.foreach(d => fs.delete(new Path(root, d), true))
    pre.fold(Retract.bumpEpochAt(spark, dir))(e => Retract.setEpochAt(spark, dir, e + 1L))
    fs.delete(new Path(root, marker), false)
    fs.delete(new Path(root, tmp), true)
    Retract.armClear(spark, dir)
  }

  /** Finish a crashed swap whose marker is up, else discard its staging;
    * and collect a legacy aux dir a pointer commit superseded (a crash
    * between its PUT and its GC). Every locked writer runs it before it
    * reads, and so does the read-heal. */
  def sweep(spark: SparkSession, storeDir: String, table: StoreTable): Unit = {
    val root = new Path(storeDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val m = new Path(root, marker)
    if (fs.exists(m)) {
      val in = fs.open(m)
      val body = try new String(in.readAllBytes(), UTF_8).trim finally in.close()
      finish(spark, fs, storeDir, table,
        Option.when(body.startsWith("preepoch="))(body.stripPrefix("preepoch="))
          .flatMap(_.toLongOption))
    }
    Seq(tmp, pointerTmp).distinct.foreach(t => fs.delete(new Path(root, t), true))
    val tRoot = new Path(table.dir(storeDir))
    aux.foreach { n =>
      val legacy = new Path(root, n)
      if (fs.exists(legacy) && graft.fs.PartitionPointer.liveTable(fs, tRoot, n).isDefined)
        fs.delete(legacy, true)
    }
  }
}
