package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.{DatasetCatalog, GlobalPath}
import graft.fs.{CdlFs, CommitLog, Ingest}

/** Delete-at-scale soak: measure that `CdlFs.deleteWhere` rewrites
  * O(matching files), not O(table) — the claim the takedown path's
  * 100 TB story rests on. Builds a rootfs table of `factor` × the
  * documents corpus spread over 64 top-level dirs, then times
  *  1. a single-document takedown (one file of hundreds touched),
  *  2. a directory-scoped purge (only that p0 partition's files),
  * reporting rewritten vs carried-over file counts and bytes from the
  * commit-log listing — the same numbers a storage bill shows.
  * Usage: `runMain graft.DeleteSoak [sfDir] [factor]` → BASELINE rows.
  */
object DeleteSoak {

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val factor = if (args.length > 1) args(1).toInt else 10
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // free dead shuffles promptly (see Soak's note: the default
      // 30 min ContextCleaner cadence retains every prior stage's
      // shuffle files on scratch disk for the whole run)
      .config("spark.cleaner.periodicGC.interval", "2min")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val root = java.nio.file.Files.createTempDirectory("delete_soak").toString
    val docs = Queries.rd(spark, sfDir, "documents").select("doc_id", "text")
    // token bijection per copy (r19 verdict #8 — Soak's corpus
    // discipline ported here): a `c<i>_` prefix on every token keeps
    // each copy's within-copy duplicate structure EXACT while
    // collapsing cross-copy overlap to zero, so the minhash store's
    // pair counts scale linearly with factor. Naive replication
    // planted a factor-clique on every document — the by-construction
    // quadratic that walled the 100× minhash arm in r18/r19.
    val scaled = (0 until factor).map { i =>
      docs.select((col("doc_id") + lit(i.toLong * 10_000_000L)).as("doc_id"),
        regexp_replace(col("text"), "(^|\\s)", s"$$1c${i}_").as("text"))
    }.reduce(_ unionAll _)
    // one row per document, 64 top-level dirs → ≥64 p0-partitioned files
    val rows = scaled.select(
      concat(lit("doc_"), col("doc_id"), lit(".txt")).as("name"),
      concat(lit("/d"), pmod(col("doc_id"), lit(64))).as("parent"),
      lit(null).cast("timestamp").as("atime"),
      lit(null).cast("timestamp").as("ctime"),
      lit(null).cast("timestamp").as("mtime"),
      lit(420).as("mode"),
      octet_length(col("text")).cast("long").as("size"),
      lit(0L).as("chunk_id"),
      lit(0L).as("chunk_offset"),
      octet_length(col("text")).cast("long").as("chunk_size"),
      col("text").cast("binary").as("data"))
    val fsys = CdlFs.open(spark, DatasetCatalog(),
      GlobalPath.parse(s"$root/ds").fold(sys.error, identity))
    Ingest.writeRootfs(rows, fsys.tableLocation)
    val hconf = spark.sparkContext.hadoopConfiguration

    def listing() = CommitLog.dataFilesWithLen(fsys.tableLocation, hconf).toMap
    def drive(label: String, cond: String): Unit = {
      val before = listing()
      val t0 = System.nanoTime()
      val deleted = fsys.deleteWhere(cond)
      val wall = (System.nanoTime() - t0) / 1e9
      val after = listing()
      val rewrittenFrom = before.keySet -- after.keySet
      val carried = before.keySet.intersect(after.keySet)
      val touchedBytes = rewrittenFrom.toSeq.map(before).sum
      val totalBytes = before.values.sum
      println(f"$label: rows_deleted=$deleted wall=$wall%.2fs " +
        f"files=${before.size} rewritten=${rewrittenFrom.size} " +
        f"carried=${carried.size} " +
        f"bytes_touched_frac=${touchedBytes.toDouble / totalBytes}%.4f")
    }

    val n = fsys.table.count()
    println(s"corpus: $n rows over ${listing().size} files at $root")
    drive("single_doc_takedown", "name = 'doc_42.txt'")
    drive("dir_purge", "parent = '/d7'")
    drive("no_match", "name = 'absent.bin'")

    // cascaded takedown (r15): ONE deleteWhere drives the whole loop —
    // the retired row_ids ride the delete's own pruned scan, become
    // durable with its commit marker, and retract from every attached
    // store; the leftover counts are the no-store-scan proof at scale
    val exactStore = s"$root/store_exact"
    val mhStore = s"$root/store_minhash"
    val derived = fsys.table.select(col("row_id").as("doc_id"),
      col("data").cast("string").as("text"))
    // GRAFT_SOAK_STORES=exact drops the minhash store: at factor 1000
    // (5M docs) the minhash CREATION batch's banded-signature shuffle
    // (~1 KB sig per band row × 80M rows ≈ 80 GB) exceeds this box's
    // scratch disk — a fixture-construction wall, not a takedown-path
    // one (the arms are O(touched) regardless; the 10×/100× rows keep
    // both stores and pin the rewrite fractions)
    val soakStores =
      sys.env.getOrElse("GRAFT_SOAK_STORES", "exact,minhash")
        .split(",").map(_.trim).toSet
    val withMinhash = soakStores.contains("minhash")
    // pointer arm (r18 verdict #5): an exact store on a RENAME-LESS
    // scheme rides the same cascade — its retraction swaps commit by
    // pointer flip, proving the takedown legal path end-to-end on
    // object-store semantics. GRAFT_SOAK_STORES=exact,pointer etc.
    val withPointer = soakStores.contains("pointer")
    val ptrStore = s"mock://$root/store_ptr"
    if (withPointer)
      spark.sparkContext.hadoopConfiguration.set("fs.mock.impl",
        classOf[graft.fs.MockRemoteFileSystem].getName)
    ops.IncrementalDedup.exactBatch(derived, exactStore)
    if (withMinhash) ops.IncrementalDedup.minhashBatch(derived, mhStore)
    if (withPointer) ops.IncrementalDedup.exactBatch(derived, ptrStore)
    fsys.attachStore(exactStore)
    if (withMinhash) fsys.attachStore(mhStore)
    if (withPointer) fsys.attachStore(ptrStore)
    // pointer-aware store read for the leftover counts (a blind listing
    // on a pointer store misses versioned generations)
    def storeDf(dir: String) = graft.fs.PartitionPointer.readDf(spark, dir, None)
      .collect { case (df, true) => df }
      .getOrElse(spark.read.parquet(dir))
    // bp-partition rewrite fraction of a store dir between two snapshots
    // — the O(touched) witness at scale (r15 verdict #2)
    def storeSnap(dir: String): Map[String, Set[(String, Long)]] = {
      import org.apache.hadoop.fs.Path
      val p = new Path(dir)
      val fs = p.getFileSystem(hconf)
      if (!fs.exists(p)) Map.empty
      else fs.listStatus(p).filter(_.getPath.getName.startsWith("bp="))
        .map { d =>
          d.getPath.getName -> fs.listStatus(d.getPath)
            .filter(_.getPath.getName.endsWith(".parquet"))
            .map(f => (f.getPath.getName, f.getModificationTime)).toSet
        }.toMap
    }
    def cascadeDrive(label: String, cond: String): Unit = {
      val mhBefore = storeSnap(mhStore)
      val retired = fsys.table.filter(expr(cond))
        .select("row_id").collect().map(_.getLong(0))
      val t0 = System.nanoTime()
      val deleted = fsys.deleteWhere(cond, cascade = true)
      val wall = (System.nanoTime() - t0) / 1e9
      val mhAfter = storeSnap(mhStore)
      val mhRewritten = mhBefore.keySet.count(k =>
        mhBefore(k) != mhAfter.getOrElse(k, Set.empty[(String, Long)]))
      val exactLeft = spark.read.parquet(exactStore)
        .filter(col("keep_doc_id").isin(retired.toSeq: _*)).count()
      val mhLeft =
        if (!withMinhash) 0L
        else spark.read.parquet(mhStore)
          .filter(col("doc_id").isin(retired.toSeq: _*)).count()
      val ptrLeft =
        if (!withPointer) 0L
        else storeDf(ptrStore)
          .filter(col("keep_doc_id").isin(retired.toSeq: _*)).count()
      println(f"$label: rows_deleted=$deleted wall=$wall%.2fs " +
        f"retired_ids=${retired.length} exact_left=$exactLeft mh_left=$mhLeft " +
        (if (withPointer) f"ptr_left=$ptrLeft " else "") +
        f"mh_parts_rewritten=$mhRewritten/${mhBefore.size} " +
        f"mh_rewrite_frac=${mhRewritten.toDouble / math.max(1, mhBefore.size)}%.4f " +
        f"pending=${fsys.cascadePendingStores.size}")
      if (withPointer) require(ptrLeft == 0L,
        s"$label: pointer store kept $ptrLeft retired rows")
    }
    // the batch shape takedowns actually arrive in (single doc / small
    // request): the doc→bp index prunes discovery AND the rewrite to
    // the <=bands partitions the doc's rows live in — fraction ≪ 1
    cascadeDrive("cascade_single_doc", "name = 'doc_107.txt'")
    // concurrent-arm witness (r16 verdict #2): measure each arm's wall
    // SERIALLY on byte-identical clones of the two stores, then run the
    // real cascade — with the bounded arm pool, the cascade's store
    // phase should track the SLOWER arm, not the sum
    val retiredD9 = fsys.table.filter(expr("parent = '/d9'"))
      .select("row_id").collect().map(_.getLong(0)).toSeq
    def cloneDir(src: String, dst: String): Unit = {
      import org.apache.hadoop.fs.{FileUtil, Path}
      val fs = new Path(src).getFileSystem(hconf)
      FileUtil.copy(fs, new Path(src), fs, new Path(dst), false, hconf); ()
    }
    cloneDir(exactStore, s"$root/clone_exact")
    if (withMinhash) cloneDir(mhStore, s"$root/clone_mh")
    def timeArm(dir: String): Double = {
      val t0 = System.nanoTime()
      ops.Retract.retract(spark, dir, retiredD9)
      (System.nanoTime() - t0) / 1e9
    }
    val wE = timeArm(s"$root/clone_exact")
    val wM = if (withMinhash) timeArm(s"$root/clone_mh") else 0.0
    println(f"cascade_arms_serial: exact=$wE%.2fs minhash=$wM%.2fs " +
      f"sum=${wE + wM}%.2fs slower=${math.max(wE, wM)}%.2fs " +
      "(the dir_purge wall below carries the slower arm + the table " +
      "delete, NOT the sum)")
    // the adversarial bulk purge: retired_ids × bands rows hash into
    // ~every partition — the rewrite honestly converges to one bounded
    // full-store pass (never worse than O(store)); the fraction row
    // makes that measured, not assumed
    cascadeDrive("cascade_dir_purge", "parent = '/d9'")
    // post-takedown hygiene at scale (r17): the cascades above must
    // leave BOTH stores passing every deep-fsck invariant — bucketing,
    // doc-index superset, blooms, keeper uniqueness. A dirty store here
    // is a takedown bug the leftover counts alone can miss.
    (Seq(exactStore) ++ (if (withMinhash) Seq(mhStore) else Nil) ++
      (if (withPointer) Seq(ptrStore) else Nil)).foreach { s =>
      val t0 = System.nanoTime()
      val findings = ops.StoreFsck.fsck(spark, s, deep = true)
      println(f"post_cascade_fsck: $s ${if (findings.isEmpty) "clean"
        else findings.mkString("; ")} wall=${(System.nanoTime() - t0) / 1e9}%.2fs")
      require(findings.isEmpty, s"takedown left $s dirty: $findings")
    }
    // pointer-arm invariants: the cascade's swaps committed by pointer
    // flip (the pointer exists) and left NO roll-forward marker behind
    // (pointer commits never write one — marker-empty is the
    // object-store legal-path witness)
    if (withPointer) {
      val p = new org.apache.hadoop.fs.Path(ptrStore)
      val pfs = p.getFileSystem(hconf)
      require(graft.fs.PartitionPointer.active(pfs, p),
        "pointer store cascade never engaged the pointer layer")
      require(!pfs.exists(new org.apache.hadoop.fs.Path(p, "_retract_pending")),
        "pointer store cascade left a roll-forward marker")
      println("pointer_cascade: pointer active, marker-empty, deep-fsck clean")
    }
    spark.stop()
  }
}
