package graft.ops

import java.nio.file.Files

import graft.SparkSuite

/** Rename-less-scheme contract for the data-swap fences (r16 verdict
  * #1; upgraded r18 per the r17 verdict #1): STORE partition swaps on
  * rename-less schemes commit by POINTER FLIP
  * (graft.fs.PartitionPointer) — no override, no marker, full
  * lock-free-reader safety via one atomic small-file PUT. Whole-table
  * swaps whose readers list directories directly (table deleteWhere/
  * compact, store compaction, IVF rebuild, clusters compaction fold)
  * keep the r16 contract: FAIL LOUDLY unless the operator quiesces
  * readers and sets the override, under which the swap still commits
  * correctly. Single-file sidecars (the `_retract_epoch` counter)
  * publish via direct overwrite-PUT on these schemes — no temp
  * corpses, no absent window. The `mock://` scheme
  * (RawLocalFileSystem-backed, so behavior is real) classifies as
  * rename-less by name — exactly like s3a would. */
class SwapFenceContractSpec extends SparkSuite {

  import spark.implicits.newProductEncoder
  import spark.implicits.localSeqToDatasetHolder

  private def conf = {
    spark.sparkContext.hadoopConfiguration.set(
      "fs.mock.impl", classOf[graft.fs.MockRemoteFileSystem].getName)
    spark.sparkContext.hadoopConfiguration
  }

  test("retraction on a rename-less scheme commits by pointer flip — no override, no marker") {
    val c = conf
    val local = Files.createTempDirectory("swapfence_ptr").toString
    val dir = s"mock://$local/store"
    val docs = Seq((1L, "alpha beta"), (2L, "alpha beta"), (3L, "gamma"))
      .toDF("doc_id", "text")
    // creation/appends are plain parquet writes — NOT gated (no swap)
    IncrementalDedup.exactBatch(docs, dir).collect()
    // r18: no override needed — the swap stages as always, moves each
    // staged partition to a fresh unreferenced versioned path, and
    // commits with ONE pointer PUT (atomic on every scheme)
    assert(Retract.retract(spark, dir, Seq(1L)) >= 1L)
    val names = java.nio.file.Files.list(
      java.nio.file.Paths.get(s"$local/store")).toArray.map(_.toString)
    // pointer committed, marker machinery never engaged
    assert(names.exists(_.endsWith("/_pointer")), names.mkString(","))
    assert(!names.exists(_.contains("_retract_pending")), names.mkString(","))
    assert(!names.exists(_.contains("_retract_tmp")), names.mkString(","))
    // the retired keeper is gone; survivors intact (pointer-resolved read)
    val (store, hasData) = StoreRows(spark, dir)
    assert(hasData)
    val left = store.select("keep_doc_id").collect().map(_.getLong(0)).toSet
    assert(left == Set(3L), left.toString) // doc 2 was a dup of 1, never kept
    // epoch sidecar: present, parseable, and published WITHOUT a
    // rename (direct overwrite-PUT on rename-less schemes) — so no
    // .tmp corpses and no absent window for readers
    val ep = java.nio.file.Paths.get(s"$local/store/_retract_epoch")
    assert(java.nio.file.Files.exists(ep))
    assert(new String(java.nio.file.Files.readAllBytes(ep)).trim.toLong >= 1L)
    val corpses = java.nio.file.Files.list(
      java.nio.file.Paths.get(s"$local/store")).toArray.map(_.toString)
      .filter(_.contains("_retract_epoch.tmp-"))
    assert(corpses.isEmpty, corpses.mkString(","))
    // re-keep semantics survive the pointer store: the content whose
    // keeper was retired is novel again, and the append lands THROUGH
    // the pointer (next batch's dup detection sees it)
    val r2 = IncrementalDedup.exactBatch(
      Seq((10L, "alpha beta"), (11L, "alpha beta")).toDF("doc_id", "text"), dir)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        Option(r.get(r.fieldIndex("dup_of"))).map(_.toString))
      .toMap
    assert(r2(10L).isEmpty, r2.toString)      // fresh keeper
    assert(r2(11L).contains("10"), r2.toString) // dup within the batch
  }

  test("store compaction on a rename-less scheme commits by pointer flip") {
    conf
    val local = Files.createTempDirectory("swapfence_compact").toString
    val dir = s"mock://$local/store"
    // two same-partition appends fragment the store (two files in the
    // touched partition) — r18: compaction no longer refuses or needs
    // the override; it stages the coalesced partitions and commits
    // them as fresh versioned generations with one pointer PUT
    IncrementalDedup.exactBatch(Seq((1L, "alpha")).toDF("doc_id", "text"), dir,
      storeParts = 1).collect() // one partition: the 2nd append fragments it
    IncrementalDedup.exactBatch(Seq((2L, "beta")).toDF("doc_id", "text"), dir)
      .collect()
    assert(IncrementalDedup.compactStore(spark, dir) == 1)
    assert(graft.fs.PartitionPointer.active(
      new org.apache.hadoop.fs.Path(dir).getFileSystem(
        spark.sparkContext.hadoopConfiguration),
      new org.apache.hadoop.fs.Path(dir)),
      "pointer-mode compaction must have created the pointer")
    // rows intact through the pointer-resolved read; keeper set exact
    val (store, has) = StoreRows(spark, dir)
    assert(has)
    assert(store.select("keep_doc_id").collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L))
    // every live partition holds ONE file after the compaction
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = new org.apache.hadoop.fs.Path(dir)
    graft.fs.PartitionPointer.readPtr(fs, root).foreach(_.entries.foreach {
      case (n, e) if e.live >= 0 =>
        val d = graft.fs.PartitionPointer.versionedPath(root, n, e.live)
        val files = fs.listStatus(d)
          .count(_.getPath.getName.endsWith(".parquet"))
        assert(files == 1, s"$n still fragmented: $files files")
      case _ => ()
    })
    // further cycles keep working against the compacted pointer store
    val r = IncrementalDedup.exactBatch(
      Seq((3L, "alpha")).toDF("doc_id", "text"), dir).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        Option(x.get(x.fieldIndex("dup_of"))).map(_.toString)).toMap
    assert(r(3L).contains("1"), r.toString) // dup THROUGH the compacted store
  }

  test("heal of an already-committed marker is never gated (roll-forward always finishes)") {
    val c = conf
    val local = Files.createTempDirectory("swapfence_heal").toString
    val dir = s"mock://$local/store"
    val docs = Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
    IncrementalDedup.exactBatch(docs, dir).collect()
    // simulate a crash AFTER the marker commit on this scheme (a prior
    // overridden run): a drop-line marker for a partition we fabricate
    val root = java.nio.file.Paths.get(s"$local/store")
    val bogus = java.nio.file.Files.list(root).toArray.map(_.toString)
      .filter(_.contains("bp=")).head
    val bpName = java.nio.file.Paths.get(bogus).getFileName.toString
    java.nio.file.Files.write(root.resolve("_retract_pending"),
      s"drop:$bpName".getBytes)
    // sweep (via the next locked read inside a batch) must finish the
    // swap even though the scheme is rename-less and NO override is set
    IncrementalDedup.exactBatch(Seq((9L, "nu")).toDF("doc_id", "text"), dir)
      .collect()
    assert(!java.nio.file.Files.exists(root.resolve("_retract_pending")))
    assert(!java.nio.file.Files.exists(root.resolve(bpName)))
  }
}
