package graft.ops

import java.nio.file.Files

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** `store-fsck --repair` (r17 verdict #2): every planted corruption
  * with a safe automatic remedy is healed by `repair` and re-audits
  * CLEAN at both tiers; findings needing a policy choice or a
  * rebuild-scale rewrite are refused with the reason (and stay
  * findings). Each heal reuses an existing entry point — recomputeStats,
  * bloom re-derivation, doc-index rebuild, the orphan-posting
  * retry-batch reconstruction, marker sweeps — never new rewrite code. */
class StoreFsckRepairSpec extends SparkSuite {

  import spark.implicits.newProductEncoder
  import spark.implicits.localSeqToDatasetHolder

  private def tmp(tag: String) =
    Files.createTempDirectory(s"fsckrep_$tag").toString + "/store"

  private def cleanBoth(d: String): Unit = {
    assert(StoreFsck.fsck(spark, d).isEmpty,
      s"light dirty after repair: ${StoreFsck.fsck(spark, d)}")
    assert(StoreFsck.fsck(spark, d, deep = true).isEmpty,
      s"deep dirty after repair: ${StoreFsck.fsck(spark, d, deep = true)}")
  }

  test("bm25: stale stats healed by the stats recompute") {
    val d = tmp("stats")
    Bm25Index.indexBatch(
      Seq((1L, "alpha beta"), (2L, "gamma delta")).toDF("doc_id", "text"), d)
    val sp = java.nio.file.Paths.get(s"$d/_bm25_stats")
    val good = new String(java.nio.file.Files.readAllBytes(sp))
    java.nio.file.Files.write(sp,
      good.replaceFirst("\"n_docs\":\\d+", "\"n_docs\":999").getBytes)
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$d/._bm25_stats.crc"))
    val acts = StoreFsck.repair(spark, d, deep = true)
    assert(acts.exists(a => a.finding.check == "bm25_stats" && a.applied),
      acts.toString)
    cleanBoth(d)
  }

  test("bm25: orphan postings healed by the retry-batch docs reconstruction") {
    val d = tmp("orphan")
    Bm25Index.indexBatch(
      Seq((1L, "alpha beta"), (2L, "gamma delta")).toDF("doc_id", "text"), d)
    val parts = IncrementalDedup.storeManifest(spark, d)("store_parts").toInt
    // the postings-first append-crash shape: postings committed, docs
    // row + stats write lost
    Seq(("zeta", 99L, 2.0, 1.0)).toDF("term", "doc_id", "dl", "tf")
      .withColumn("bp", IncrementalDedup.bpOf(parts, col("term")))
      .write.mode("append").partitionBy("bp").parquet(s"$d/postings")
    val acts = StoreFsck.repair(spark, d, deep = true)
    assert(acts.exists(a => a.finding.check == "bm25_referential" && a.applied),
      acts.toString)
    cleanBoth(d)
    // the reconstructed docs/ row is exactly what the crashed batch
    // would have written: (99, dl=2.0) — and searches now score zeta
    val docs = StoreRows(spark, d, "docs")._1
      .filter(col("doc_id") === 99L).collect()
    assert(docs.length == 1 && docs.head.getDouble(1) == 2.0, docs.toSeq)
  }

  test("under-claiming doc index healed by the full re-derivation") {
    val d = tmp("docidx")
    IncrementalDedup.exactBatch(
      Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma")).toDF("doc_id", "text"),
      d).collect()
    val mf = IncrementalDedup.storeManifest(spark, d)
    IncrementalDedup.retractDocIndex(spark, d, Seq(1L), mf("doc_index_parts").toInt, mf)
    val acts = StoreFsck.repair(spark, d, deep = true)
    assert(acts.exists(a => a.finding.check == "doc_index_superset" &&
      a.applied), acts.toString)
    cleanBoth(d)
    // the healed index prunes a takedown correctly end-to-end
    assert(Retract.retract(spark, d, Seq(1L)) == 1L)
    cleanBoth(d)
  }

  test("a lying gram bloom healed by tight re-derivation") {
    val d = tmp("bloom")
    IncrementalDedup.ngramBatch(
      Seq((1L, "alpha beta gamma delta epsilon"),
        (2L, "zeta eta theta iota kappa")).toDF("doc_id", "text"),
      d, n = 3).collect()
    // overwrite the sidecar with a bloom that denies every stored gram
    val empty = org.apache.spark.util.sketch.BloomFilter.create(100, 0.01)
    IncrementalDedup.writeBloomSidecar(spark, d, "_gram_bloom", empty)
    val f = StoreFsck.fsck(spark, d, deep = true)
    assert(f.exists(_.check == "gram_bloom_superset"), f.toString)
    val acts = StoreFsck.repair(spark, d, deep = true)
    assert(acts.exists(a => a.finding.check == "gram_bloom_superset" &&
      a.applied), acts.toString)
    cleanBoth(d)
    // manifest geometry follows the re-derived bloom (merge-compat for
    // later appends)
    val mf = IncrementalDedup.storeManifest(spark, d)
    assert(mf.contains("bloom_cap") && mf.contains("bloom_bits"), mf.toString)
  }

  test("crash debris (arm sentinel, staging dirs) healed by the sweep") {
    val d = tmp("debris")
    IncrementalDedup.exactBatch(
      Seq((1L, "alpha")).toDF("doc_id", "text"), d).collect()
    Retract.armRaise(spark, d)
    val fs = new org.apache.hadoop.fs.Path(d)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(d, "_retract_tmp/bp=0"))
    val acts = StoreFsck.repair(spark, d)
    assert(acts.exists(a => a.finding.check == "markers" && a.applied),
      acts.toString)
    cleanBoth(d)
    assert(!Retract.armBusy(spark, d))
  }

  test("an unfinished whole-table swap is found by fsck and finished by repair (IVF, components)") {
    import org.apache.hadoop.fs.{FileUtil, Path}
    val conf = spark.sparkContext.hadoopConfiguration
    def swapFindings(d: String) =
      StoreFsck.fsck(spark, d).filter(_.check == "markers").map(_.detail)
    def repairs(d: String) = StoreFsck.repair(spark, d)
      .exists(a => a.finding.check == "markers" && a.applied)
    // IVF: a recluster's new generation staged in full, its marker up
    val iv = tmp("ivfswap")
    IvfIndex.build((1L to 40L).map { i =>
      val r = new scala.util.Random(i); (i, Seq.fill(4)(r.nextDouble() + 0.05))
    }.toDF("vec_id", "embedding"), iv, nlist = 8)
    val ivRows = spark.read.parquet(s"$iv/assignments").count()
    val fs = new Path(iv).getFileSystem(conf)
    Seq("assignments", "centroids").foreach(t => assert(FileUtil.copy(fs,
      new Path(iv, t), fs, new Path(iv, s"_rebuild_tmp/$t"), false, conf)))
    fs.create(new Path(iv, "_rebuild_ready"), true).close()
    val ivf = swapFindings(iv)
    assert(ivf.exists(_.contains("/_rebuild_ready present")) &&
      ivf.exists(_.contains("/_rebuild_tmp present")), ivf)
    assert(repairs(iv))
    cleanBoth(iv)
    assert(!fs.exists(new Path(iv, "_rebuild_tmp")))
    assert(spark.read.parquet(s"$iv/assignments").count() == ivRows)
    // components: a fold's folded labels staged, its marker up
    val cc = tmp("ccswap")
    IncrementalComponents.addPairs(Seq((1L, 2L)).toDF("doc_a", "doc_b"), cc)
    IncrementalComponents.addPairs(Seq((2L, 0L)).toDF("doc_a", "doc_b"), cc)
    def labels() = IncrementalComponents.labels(spark, cc).collect()
      .map(r => r.getAs[Long]("v") -> r.getAs[Long]("component")).toMap
    val want = labels()
    spark.read.schema("v BIGINT, component BIGINT, bp INT").parquet(s"$cc/labels")
      .withColumn("component", when(col("component") === 1L, 0L)
        .otherwise(col("component")))
      .repartition(col("bp")).write.partitionBy("bp").parquet(s"$cc/_compact_tmp")
    fs.create(new Path(cc, "_compact_ready"), true).close()
    val ccf = swapFindings(cc)
    assert(ccf.exists(_.contains("/_compact_ready present")) &&
      ccf.exists(_.contains("/_compact_tmp present")), ccf)
    assert(repairs(cc))
    cleanBoth(cc)
    assert(!fs.exists(new Path(cc, "merges")))
    assert(labels() == want)
  }

  test("double-committed keeper and mis-bucketed rows are refused with reasons") {
    val d = tmp("refuse")
    IncrementalDedup.exactBatch(
      Seq((1L, "alpha")).toDF("doc_id", "text"), d).collect()
    val parts = IncrementalDedup.storeManifest(spark, d)("store_parts").toInt
    // double keeper (policy choice) + a mis-bucketed copy (rebuild-scale)
    spark.read.parquet(d).drop("bp")
      .withColumn("keep_doc_id", lit(777L))
      .withColumn("bp", IncrementalDedup.bpOf(parts, col("digest")))
      .write.mode("append").partitionBy("bp").parquet(d)
    spark.read.parquet(d).limit(1).drop("bp").withColumn("bp", lit(parts - 1))
      .write.mode("append").partitionBy("bp").parquet(d)
    val acts = StoreFsck.repair(spark, d, deep = true)
    val refusals = acts.filterNot(_.applied).map(_.finding.check).toSet
    assert(refusals.contains("keeper_uniqueness"), acts.toString)
    assert(acts.exists(a => a.finding.check == "keeper_uniqueness" &&
      a.action.contains("policy")), acts.toString)
    // refused findings remain findings after repair — repair never
    // silently absorbs what it cannot fix
    val after = StoreFsck.fsck(spark, d, deep = true)
    assert(after.exists(_.check == "keeper_uniqueness"), after.toString)
  }

  test("doc-index rebuild on a manifest WITHOUT doc_index_parts: repair-then-fsck is clean and the geometry is stamped") {
    // r18 ADVICE: healDocIndex's manifest-absent fallback was
    // dpPartsFor(store_parts) while fsck's dp-hash check (and every
    // consult path) falls back to store_parts itself — repair rebuilt
    // at one geometry, the re-audit flagged every row at the other, and
    // the CLI --repair exited 1 on a store it had just healed
    val d = tmp("dpfall")
    Bm25Index.indexBatch(
      (1L to 30L).map(i => (i, s"token$i shared common words here"))
        .toDF("doc_id", "text"), d)
    val fs = new org.apache.hadoop.fs.Path(d)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate the legacy manifest shape: doc_index flagged, geometry
    // key absent — and the index itself gone (the DocIndexMissing warn)
    val mf = IncrementalDedup.storeManifest(spark, d)
    IncrementalDedup.updateManifest(fs, d, mf - "doc_index_parts")
    fs.delete(new org.apache.hadoop.fs.Path(s"$d/postings",
      IncrementalDedup.DocIndexDir), true)
    val acts = StoreFsck.repair(spark, d, deep = true)
    assert(acts.exists(a => a.finding.check == "doc_index" && a.applied),
      acts.toString)
    // the repair-then-fsck contract: CLEAN at both tiers (the old
    // mismatched fallback flagged doc_index_partitioning on every row)
    cleanBoth(d)
    // and the chosen geometry is stamped so appends/consults/audits all
    // hash identically from here on
    val mf2 = IncrementalDedup.storeManifest(spark, d)
    assert(mf2.get("doc_index_parts").contains(mf2("store_parts")),
      mf2.toString)
  }

  test("repair on a clean store is a no-op") {
    val d = tmp("noop")
    IncrementalDedup.exactBatch(
      Seq((1L, "alpha")).toDF("doc_id", "text"), d).collect()
    assert(StoreFsck.repair(spark, d, deep = true).isEmpty)
    cleanBoth(d)
  }

  test("pointer store (rename-less scheme): fsck is pointer-aware and repair heals orphans") {
    spark.sparkContext.hadoopConfiguration.set(
      "fs.mock.impl", classOf[graft.fs.MockRemoteFileSystem].getName)
    val local = Files.createTempDirectory("fsckrep_ptr").toString
    val d = s"mock://$local/store"
    // storeParts=4: each partition holds ~12 digests, so a 2-id
    // retraction REPLACES partitions (live >= 0 entries) instead of
    // dropping lone-keeper partitions whole (tombstones only)
    IncrementalDedup.exactBatch(
      (1L to 50L).map(i => (i, s"text $i")).toDF("doc_id", "text"), d,
      storeParts = 4).collect()
    Retract.retract(spark, d, Seq(1L, 2L)) // pointer layout engages
    assert(StoreFsck.fsck(spark, d).isEmpty,
      StoreFsck.fsck(spark, d).toString)
    assert(StoreFsck.fsck(spark, d, deep = true).isEmpty,
      StoreFsck.fsck(spark, d, deep = true).toString)
    // plant an orphan generation (crashed swap staging)
    val fs = new org.apache.hadoop.fs.Path(d)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = new org.apache.hadoop.fs.Path(d)
    val someLive = graft.fs.PartitionPointer.readPtr(fs, root).get.entries
      .collectFirst { case (n, e) if e.live >= 0 => n }.get
    val orphan = new org.apache.hadoop.fs.Path(root,
      s"_parts/$someLive/pv=77")
    fs.mkdirs(orphan)
    val f = StoreFsck.fsck(spark, d)
    assert(f.exists(_.check == "pointer_orphan"), f.toString)
    val acts = StoreFsck.repair(spark, d)
    assert(acts.exists(a => a.finding.check == "pointer_orphan" && a.applied),
      acts.toString)
    assert(!fs.exists(orphan))
    cleanBoth(d)
    // a dangling live entry (committed generation gone) is refused loudly
    val live = graft.fs.PartitionPointer.readPtr(fs, root).get.entries
      .collectFirst { case (n, e) if e.live >= 0 =>
        graft.fs.PartitionPointer.versionedPath(root, n, e.live) }.get
    fs.delete(live, true)
    val f2 = StoreFsck.fsck(spark, d)
    assert(f2.exists(f => f.level == "error" && f.check == "pointer_dangling"),
      f2.toString)
    val acts2 = StoreFsck.repair(spark, d)
    assert(acts2.exists(a => a.finding.check == "pointer_dangling" &&
      !a.applied && a.action.startsWith("refused")), acts2.toString)
  }
}
