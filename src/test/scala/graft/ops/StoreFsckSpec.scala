package graft.ops

import java.nio.file.Files

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Store fsck: a clean store audits clean (light AND deep, every
  * variant family exercised via its batch cycle), and each DELIBERATE
  * corruption is named by exactly the check that owns its invariant —
  * fsck is only useful if a violated promise is caught, not assumed. */
class StoreFsckSpec extends SparkSuite {

  import spark.implicits.newProductEncoder
  import spark.implicits.localSeqToDatasetHolder

  private def tmp(tag: String) =
    Files.createTempDirectory(s"fsck_$tag").toString + "/store"

  private def errs(fs: Seq[StoreFsck.Finding]) = fs.filter(_.level == "error")

  test("clean stores audit clean at both tiers (exact, ngram, bm25, components)") {
    val docs = Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "eta theta iota kappa lambda mu")).toDF("doc_id", "text")
    val ex = tmp("clean_ex"); IncrementalDedup.exactBatch(docs, ex).collect()
    val ng = tmp("clean_ng"); IncrementalDedup.ngramBatch(docs, ng, n = 3).collect()
    val bm = tmp("clean_bm"); Bm25Index.indexBatch(docs, bm)
    val cc = tmp("clean_cc")
    IncrementalComponents.addPairs(Seq((1L, 2L)).toDF("doc_a", "doc_b"), cc)
    val sp = tmp("clean_sp")
    IncrementalSpanDedup.spanBatch(docs, sp, w = 4).collect()
    val em = tmp("clean_em")
    IncrementalDedup.embeddingBatch(
      Seq((1L, Seq(1.0, 0.0, 0.0)), (2L, Seq(0.0, 1.0, 0.0)))
        .toDF("vec_id", "embedding"), em, layout = "split").collect()
    Seq(ex, ng, bm, cc, sp, em).foreach { d =>
      assert(StoreFsck.fsck(spark, d).isEmpty, s"light fsck dirty: $d")
      assert(StoreFsck.fsck(spark, d, deep = true).isEmpty,
        s"deep fsck dirty: $d → ${StoreFsck.fsck(spark, d, deep = true)}")
    }
  }

  test("store-info reports each layout table by its own partition column") {
    def info(d: String): Seq[String] = {
      val out = new java.io.ByteArrayOutputStream()
      Console.withOut(out) {
        graft.cli.Main.run(spark, graft.core.DatasetCatalog(), List("store-info", d))
      }
      out.toString("UTF-8").linesIterator.filterNot(_.contains(" = ")).toSeq
    }
    // IVF partitions by learned cell: its `cell=` dirs are its partitions
    val iv = tmp("info_ivf")
    IvfIndex.build((1L to 40L).map { i =>
      val r = new scala.util.Random(i); (i, Seq.fill(4)(r.nextDouble() + 0.05))
    }.toDF("vec_id", "embedding"), iv, nlist = 8)
    val cells = new java.io.File(s"$iv/assignments").list().count(_.startsWith("cell="))
    assert(cells == 8)
    val Seq(a) = info(iv)
    assert(a.startsWith("assignments: partitions=8 files="), a)
    assert(!a.endsWith("max_files_per_partition=0"), a)
    // a components store keeps its labels line and its merge-log extra
    val cc = tmp("info_cc")
    IncrementalComponents.addPairs(Seq((1L, 2L)).toDF("doc_a", "doc_b"), cc)
    IncrementalComponents.addPairs(Seq((2L, 0L)).toDF("doc_a", "doc_b"), cc)
    val Seq(labels, merges) = info(cc)
    assert(labels.startsWith("labels: partitions=") &&
      !labels.startsWith("labels: partitions=0 "), labels)
    assert(merges.startsWith("merges: partitions=0 files="), merges)
  }

  test("a mis-bucketed row is caught by the deep bucketing check") {
    val d = tmp("bucket")
    IncrementalDedup.exactBatch(
      Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text"), d).collect()
    // plant a row in the WRONG partition: copy an existing row's content
    // into a different bp dir (unreachable to every pruned read)
    val rows = spark.read.parquet(d)
    val victim = rows.limit(1)
    val wrongBp = spark.read.parquet(d).select("bp").distinct()
      .collect().map(_.getInt(0)).max + 1
    victim.drop("bp").withColumn("bp", lit(wrongBp))
      .write.mode("append").partitionBy("bp").parquet(d)
    val f = errs(StoreFsck.fsck(spark, d, deep = true))
    assert(f.exists(_.check == "bucketing"), f.toString)
  }

  test("an under-claiming doc index is caught by the superset check") {
    val d = tmp("docidx")
    IncrementalDedup.exactBatch(
      Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma")).toDF("doc_id", "text"),
      d).collect()
    assert(StoreFsck.fsck(spark, d, deep = true).isEmpty)
    // erase one id's index rows while its store rows remain — the exact
    // silent-leftover takedown hazard the index's contract forbids
    val mf = IncrementalDedup.storeManifest(spark, d)
    IncrementalDedup.retractDocIndex(spark, d, Seq(1L), mf("doc_index_parts").toInt, mf)
    val f = errs(StoreFsck.fsck(spark, d, deep = true))
    assert(f.exists(_.check == "doc_index_superset"), f.toString)
  }

  test("bm25: stale stats and orphan postings are caught with remedies") {
    val d = tmp("bm")
    Bm25Index.indexBatch(
      Seq((1L, "alpha beta"), (2L, "gamma delta")).toDF("doc_id", "text"), d)
    // stale stats: inflate n_docs on disk
    val sp = java.nio.file.Paths.get(s"$d/_bm25_stats")
    val good = new String(java.nio.file.Files.readAllBytes(sp))
    java.nio.file.Files.write(sp,
      good.replaceFirst("\"n_docs\":\\d+", "\"n_docs\":999").getBytes)
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$d/._bm25_stats.crc"))
    val f1 = errs(StoreFsck.fsck(spark, d, deep = true))
    assert(f1.exists(_.check == "bm25_stats"), f1.toString)
    java.nio.file.Files.write(sp, good.getBytes)
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$d/._bm25_stats.crc"))
    assert(StoreFsck.fsck(spark, d, deep = true).isEmpty)
    // orphan postings: a doc_id with postings but no docs/ row (the
    // postings-first append-crash shape)
    import org.apache.hadoop.fs.Path
    val fs = new Path(d).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = IncrementalDedup.storeManifest(spark, d)("store_parts").toInt
    Seq(("zeta", 99L, 2.0, 1.0)).toDF("term", "doc_id", "dl", "tf")
      .withColumn("bp", IncrementalDedup.bpOf(parts, col("term")))
      .write.mode("append").partitionBy("bp").parquet(s"$d/postings")
    val f2 = errs(StoreFsck.fsck(spark, d, deep = true))
    assert(f2.exists(f => f.check == "bm25_referential" &&
      f.detail.contains("RETRY")), f2.toString)
  }

  test("a double-committed keeper is caught by the uniqueness check") {
    val d = tmp("dupkeep")
    IncrementalDedup.exactBatch(
      Seq((1L, "alpha")).toDF("doc_id", "text"), d).collect()
    // simulate the double-commit the store lock prevents: append a
    // second keeper row for the SAME digest
    val parts = IncrementalDedup.storeManifest(spark, d)("store_parts").toInt
    spark.read.parquet(d).drop("bp")
      .withColumn("keep_doc_id", lit(777L))
      .withColumn("bp", IncrementalDedup.bpOf(parts, col("digest")))
      .write.mode("append").partitionBy("bp").parquet(d)
    val f = errs(StoreFsck.fsck(spark, d, deep = true))
    assert(f.exists(_.check == "keeper_uniqueness"), f.toString)
  }

  test("ivf: clean index audits clean; an orphan cell is caught") {
    val d = Files.createTempDirectory("fsck_ivf").toString + "/idx"
    val embs = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") >= 5)
    IvfIndex.build(embs, d, nlist = 4)
    assert(StoreFsck.fsck(spark, d).isEmpty)
    assert(StoreFsck.fsck(spark, d, deep = true).isEmpty,
      StoreFsck.fsck(spark, d, deep = true).toString)
    // plant an assignment in a cell no centroid names (the half-swapped
    // recluster shape: those vectors are unreachable to every probe)
    spark.read.parquet(s"$d/assignments").limit(1).drop("cell")
      .withColumn("cell", lit(999L))
      .write.mode("append").partitionBy("cell").parquet(s"$d/assignments")
    val f = StoreFsck.fsck(spark, d, deep = true)
      .filter(_.level == "error")
    assert(f.exists(_.check == "ivf_cell_referential"), f.toString)
  }

  test("deep fsck stays clean through append -> retract -> append cycles") {
    // the takedown family's end-to-end hygiene witness: after any mix of
    // cycles, every invariant fsck owns must still hold — bucketing,
    // doc-index superset, bloom supersets, bm25 stats + referential,
    // keeper uniqueness. A violation here is a takedown bug the gate's
    // per-op rows might only see as a wrong answer much later.
    val batch1 = Seq((1L, "alpha beta gamma delta"),
      (2L, "epsilon zeta eta theta"),
      (3L, "iota kappa lambda mu")).toDF("doc_id", "text")
    val batch2 = Seq((10L, "alpha beta gamma delta"), // re-detects vs keeper 1
      (11L, "nu xi omicron pi")).toDF("doc_id", "text")
    def cycle(dir: String, run: org.apache.spark.sql.DataFrame => Unit): Unit = {
      run(batch1)
      Retract.retract(spark, dir, Seq(2L))
      run(batch2)
      Retract.retract(spark, dir, Seq(10L, 11L))
      val f = StoreFsck.fsck(spark, dir, deep = true)
      assert(f.isEmpty, s"$dir dirty after cycles: $f")
    }
    val ex = tmp("cyc_ex")
    cycle(ex, b => { IncrementalDedup.exactBatch(b, ex).collect(); () })
    val ng = tmp("cyc_ng")
    cycle(ng, b => { IncrementalDedup.ngramBatch(b, ng, n = 3).collect(); () })
    val mh = tmp("cyc_mh")
    cycle(mh, b => { IncrementalDedup.minhashBatch(b, mh).collect(); () })
    val bm = tmp("cyc_bm")
    cycle(bm, b => { Bm25Index.indexBatch(b, bm); () })
  }

  test("light fsck: unknown demanded feature, debris markers, missing stats") {
    val d = tmp("light")
    IncrementalDedup.exactBatch(
      Seq((1L, "alpha")).toDF("doc_id", "text"), d).collect()
    // unknown required feature → error (the writer-gate invariant)
    val mp = java.nio.file.Paths.get(s"$d/_graft_store.json")
    val body = new String(java.nio.file.Files.readAllBytes(mp))
    java.nio.file.Files.write(mp, body.replace(
      "\"required_features\":\"doc_index\"",
      "\"required_features\":\"doc_index,tachyon_sketch\"").getBytes)
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$d/._graft_store.json.crc"))
    val f1 = StoreFsck.fsck(spark, d)
    assert(errs(f1).exists(f => f.check == "required_features" &&
      f.detail.contains("tachyon_sketch")), f1.toString)
    java.nio.file.Files.write(mp, body.getBytes)
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$d/._graft_store.json.crc"))
    // debris: an arm sentinel left by a crashed retraction → warn
    Retract.armRaise(spark, d)
    val f2 = StoreFsck.fsck(spark, d)
    assert(f2.exists(f => f.level == "warn" && f.check == "markers" &&
      f.detail.contains("_retract_arm")), f2.toString)
    Retract.armClear(spark, d)
    assert(StoreFsck.fsck(spark, d).isEmpty)
    // a damaged vec_type → manifest error, not a schema parse crash
    val em = tmp("vectype")
    IncrementalDedup.embeddingBatch(Seq((1L, Seq(1.0, 0.0))).toDF("vec_id", "embedding"),
      em).collect()
    val emMp = java.nio.file.Paths.get(s"$em/_graft_store.json")
    java.nio.file.Files.write(emMp, new String(java.nio.file.Files.readAllBytes(emMp))
      .replace("\"vec_type\":\"double\"", "\"vec_type\":\"fp32\"").getBytes)
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$em/._graft_store.json.crc"))
    val fv = StoreFsck.fsck(spark, em, deep = true)
    assert(errs(fv).exists(f => f.check == "manifest" &&
      f.detail.contains("vec_type 'fp32'")), fv.toString)
    // bm25 with postings but no stats file → error naming the remedy
    val bm = tmp("nostats")
    Bm25Index.indexBatch(Seq((1L, "alpha")).toDF("doc_id", "text"), bm)
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$bm/_bm25_stats"))
    val f3 = StoreFsck.fsck(spark, bm)
    assert(errs(f3).exists(_.check == "bm25_stats"), f3.toString)
  }
}
