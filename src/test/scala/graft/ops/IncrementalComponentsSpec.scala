package graft.ops

import java.nio.file.Files

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Incremental clustering: after ANY sequence of pair batches the
  * resolved store equals `Components.ofPairs` over the union of all
  * pairs — the contract that makes the label store trustworthy. */
class IncrementalComponentsSpec extends SparkSuite {

  import spark.implicits._

  private def labelMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getAs[Long]("v") -> r.getAs[Long]("component"))
      .toMap

  test("batch-sequence equals full-corpus: chains, merges, singleton pairs") {
    val dir = Files.createTempDirectory("inccomp").toString + "/store"
    // batch 1: two separate clusters {1,2} and {10,11}
    val b1 = Seq((1L, 2L), (10L, 11L)).toDF("doc_a", "doc_b")
    // batch 2: grow cluster {1,2} by 3; fresh pair {20,21}
    val b2 = Seq((2L, 3L), (20L, 21L)).toDF("doc_a", "doc_b")
    // batch 3: MERGE the two original clusters via 3-10 (dethrones 10),
    // and chain 21-22
    val b3 = Seq((3L, 10L), (21L, 22L)).toDF("doc_a", "doc_b")
    val v1 = labelMap(IncrementalComponents.addPairs(b1, dir))
    assert(v1 == Map(1L -> 1L, 2L -> 1L, 10L -> 10L, 11L -> 10L))
    val v2 = labelMap(IncrementalComponents.addPairs(b2, dir))
    assert(v2 == Map(2L -> 1L, 3L -> 1L, 20L -> 20L, 21L -> 20L))
    IncrementalComponents.addPairs(b3, dir)

    val all = b1.unionAll(b2).unionAll(b3)
    val want = labelMap(Components.ofPairs(all)
      .select(col("v"), col("component")))
    val got = labelMap(IncrementalComponents.labels(spark, dir))
    assert(got == want)
    // the merge actually happened: 10 and 11 resolve to 1
    assert(got(10L) == 1L && got(11L) == 1L && got(22L) == 20L)
  }

  test("compact folds the merge log in; labels unchanged; log cleared") {
    val dir = Files.createTempDirectory("inccomp_cpt").toString + "/store"
    val b1 = Seq((5L, 6L), (8L, 9L)).toDF("doc_a", "doc_b")
    val b2 = Seq((6L, 8L)).toDF("doc_a", "doc_b") // dethrones 8
    IncrementalComponents.addPairs(b1, dir)
    IncrementalComponents.addPairs(b2, dir)
    val before = labelMap(IncrementalComponents.labels(spark, dir))
    assert(before == Map(5L -> 5L, 6L -> 5L, 8L -> 5L, 9L -> 5L))
    // two rows pointed at the dethroned root 8
    assert(IncrementalComponents.compact(spark, dir) == 2L)
    assert(!new java.io.File(s"$dir/merges").exists())
    val after = labelMap(IncrementalComponents.labels(spark, dir))
    assert(after == before)
    // second compact: nothing to fold
    assert(IncrementalComponents.compact(spark, dir) == 0L)
    // the store keeps working after compaction
    val v = labelMap(IncrementalComponents.addPairs(
      Seq((9L, 30L)).toDF("doc_a", "doc_b"), dir))
    assert(v == Map(9L -> 5L, 30L -> 5L))
  }

  test("merge-log cap auto-folds under the cycle's lock (r13)") {
    val dir = Files.createTempDirectory("inccomp_cap").toString + "/store"
    // batch 1: four singleton-pair clusters rooted at 10, 20, 30, 40
    IncrementalComponents.addPairs(
      Seq((10L, 11L), (20L, 21L), (30L, 31L), (40L, 41L)).toDF(
        "doc_a", "doc_b"), dir)
    // batch 2 merges all four into one cluster rooted at 1 → 4 merge
    // rows, over the cap of 2 → the cycle folds the log itself
    val v = labelMap(IncrementalComponents.addPairs(
      Seq((1L, 10L), (1L, 20L), (1L, 30L), (1L, 40L)).toDF("doc_a", "doc_b"),
      dir, mergeLogCap = 2L))
    assert(v.values.toSet == Set(1L))
    // the fold ran: log gone, labels already canonical on disk
    assert(!new java.io.File(s"$dir/merges").exists())
    val raw = spark.read.parquet(s"$dir/labels")
    assert(raw.filter(col("component") =!= 1L).count() == 0L)
    // and the resolved view is correct for every vertex ever seen
    val got = labelMap(IncrementalComponents.labels(spark, dir))
    assert(got == Seq(1L, 10L, 11L, 20L, 21L, 30L, 31L, 40L, 41L)
      .map(_ -> 1L).toMap)
    // a later batch keeps working against the folded store
    val v3 = labelMap(IncrementalComponents.addPairs(
      Seq((41L, 50L)).toDF("doc_a", "doc_b"), dir))
    assert(v3 == Map(41L -> 1L, 50L -> 1L))
  }

  test("merge chains resolve transitively across many batches") {
    val dir = Files.createTempDirectory("inccomp_chain").toString + "/store"
    // clusters {40,41}, {30,31}, {20,21}, {10,11} created high-to-low,
    // then chained together one link per batch: every link dethrones the
    // smaller cluster's root, building a c3->c2->c1 chain in the log
    Seq((40L, 41L), (30L, 31L), (20L, 21L), (10L, 11L))
      .foreach(p => IncrementalComponents.addPairs(
        Seq(p).toDF("doc_a", "doc_b"), dir))
    IncrementalComponents.addPairs(Seq((41L, 31L)).toDF("doc_a", "doc_b"), dir)
    IncrementalComponents.addPairs(Seq((31L, 21L)).toDF("doc_a", "doc_b"), dir)
    IncrementalComponents.addPairs(Seq((21L, 11L)).toDF("doc_a", "doc_b"), dir)
    val got = labelMap(IncrementalComponents.labels(spark, dir))
    assert(got.values.toSet == Set(10L), got.toString)
    assert(got.keySet == Set(10L, 11L, 20L, 21L, 30L, 31L, 40L, 41L))
  }

  test("retried batch changes nothing (idempotent replay)") {
    val dir = Files.createTempDirectory("inccomp_retry").toString + "/store"
    val b1 = Seq((1L, 2L)).toDF("doc_a", "doc_b")
    val b2 = Seq((2L, 3L), (5L, 6L)).toDF("doc_a", "doc_b")
    IncrementalComponents.addPairs(b1, dir)
    IncrementalComponents.addPairs(b2, dir)
    val before = labelMap(IncrementalComponents.labels(spark, dir))
    val replay = labelMap(IncrementalComponents.addPairs(b2, dir))
    assert(labelMap(IncrementalComponents.labels(spark, dir)) == before)
    // the replayed batch still reports correct labels for its vertices
    assert(replay == Map(2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L))
    // label rows were not duplicated
    val rows = spark.read.parquet(s"$dir/labels")
    assert(rows.count() == rows.select("v").distinct().count())
  }

  test("pair stream equals batch arrival; keepers are the canonical members") {
    val work = Files.createTempDirectory("inccomp_stream").toString
    val srcDir = s"$work/pairs"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(srcDir))
    // two staged files = two micro-batches; second MERGES clusters
    Seq((1L, 2L), (10L, 11L)).toDF("doc_a", "doc_b")
      .coalesce(1).write.mode("append").parquet(srcDir)
    val stream = spark.readStream
      .schema("doc_a LONG, doc_b LONG").parquet(srcDir)
    val q = IncrementalComponents.pairStream(
      stream, s"$work/store", s"$work/out", s"$work/ckpt")
    try {
      q.processAllAvailable()
      Seq((2L, 10L), (20L, 21L)).toDF("doc_a", "doc_b")
        .coalesce(1).write.mode("append").parquet(srcDir)
      q.processAllAvailable()
    } finally q.stop()
    val got = labelMap(IncrementalComponents.labels(spark, s"$work/store"))
    val want = labelMap(Components.ofPairs(
      Seq((1L, 2L), (10L, 11L), (2L, 10L), (20L, 21L))
        .toDF("doc_a", "doc_b")))
    assert(got == want)
    // streaming default adopted/created the fixed default geometry
    val manifest = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$work/store", "_graft_store.json")), "UTF-8")
    assert(manifest.contains(s""""store_parts":"${IncrementalDedup.DefaultStoreParts}""""),
      manifest)
    // keepers: one canonical member per cluster
    val k = IncrementalComponents.keepers(spark, s"$work/store")
      .select("v").as[Long].collect().toSet
    assert(k == Set(1L, 20L))
  }

  test("rebuildStore on a clusters store: resolved labels, fresh geometry, empty log") {
    val base = Files.createTempDirectory("inccomp_rebuild")
    val src = base.toString + "/src"
    // two batches whose second MERGES clusters -> the source has a
    // non-empty merge log for the rebuild to fold
    IncrementalComponents.addPairs(
      Seq((1L, 2L), (10L, 11L)).toDF("doc_a", "doc_b"), src)
    IncrementalComponents.addPairs(
      Seq((2L, 10L), (20L, 21L)).toDF("doc_a", "doc_b"), src)
    val want = labelMap(IncrementalComponents.labels(spark, src))
    assert(want(11L) == 1L) // the merge is live, resolved via the log
    val dst = base.toString + "/dst"
    assert(IncrementalDedup.rebuildStore(spark, src, dst, 4) == 4)
    assert(IncrementalDedup.storeManifest(spark, dst) ==
      Map("variant" -> "components", "store_parts" -> "4"))
    // labels identical, but now CANONICAL in the label table itself —
    // the rebuilt store has no merge log to resolve through
    assert(labelMap(IncrementalComponents.labels(spark, dst)) == want)
    assert(!new java.io.File(dst, "merges").exists())
    // the rebuilt store keeps absorbing: connect a new vertex to an
    // old (previously dethroned) cluster member
    IncrementalComponents.addPairs(
      Seq((11L, 99L)).toDF("doc_a", "doc_b"), dst)
    assert(labelMap(IncrementalComponents.labels(spark, dst))(99L) == 1L)
  }

  test("a crashed compaction swap heals on the next cycle") {
    val dir = Files.createTempDirectory("inccomp_crash").toString + "/store"
    IncrementalComponents.addPairs(Seq((1L, 2L)).toDF("doc_a", "doc_b"), dir)
    IncrementalComponents.addPairs(Seq((2L, 0L)).toDF("doc_a", "doc_b"), dir)
    val want = labelMap(IncrementalComponents.labels(spark, dir))
    // simulate the worst window: tmp fully written, marker set, live
    // labels deleted, rename never ran
    val conf = spark.sparkContext.hadoopConfiguration
    import org.apache.hadoop.fs.Path
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    val tmp = new Path(root, "_compact_tmp")
    spark.read.schema("v BIGINT, component BIGINT, bp INT")
      .parquet(s"$dir/labels")
      .withColumn("component", when(col("component") === 1L, 0L)
        .otherwise(col("component"))) // the folded view
      .repartition(col("bp")).write.partitionBy("bp").parquet(tmp.toString)
    fs.create(new Path(root, "_compact_ready"), true).close()
    fs.delete(new Path(root, "labels"), true)
    // next cycle heals the swap and computes correctly on top of it
    val v = labelMap(IncrementalComponents.addPairs(
      Seq((2L, 7L)).toDF("doc_a", "doc_b"), dir))
    assert(v == Map(2L -> 0L, 7L -> 0L))
    assert(labelMap(IncrementalComponents.labels(spark, dir)) ==
      want + (7L -> 0L))
  }

  test("each fold publishes its pre-fold epoch + 1: successive folds never repeat an epoch") {
    // the rename-path fold deletes labels/ with its _retract_epoch; a
    // plain bump in the fresh dir would publish 1 after every fold, and a
    // label read spanning a whole fold would validate 1 == 1
    val dir = Files.createTempDirectory("inccomp_epoch").toString + "/store"
    IncrementalComponents.addPairs(Seq((1L, 2L)).toDF("doc_a", "doc_b"), dir)
    IncrementalComponents.addPairs(Seq((2L, 0L)).toDF("doc_a", "doc_b"), dir)
    Retract.setEpochAt(spark, s"$dir/labels", 41L)
    assert(IncrementalComponents.compact(spark, dir) > 0L)
    assert(Retract.epoch(spark, s"$dir/labels") == 42L)
    // a second fold moves it on again
    IncrementalComponents.addPairs(Seq((5L, 6L)).toDF("doc_a", "doc_b"), dir)
    IncrementalComponents.addPairs(Seq((6L, 1L)).toDF("doc_a", "doc_b"), dir)
    assert(IncrementalComponents.compact(spark, dir) > 0L)
    assert(Retract.epoch(spark, s"$dir/labels") == 43L)
    assert(labelMap(IncrementalComponents.labels(spark, dir)) ==
      Seq(0L, 1L, 2L, 5L, 6L).map(_ -> 0L).toMap)
  }

  test("labels() waits out a live writer's fold marker instead of failing lock-busy") {
    val dir = Files.createTempDirectory("inccomp_wait").toString + "/store"
    IncrementalComponents.addPairs(Seq((1L, 2L)).toDF("doc_a", "doc_b"), dir)
    val want = labelMap(IncrementalComponents.labels(spark, dir))
    val conf = spark.sparkContext.hadoopConfiguration
    val ready = new org.apache.hadoop.fs.Path(dir, "_compact_ready")
    val fs = ready.getFileSystem(conf)
    // a live foreign writer mid-fold: it holds the lock and the marker,
    // and finishes (drops the marker) 1.5 s later
    val held = new java.util.concurrent.CountDownLatch(1)
    val writer = new Thread(() =>
      graft.fs.StoreLock.withLock(dir, conf, owner = "otherhost:999:1") {
        fs.create(ready, true).close()
        held.countDown()
        Thread.sleep(1500L)
        fs.delete(ready, false)
      })
    writer.start()
    held.await()
    val t0 = System.nanoTime()
    try {
      val got = labelMap(IncrementalComponents.labels(spark, dir))
      val waitedMs = (System.nanoTime() - t0) / 1000000L
      assert(got == want)
      assert(waitedMs >= 1000L, s"label read returned inside the fold after $waitedMs ms")
    } finally writer.join(30000L)
  }
}
