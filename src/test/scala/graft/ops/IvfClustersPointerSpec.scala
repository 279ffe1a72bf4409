package graft.ops

import java.nio.file.Files

import graft.SparkSuite
import graft.fs.PartitionPointer
import org.apache.spark.sql.functions._

/** Swap-by-pointer on the LAST two direct-listing stores (r18 verdict
  * #1): the IVF index (whose recluster replaces the whole layout — the
  * largest swap window in the codebase) and the clusters store (whose
  * merge-log fold rewrites every label partition). On rename-less
  * schemes both now commit by ONE pointer PUT — the recluster's PUT
  * covers every cell partition AND the centroids table together — with
  * NO `graft.swap.allowNonAtomicRename` override anywhere in these
  * tests. `mock://` classifies rename-less by scheme name, like s3a. */
class IvfClustersPointerSpec extends SparkSuite {

  import spark.implicits.newProductEncoder
  import spark.implicits.localSeqToDatasetHolder

  private def conf = {
    spark.sparkContext.hadoopConfiguration.set(
      "fs.mock.impl", classOf[graft.fs.MockRemoteFileSystem].getName)
    spark.sparkContext.hadoopConfiguration
  }

  private def hfs(dir: String) =
    new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)

  // deterministic UNIQUE direction per id (a seeded draw): basis-bump
  // schemes make whole families of ids exact-direction clones, which
  // ties every cosine at 1.0 and lets any clone outrank the stable
  // probe target by id order
  private def vecOf(i: Long): Seq[Double] = {
    val r = new scala.util.Random(i)
    Seq.fill(8)(r.nextDouble() + 0.05)
  }

  private def vecsDf(ids: Seq[Long]) =
    ids.map(i => (i, vecOf(i))).toDF("vec_id", "embedding")

  test("ivf on a rename-less scheme: retract + recluster commit by pointer flip, no override") {
    conf
    val local = Files.createTempDirectory("ptr_ivf").toString
    val dir = s"mock://$local/idx"
    val fs = hfs(dir)
    val aRoot = new org.apache.hadoop.fs.Path(s"$dir/assignments")
    IvfIndex.build(vecsDf(5L to 60L), dir, nlist = 6)
    // retraction: commits by pointer flip (no marker, no override)
    assert(IvfIndex.retract(spark, dir, Seq(7L, 8L)) == 2L)
    assert(PartitionPointer.active(fs, aRoot),
      "retraction on mock:// must have created the assignments pointer")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(aRoot, "_retract_pending")))
    val ids0 = IvfIndex.assignmentsDf(spark, dir)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(ids0 == (5L to 60L).toSet -- Set(7L, 8L))
    // append INTO the pointer store: rows land in live generations
    IvfIndex.append(vecsDf(100L to 110L), dir)
    // RECLUSTER: the whole-layout swap commits with one PUT — the
    // pointer afterwards must name a versioned centroids table, and the
    // superseded legacy centroids dir must be gone
    IvfIndex.rebuild(spark, dir, kmeansIters = 1)
    val ptr = PartitionPointer.readPtr(fs, aRoot).get
    assert(ptr.tables.get("centroids").exists(_.live >= 0),
      s"pointer carries no live centroids table: $ptr")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir, "centroids")),
      "legacy centroids dir must be retired after the pointer commit")
    assert(!Retract.armBusy(spark, s"$dir/assignments"))
    // post-recluster searches are exact over the probed cells: an
    // exhaustive probe equals brute force over the live corpus
    val live = vecsDf(((5L to 60L).toSet -- Set(7L, 8L)).toSeq.sorted ++
      (100L to 110L))
    val q = vecsDf(Seq(200L)).withColumn("embedding",
      typedLit(vecOf(5L))) // clone of id 5's direction
    val got = IvfIndex.search(spark, dir, q, k = 3, nprobe = 6)
      .orderBy("rank").collect()
    val want = Similarity.bruteForceTopK(q, live, k = 3)
      .orderBy("rank").collect()
    assert(got.map(_.toString).toSeq == want.map(_.toString).toSeq)
    // a second recluster moves the table generation and the sweep
    // collects the old one after the grace cycle
    val tv0 = ptr.tables("centroids").live
    IvfIndex.rebuild(spark, dir, kmeansIters = 1)
    val ptr2 = PartitionPointer.readPtr(fs, aRoot).get
    assert(ptr2.tables("centroids").live != tv0)
    IvfIndex.retract(spark, dir, Seq(9L)) // any later publish starts grace
    Retract.sweep(spark, s"$dir/assignments")
    val ptr3 = PartitionPointer.readPtr(fs, aRoot).get
    val keep = ptr3.tables.get("centroids").toSeq
      .flatMap(e => Seq(e.live, e.prev)).filter(_ >= 0).toSet
    val onDisk = fs.listStatus(new org.apache.hadoop.fs.Path(aRoot,
      "_tables/centroids")).flatMap(
      _.getPath.getName.stripPrefix("tv=").toIntOption).toSet
    assert(onDisk.subsetOf(keep), s"table generations $onDisk not in $keep")
    // deep fsck is pointer-aware and clean
    val f = StoreFsck.fsck(spark, dir, deep = true)
    assert(f.isEmpty, f.toString)
  }

  test("ivf recluster churn race on a rename-less scheme: searches never lose the stable vector") {
    conf
    val local = Files.createTempDirectory("ptr_ivfrace").toString
    val dir = s"mock://$local/idx"
    IvfIndex.build(vecsDf(5L to 40L), dir, nlist = 4)
    val q0 = vecsDf(Seq(0L))
    val stable = q0.select(lit(910000L).as("vec_id"), col("embedding"))
    IvfIndex.append(stable, dir)
    // engage the pointer BEFORE the race so every churn swap is a flip
    IvfIndex.retract(spark, dir, Seq(5L))
    assert(PartitionPointer.active(hfs(dir),
      new org.apache.hadoop.fs.Path(s"$dir/assignments")))
    @volatile var stop = false
    @volatile var churnError: Option[Throwable] = None
    @volatile var rebuilds = 0
    val churner = new Thread(() => {
      try {
        // job group (thread-local): lets teardown cancel exactly this
        // thread's in-flight jobs if a cycle outlives the join window
        spark.sparkContext.setJobGroup("ptr-ivf-rebuild-churner", "ptr-ivf-rebuild-churner race",
          interruptOnCancel = true)
        while (!stop) {
          IvfIndex.rebuild(spark, dir, kmeansIters = 1)
          rebuilds += 1
        }
      } catch { case t: Throwable => churnError = Some(t) }
    }, "ptr-ivf-rebuild-churner")
    churner.start()
    var outlived = false
    try {
      var misses = 0
      var n = 0
      val t0 = System.nanoTime()
      while (n < 40 && (System.nanoTime() - t0) < 240e9 &&
          churnError.isEmpty) {
        n += 1
        val got = IvfIndex.search(spark, dir, q0, k = 20, nprobe = 4)
          .select("neighbor_id").collect().map(_.getLong(0)).toSet
        if (!got.contains(910000L)) misses += 1
      }
      assert(misses == 0, s"stable neighbor dropped from $misses results")
      assert(n >= 10, s"race vacuous: only $n searches")
    } finally {
      // on a contended host one locked cycle can outlive the first join
      outlived = quiesce(churner, "ptr-ivf-rebuild-churner") { stop = true }
    }
    assert(!outlived, "churner thread did not terminate")
    assert(churnError.isEmpty, s"rebuild churner failed: $churnError")
    assert(rebuilds >= 2, s"race vacuous: only $rebuilds rebuilds")
    val top = IvfIndex.search(spark, dir, q0, k = 1, nprobe = 4).collect().head
    assert(top.getAs[Long]("neighbor_id") == 910000L &&
      top.getAs[Double]("cosine") == 1.0)
    assert(!Retract.armBusy(spark, s"$dir/assignments"))
  }

  test("clusters on a rename-less scheme: the merge-log fold commits by pointer flip, no override") {
    conf
    val local = Files.createTempDirectory("ptr_cc").toString
    val dir = s"mock://$local/store"
    val fs = hfs(dir)
    val lpRoot = new org.apache.hadoop.fs.Path(s"$dir/labels")
    // batch 1: two clusters {1,2,3} and {10,11}; batch 2 merges them
    IncrementalComponents.addPairs(
      Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b"), dir)
    IncrementalComponents.addPairs(
      Seq((3L, 10L)).toDF("doc_a", "doc_b"), dir)
    // the fold: commits by pointer flip and clears the log
    assert(IncrementalComponents.compact(spark, dir) > 0L)
    assert(PartitionPointer.active(fs, lpRoot),
      "fold on mock:// must have created the labels pointer")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir, "merges")))
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 1L, 11L -> 1L)
    val got = IncrementalComponents.labels(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want, s"$got != $want")
    // a later batch + retraction against the pointer store still work:
    // appends route through file moves, the retraction swap flips
    IncrementalComponents.addPairs(
      Seq((20L, 21L)).toDF("doc_a", "doc_b"), dir)
    assert(Retract.retract(spark, dir, Seq(1L)) == 1L)
    val got2 = IncrementalComponents.labels(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 1 is gone as a vertex AND as a name: the cluster renames to its
    // min surviving member
    assert(got2 == Map(2L -> 2L, 3L -> 2L, 10L -> 2L, 11L -> 2L,
      20L -> 20L, 21L -> 20L), got2.toString)
    val f = StoreFsck.fsck(spark, dir, deep = true)
    assert(f.isEmpty, f.toString)
  }

  test("clusters fold race on a rename-less scheme: lock-free label reads never tear") {
    conf
    val local = Files.createTempDirectory("ptr_ccrace").toString
    val dir = s"mock://$local/store"
    // stable cluster {1,2,3,4} -> component 1, committed before the
    // race; built as TWO clusters then bridged so the seed fold has a
    // real merge row to commit (a merge-less compact is a no-op and
    // would never engage the pointer)
    IncrementalComponents.addPairs(
      Seq((1L, 2L), (3L, 4L)).toDF("doc_a", "doc_b"), dir)
    IncrementalComponents.addPairs(
      Seq((2L, 3L)).toDF("doc_a", "doc_b"), dir)
    assert(IncrementalComponents.compact(spark, dir) > 0L) // pointer engaged
    assert(PartitionPointer.active(hfs(dir),
      new org.apache.hadoop.fs.Path(s"$dir/labels")))
    @volatile var stop = false
    @volatile var churnError: Option[Throwable] = None
    @volatile var folds = 0
    var next = 1000L
    val churner = new Thread(() => {
      try {
        // job group (thread-local): lets teardown cancel exactly this
        // thread's in-flight jobs if a cycle outlives the join window
        spark.sparkContext.setJobGroup("ptr-cc-fold-churner", "ptr-cc-fold-churner race",
          interruptOnCancel = true)
        while (!stop) {
          // each wave merges two fresh clusters so the fold has real
          // merge rows to commit (disjoint from the stable cluster)
          val a = next; next += 10
          IncrementalComponents.addPairs(
            Seq((a, a + 1), (a + 2, a + 3)).toDF("doc_a", "doc_b"), dir)
          IncrementalComponents.addPairs(
            Seq((a + 1, a + 2)).toDF("doc_a", "doc_b"), dir)
          if (IncrementalComponents.compact(spark, dir) > 0L) folds += 1
        }
      } catch { case t: Throwable => churnError = Some(t) }
    }, "ptr-cc-fold-churner")
    churner.start()
    var outlived = false
    try {
      var reads = 0
      val t0 = System.nanoTime()
      while (reads < 40 && (System.nanoTime() - t0) < 240e9 &&
          churnError.isEmpty) {
        reads += 1
        // a torn partition read loses rows or throws; a mixed
        // labels/log read mis-resolves — the stable cluster's view must
        // be exact in every raced read
        val got = IncrementalComponents.labels(spark, dir)
          .filter(col("v") <= 4L)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L),
          s"read $reads saw $got")
      }
      assert(reads >= 10, s"race vacuous: only $reads reads")
    } finally {
      // on a contended host one locked cycle can outlive the first join
      outlived = quiesce(churner, "ptr-cc-fold-churner") { stop = true }
    }
    assert(!outlived, "churner thread did not terminate")
    assert(churnError.isEmpty, s"fold churner failed: $churnError")
    assert(folds >= 2, s"race vacuous: only $folds folds")
    // settled: every churn wave resolved to one cluster of 4
    val sizes = IncrementalComponents.labels(spark, dir)
      .filter(col("v") >= 1000L)
      .groupBy("component").agg(count(lit(1)).as("n"))
      .select("n").collect().map(_.getLong(0)).toSet
    assert(sizes == Set(4L), s"churn clusters malformed: $sizes")
  }
}
