package graft.ops

import java.nio.file.Files

import graft.SparkSuite
import graft.fs.PartitionPointer
import org.apache.spark.sql.functions._

/** Swap-by-pointer partition versioning on rename-less schemes (r17
  * verdict #1): store mutations commit with ONE atomic small-file PUT
  * of the partition→version map instead of directory renames, keeping
  * lock-free readers safe on object stores with NO override flag.
  * `mock://` (RawLocalFileSystem-backed) classifies rename-less by
  * scheme name — exactly like s3a. */
class PointerSwapSpec extends SparkSuite {

  import spark.implicits.newProductEncoder
  import spark.implicits.localSeqToDatasetHolder

  private def conf = {
    spark.sparkContext.hadoopConfiguration.set(
      "fs.mock.impl", classOf[graft.fs.MockRemoteFileSystem].getName)
    spark.sparkContext.hadoopConfiguration
  }

  private def hfs(dir: String) =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def keepers(dir: String): Set[Long] =
    StoreRows(spark, dir)._1
      .select("keep_doc_id").collect().map(_.getLong(0)).toSet

  test("generations: second swap retires the first; sweep GC collects it after the grace cycle") {
    conf
    val local = Files.createTempDirectory("ptr_gen").toString
    val dir = s"mock://$local/store"
    val docs = (1L to 40L).map(i => (i, s"text body $i")).toDF("doc_id", "text")
    IncrementalDedup.exactBatch(docs, dir).collect()
    // swap 1: creates the pointer
    assert(Retract.retract(spark, dir, Seq(1L, 2L, 3L)) == 3L)
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = hfs(dir)
    val p1 = PartitionPointer.readPtr(fs, root).get
    assert(p1.entries.nonEmpty)
    // every replaced entry remembers where it came from (grace)
    assert(p1.entries.values.forall(e =>
      e.live == PartitionPointer.Tombstone || e.live >= 0))
    assert(p1.entries.values.exists(_.prev != PartitionPointer.NoPrev))
    // swap 2 on the same store: seq advances, live versions move
    assert(Retract.retract(spark, dir, Seq(4L, 5L)) == 2L)
    val p2 = PartitionPointer.readPtr(fs, root).get
    assert(p2.seq > p1.seq)
    assert(keepers(dir) == (6L to 40L).toSet)
    // a later locked cycle's sweep collects grace-expired generations:
    // no pv dir outside each entry's {live, prev}, no append corpses
    IncrementalDedup.exactBatch(
      Seq((99L, "fresh append")).toDF("doc_id", "text"), dir).collect()
    Retract.sweep(spark, dir)
    val p3 = PartitionPointer.readPtr(fs, root).get
    val partsRoot = new org.apache.hadoop.fs.Path(root, "_parts")
    if (fs.exists(partsRoot))
      fs.listStatus(partsRoot).foreach { pd =>
        val name = pd.getPath.getName
        val allowed = p3.entries.get(name).toSeq
          .flatMap(e => Seq(e.live, e.prev)).filter(_ >= 0).toSet
        val onDisk = fs.listStatus(pd.getPath)
          .flatMap(_.getPath.getName.stripPrefix("pv=").toIntOption).toSet
        assert(onDisk.subsetOf(allowed), s"$name: $onDisk not in $allowed")
      }
    assert(keepers(dir) == (6L to 40L).toSet + 99L)
  }

  test("crashed swap: pointer unchanged means store unchanged; orphans sweep clean") {
    conf
    val local = Files.createTempDirectory("ptr_crash").toString
    val dir = s"mock://$local/store"
    IncrementalDedup.exactBatch(
      (1L to 10L).map(i => (i, s"body $i")).toDF("doc_id", "text"), dir)
      .collect()
    Retract.retract(spark, dir, Seq(1L)) // establishes the pointer
    val before = keepers(dir)
    // fabricate a crash AFTER staging, BEFORE the pointer PUT: an
    // orphan versioned generation + a staging dir + an append corpse
    val fs = hfs(dir)
    val root = new org.apache.hadoop.fs.Path(dir)
    val someLive = PartitionPointer.readPtr(fs, root).get.entries
      .collectFirst { case (n, e) if e.live >= 0 => n }
      .getOrElse {
        fs.listStatus(root).map(_.getPath.getName)
          .find(_.startsWith("bp=")).get
      }
    val orphan = new org.apache.hadoop.fs.Path(root,
      s"_parts/$someLive/pv=99")
    fs.mkdirs(orphan)
    fs.create(new org.apache.hadoop.fs.Path(orphan, "part-junk.parquet"),
      true).close()
    fs.mkdirs(new org.apache.hadoop.fs.Path(root, "_retract_tmp/bp=0"))
    fs.mkdirs(new org.apache.hadoop.fs.Path(root, "_append_tmp-123/bp=0"))
    // the unreferenced generation is invisible to readers
    assert(keepers(dir) == before)
    // the next locked cycle sweeps all three corpse classes
    IncrementalDedup.exactBatch(
      Seq((50L, "post crash")).toDF("doc_id", "text"), dir).collect()
    Retract.sweep(spark, dir)
    assert(!fs.exists(orphan), "orphan generation survived the sweep")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root, "_retract_tmp")))
    assert(fs.listStatus(root)
      .forall(!_.getPath.getName.startsWith("_append_tmp-")))
    assert(keepers(dir) == before + 50L)
  }

  test("partition pruning pushes into both pointer arms (legacy + versioned)") {
    conf
    val local = Files.createTempDirectory("ptr_prune").toString
    val dir = s"mock://$local/store"
    IncrementalDedup.exactBatch(
      (1L to 60L).map(i => (i, s"unique body $i")).toDF("doc_id", "text"), dir)
      .collect()
    Retract.retract(spark, dir, Seq(1L)) // one partition goes versioned
    val (df, has) = StoreRows(spark, dir)
    assert(has)
    val plan = df.filter(col("bp") === 0)
      .queryExecution.executedPlan.toString
    // both FileScans carry the bp partition filter — the prefilter path
    // a takedown's discovery scan rides stays O(touched) on pointer
    // stores
    val scans = plan.split("FileScan").length - 1
    assert(scans >= 1, plan)
    assert(plan.split("PartitionFilters").length - 1 == scans, plan)
    assert(plan.contains("(bp"), plan)
  }

  test("bm25 churn race on a rename-less scheme: searches never lose the stable doc, no override") {
    conf
    val local = Files.createTempDirectory("ptr_bm25race").toString
    val dir = s"mock://$local/idx"
    // stable doc: unique term "anchorterm"; churn docs share "zzqx"
    // with it so retraction swaps the very partitions the search reads
    val stable = Seq((1L, "zzqx anchorterm anchorterm payload"))
      .toDF("doc_id", "text")
    val filler = (2L to 30L)
      .map(i => (i, s"zzqx filler document number $i"))
      .toDF("doc_id", "text")
    val churn = (100L to 115L)
      .map(i => (i, s"zzqx churn document wave $i"))
      .toDF("doc_id", "text")
    Bm25Index.indexBatch(stable.unionByName(filler), dir)
    val q = Seq((0L, "zzqx anchorterm")).toDF("query_id", "query")
    @volatile var stop = false
    @volatile var churnErr: Option[Throwable] = None
    var cycles = 0
    val churner = new Thread(() => {
      try {
        while (!stop && cycles < 6) {
          Bm25Index.indexBatch(churn, dir)
          Retract.retract(spark, dir, (100L to 115L))
          cycles += 1
        }
      } catch { case t: Throwable => churnErr = Some(t) }
    }, "ptr-churner")
    churner.start()
    var searches = 0
    var misses = 0
    try {
      while (churner.isAlive && searches < 60 && churnErr.isEmpty) {
        searches += 1
        val got = Bm25Index.search(spark, dir, q, k = 10)
          .select("doc_id").collect().map(_.getLong(0)).toSet
        if (!got.contains(1L)) misses += 1
      }
    } finally { stop = true; churner.join(300000) }
    assert(churnErr.isEmpty, s"churner failed: $churnErr")
    assert(cycles >= 2, s"race vacuous: only $cycles churn cycles")
    assert(searches >= 5, s"race vacuous: only $searches searches")
    assert(misses == 0, s"$misses/$searches searches lost the stable doc")
    // steady state after the race: exactly the original corpus
    val left = StoreRows(spark, dir, "docs")._1
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(left == (1L to 30L).toSet, s"doc set after churn: $left")
  }
}
