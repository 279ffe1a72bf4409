package graft.ops

import java.nio.file.Files

import graft.SparkSuite
import org.apache.spark.sql.DataFrame

/** The number of Spark jobs one locked batch cycle starts, per store
  * variant, for a creation cycle (no store yet) and a warm cycle (the
  * same store, a second batch with exact and near copies of the first).
  * A job-count change is a plan change: the counts are pinned so that a
  * refactor of the shared cycle cannot add or drop a job unnoticed. */
class StoreCycleJobsSpec extends SparkSuite {

  import spark.implicits._

  private val words = ("alpha bravo charlie delta echo foxtrot golf hotel india " +
    "juliet kilo lima mike november oscar papa quebec romeo sierra tango").split(" ")

  /** A 16-word text, deterministic in `i`. */
  private def text(i: Int): String =
    (0 until 16).map(k => words((i * 7 + k * k + k * i) % words.length)).mkString(" ")

  private val docs1 = (1 to 12).map(i => (i.toLong, text(i)))
  // exact copies of 1 and 2, a near copy of 3, two novel docs
  private val docs2 = Seq((101L, text(1)), (102L, text(2)),
    (103L, text(3) + " zulu"), (104L, text(40)), (105L, text(41)))

  private def vec(i: Int): Array[Double] =
    Array.tabulate(8)(k => math.sin(i * 1.3 + k * 0.7))
  private val vecs1 = (1 to 10).map(i => (i.toLong, vec(i)))
  // a clone of vector 3 and two novel vectors
  private val vecs2 = Seq((101L, vec(3)), (102L, vec(30)), (103L, vec(31)))

  /** The jobs each of `cycles` starts, run in order on one fresh store. */
  private def jobCounts(name: String, cycles: (String => Any)*): Seq[Int] = {
    val dir = Files.createTempDirectory(s"cyclejobs_$name").toString + "/store"
    cycles.map(c => jobsOf(c(dir))._2.size)
  }

  /** (creation jobs, warm jobs) of one variant's cycle. */
  private def cycleJobs(name: String, cycle: (DataFrame, String) => DataFrame,
      b1: DataFrame, b2: DataFrame): (Int, Int) = {
    val Seq(created, warm) = jobCounts(name, cycle(b1, _), cycle(b2, _))
    (created, warm)
  }

  private def d1 = docs1.toDF("doc_id", "text")
  private def d2 = docs2.toDF("doc_id", "text")
  private def v1 = vecs1.toDF("vec_id", "embedding")
  private def v2 = vecs2.toDF("vec_id", "embedding")

  // (variant, cycle, first batch, second batch, creation jobs, warm jobs)
  private val pinned: Seq[(String, (DataFrame, String) => DataFrame,
      () => DataFrame, () => DataFrame, Int, Int)] = Seq(
    ("exact", (b, d) => IncrementalDedup.exactBatch(b, d), () => d1, () => d2, 13, 11),
    ("span", (b, d) => IncrementalSpanDedup.spanBatch(b, d, w = 4), () => d1, () => d2, 14, 14),
    ("minhash", (b, d) => IncrementalDedup.minhashBatch(b, d), () => d1, () => d2, 13, 12),
    ("simhash", (b, d) => IncrementalDedup.simhashBatch(b, d), () => d1, () => d2, 13, 12),
    ("ngram", (b, d) => IncrementalDedup.ngramBatch(b, d, n = 3), () => d1, () => d2, 21, 22),
    ("embedding inline", (b, d) => IncrementalDedup.embeddingBatch(b, d, threshold = 0.9),
      () => v1, () => v2, 13, 12),
    ("embedding split", (b, d) => IncrementalDedup.embeddingBatch(b, d, threshold = 0.9,
      layout = "split"), () => v1, () => v2, 25, 23))

  pinned.foreach { case (name, cycle, b1, b2, created, warm) =>
    test(s"$name: a creation cycle starts $created Spark jobs, a warm cycle $warm") {
      val got = cycleJobs(name.replace(' ', '_'), cycle, b1(), b2())
      assert(got == (created, warm), s"$name (creation, warm) jobs")
    }
  }

  // bm25: creation, warm, and the warm batch replayed (every doc already
  // indexed: the cycle appends nothing)
  private val bm25Jobs = Seq(18, 19, 6)

  test(s"bm25: creation, warm and all-replay cycles start ${bm25Jobs.mkString("/")} Spark jobs") {
    val got = jobCounts("bm25", Seq(d1, d2, d2).map(b =>
      (dir: String) => Bm25Index.indexBatch(b, dir)): _*)
    assert(got == bm25Jobs, "bm25 (creation, warm, replay) jobs")
  }

  private def p1 = Seq((1L, 2L), (2L, 3L), (4L, 5L), (6L, 7L), (8L, 9L), (10L, 11L))
    .toDF("doc_a", "doc_b")
  // joins two stored clusters, grows one, and adds a new one
  private def p2 = Seq((3L, 4L), (7L, 101L), (102L, 103L), (11L, 12L))
    .toDF("doc_a", "doc_b")
  private val componentsJobs = (25, 28)

  test(s"components: a creation cycle starts ${componentsJobs._1} Spark jobs, a warm cycle ${componentsJobs._2}") {
    val got = cycleJobs("components", (b, d) => IncrementalComponents.addPairs(b, d),
      p1, p2)
    assert(got == componentsJobs, "components (creation, warm) jobs")
  }

  private val bm25RetractJobs = 17

  test(s"retract: a 2-id retract of a bm25 index starts $bm25RetractJobs Spark jobs") {
    val dir = Files.createTempDirectory("cyclejobs_bm25retract").toString + "/store"
    Bm25Index.indexBatch(d1, dir)
    Bm25Index.indexBatch(d2, dir)
    val (removed, jobs) = jobsOf(Retract.retract(spark, dir, Seq(1L, 104L)))
    assert(removed == 14L)
    assert(jobs.size == bm25RetractJobs, jobs.mkString("\n"))
  }

  /** Every table is read with its pinned schema, so the takedown starts
    * no schema-inference job: not for the data table, nor for the doc
    * index it consults and then rewrites; and the candidate partitions
    * of the retired ids are hashed on the driver. */
  private val retractJobs = 11

  test(s"retract: a 5-id retract of an indexed exact store starts $retractJobs Spark jobs") {
    val dir = Files.createTempDirectory("cyclejobs_retract").toString + "/store"
    IncrementalDedup.exactBatch(d1, dir)
    IncrementalDedup.exactBatch(d2, dir)
    assert(IncrementalDedup.docIndexEnabled(IncrementalDedup.storeManifest(spark, dir)))
    val (removed, jobs) = jobsOf(Retract.retract(spark, dir, (1L to 5L)))
    assert(removed == 5L)
    assert(jobs.size == retractJobs, jobs.mkString("\n"))
  }

  /** `compactStore` of a store fragmented by three batches: (Spark jobs,
    * partitions rewritten) of the first compaction, then of a second one
    * that finds nothing left to rewrite. The fragmented partitions are
    * read with the table's pinned schema and rewritten in one write. */
  private def compactJobs(name: String, batch: (DataFrame, String) => Any,
      size: Int): Seq[(Int, Int)] = {
    val dir = Files.createTempDirectory(s"cyclejobs_$name").toString + "/store"
    (0 until 3).foreach(b =>
      batch((1 to size).map(i => (1000L * b + i, s"batch $b doc $i ${text(i)}"))
        .toDF("doc_id", "text"), dir))
    Seq.fill(2)(jobsOf(IncrementalDedup.compactStore(spark, dir)))
      .map { case (n, jobs) => (jobs.size, n) }
  }

  test("compactStore: an 8-part exact store fragmented by three batches compacts in 2 Spark jobs, then 0") {
    assert(compactJobs("compact_exact",
      (b, d) => IncrementalDedup.exactBatch(b, d, storeParts = 8), 40) == Seq((2, 8), (0, 0)))
  }

  test("compactStore: an 8-part bm25 index fragmented by three batches compacts in 4 Spark jobs") {
    assert(compactJobs("compact_bm25",
      (b, d) => Bm25Index.indexBatch(b, d, storeParts = 8), 20).head == (4, 16))
  }
}
