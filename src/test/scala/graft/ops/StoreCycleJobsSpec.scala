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

  /** (creation jobs, warm jobs) of one variant's cycle. */
  private def cycleJobs(name: String, cycle: (DataFrame, String) => DataFrame,
      b1: DataFrame, b2: DataFrame): (Int, Int) = {
    val dir = Files.createTempDirectory(s"cyclejobs_$name").toString + "/store"
    val (_, created) = jobsOf(cycle(b1, dir))
    val (_, warm) = jobsOf(cycle(b2, dir))
    (created.size, warm.size)
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

  /** Every table is read with its pinned schema, so the takedown starts
    * no schema-inference job: not for the data table, nor for the doc
    * index it consults and then rewrites. */
  private val retractJobs = 15

  test(s"retract: a 5-id retract of an indexed exact store starts $retractJobs Spark jobs") {
    val dir = Files.createTempDirectory("cyclejobs_retract").toString + "/store"
    IncrementalDedup.exactBatch(d1, dir)
    IncrementalDedup.exactBatch(d2, dir)
    assert(IncrementalDedup.docIndexEnabled(IncrementalDedup.storeManifest(spark, dir)))
    val (removed, jobs) = jobsOf(Retract.retract(spark, dir, (1L to 5L)))
    assert(removed == 5L)
    assert(jobs.size == retractJobs, jobs.mkString("\n"))
  }
}
