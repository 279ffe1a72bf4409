package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for all Spark-backed suites. */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[8]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}

trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark // stable id for implicits
  def sf: String = SparkTestBase.sf

  /** Stop a background thread that runs Spark jobs under the job group
    * `group` (set on that thread), and wait until it has ended: `stop`
    * signals it, then one join; a cycle still in flight after that is
    * cancelled through its job group and joined again. Returns whether
    * the thread outlived the second join, which the caller must fail
    * on (after any failure of its own body): a task of it still running
    * when the shared context stops at JVM exit lands its result on the
    * terminated TaskResultGetter pool and fails the whole run. */
  def quiesce(thread: Thread, group: String)(stop: => Unit): Boolean = {
    stop
    thread.join(120000)
    if (thread.isAlive) {
      spark.sparkContext.cancelJobGroup(group)
      thread.join(120000)
    }
    thread.isAlive
  }

  /** What `body` returns, and the descriptions of the Spark jobs it
    * starts. A fence job follows the body: the listener bus delivers job
    * starts in order, so every job the body started is recorded before
    * the fence's own start. */
  def jobsOf[T](body: => T): (T, Seq[String]) = {
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val group = "suite-jobs"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).filter(_.getProperty("spark.jobGroup.id") == group)
          .foreach(p => jobs.add(String.valueOf(p.getProperty("spark.job.description"))))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "body")
      val out = body
      sc.setJobGroup(group, "fence")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.currentTimeMillis() + 30000
      while (!jobs.contains("fence") && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      val seen = jobs.asScala.toSeq
      assert(seen.lastOption.contains("fence"), seen)
      (out, seen.init)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
