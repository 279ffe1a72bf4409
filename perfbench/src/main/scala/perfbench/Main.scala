package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Closed-loop accounting: one client, the next op starts when the last
  * one returns. Every op is attempted, timed and either succeeds or fails;
  * an exception is a failed op, logged and counted, and the loop goes on.
  * A failed op counts as missing every latency bound (its latency is +inf
  * in the percentiles).
  *
  * Each op also accrues the process CPU and GC time spent while it ran,
  * so the checks the client makes between ops (its think time) are not
  * charged to the system. */
final class Ops {
  val latencies = ArrayBuffer.empty[Double]
  val attempted = mutable.Map.empty[String, Int].withDefaultValue(0)
  val failed = mutable.Map.empty[String, Int].withDefaultValue(0)
  var busyS = 0.0
  var cpuS = 0.0
  var gcS = 0.0
  var userBytes = 0L
  var rowsReturned = 0L
  var filesIngested = 0L

  def apply[T](kind: String)(body: => T): Option[T] = {
    attempted(kind) += 1
    val cpu0 = Main.cpuNanos
    val gc0 = Main.gcMillis
    val t0 = System.nanoTime()
    val r =
      try Some(Trace.op(latencies.size, kind)(body))
      catch { case NonFatal(e) =>
        failed(kind) += 1
        System.err.println(s"[perfbench] op $kind failed: $e")
        None
      }
    val dt = (System.nanoTime() - t0) / 1e9
    busyS += dt
    cpuS += (Main.cpuNanos - cpu0) / 1e9
    gcS += (Main.gcMillis - gc0) / 1e3
    latencies += (if (r.isDefined) dt else Double.PositiveInfinity)
    System.err.println(f"[perfbench] op $kind $dt%.3f s")
    r
  }

  def count: Int = latencies.size
  def failures: Int = failed.values.sum
}

/** One workload: a repeatable input build, a warm-up, and rounds of
  * timed ops. `check` records a wrong answer; any recorded error, and
  * any failed op, makes the run incorrect. */
abstract class Workload(val spark: SparkSession, val seed: Long, val inputs: Path) {
  val errors = ArrayBuffer.empty[String]
  def check(ok: Boolean, what: => String): Unit =
    if (!ok && errors.size < 20) errors += what

  /** One-off set-up before the build: loading the generated tables in
    * `inputs`. */
  def prepare(): Unit = ()
  /** Builds what the ops work on (an initial dataset or stores) under
    * `dir`. */
  def build(dir: Path): Unit
  def warmUp(): Unit
  /** One round of timed ops, with the same op mix in every round. */
  def round(ops: Ops, r: Int): Unit
  /** Timed ops that happen once per run, after the rounds. */
  def finish(ops: Ops): Unit = ()
  /** On-disk bytes of what the workload stored, for
    * `bytes_stored_per_user_byte`; None where nothing is stored. */
  def storedBytes: Option[Long] = None
  /** User bytes the stored bytes hold. */
  def storedUserBytes: Long = 0L
  /** Per-layer counts read from the program's state at run end. */
  def layerCounts: Map[String, Double] = Map.empty
}

object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = Paths.get(a("work")).toAbsolutePath
    val out = Paths.get(a("out")).toAbsolutePath
    val inputs = Paths.get(a("inputs")).toAbsolutePath
    // seconds the runner spent generating `inputs` before starting us
    val genS = a("gen-s").toDouble
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cpus = Runtime.getRuntime.availableProcessors
    Files.createDirectories(work)

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val wl: Workload = workload match {
      case "lake"        => new LakeWl(spark, seed, inputs, work)
      case "curation"    => new CurationWl(spark, seed, inputs)
      case other         => sys.error(s"unknown workload: $other")
    }
    // set-up, from process start to the first timed op: input
    // generation, session, loading, the build, the warm-up
    val tp = System.nanoTime()
    wl.prepare()
    val prepareS = (System.nanoTime() - tp) / 1e9
    val tb = System.nanoTime()
    wl.build(work.resolve("input"))
    val buildS = (System.nanoTime() - tb) / 1e9
    val tw = System.nanoTime()
    wl.warmUp()
    val warmS = (System.nanoTime() - tw) / 1e9
    val setupS = genS + sessionS + prepareS + buildS + warmS

    def strMap(m: collection.Map[String, Int]) =
      m.toSeq.sorted.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val preProbe = probe(spark)
    if (traced) Trace.start(spark)
    val ops = new Ops
    val t0 = System.nanoTime()
    var r = 0
    while (r == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
      wl.round(ops, r)
      r += 1
    }
    wl.finish(ops)
    val wall = (System.nanoTime() - t0) / 1e9
    if (ops.failures > 0)
      wl.errors += s"${ops.failures} ops failed: ${strMap(ops.failed)}"
    val summary =
      if (traced) Some(Trace.summary(out.resolveSibling("spans.jsonl"))) else None
    val postProbe = probe(spark)
    System.gc(); System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6

    val n = ops.count
    val lat = ops.latencies.toSeq.sorted
    val e2e = ArrayBuffer[(String, Double, String)](
      ("setup_s", setupS, "s"),
      ("ops_per_s", n / ops.busyS, "op/s"),
      ("op_p50_s", pct(lat, 0.50), "s"),
      ("op_p90_s", pct(lat, 0.90), "s"),
      ("core_s_per_op", ops.cpuS / n, "core-s"),
      ("user_mb_per_s", ops.userBytes / 1e6 / ops.busyS, "MB/s"),
      ("live_heap_mb", heapMb, "MB"),
      ("ops_failed_ratio", ops.failures.toDouble / n, "ratio"))
    wl.storedBytes.foreach { b =>
      e2e += (("bytes_stored_per_user_byte", b.toDouble / wl.storedUserBytes, "ratio"))
    }
    val perLayer = summary.map { s =>
      val fsRead = s.layers.collect { case (k, l) if k.startsWith("fs.") => l.recordsRead }.sum
      val ingestS = s.layer("fs.ingest_run").map(_.inclusive.sum).getOrElse(0.0)
      val derived = Map(
        "fs.rows_read_per_row_returned" ->
          (if (ops.rowsReturned > 0) fsRead.toDouble / ops.rowsReturned else 0.0),
        "fs.ingest_files_per_s" -> (if (ingestS > 0) ops.filesIngested / ingestS else 0.0))
      Layers(s, wl.layerCounts ++ derived, n, ops.busyS, ops.gcS, pct(lat, 0.5))
    }.getOrElse(Nil)

    def num(d: Double) =
      if (d.isInfinite || d.isNaN) "1e9" else java.lang.Double.toString(d)
    def metrics(ms: Seq[(String, Double, String)]) = ms.map { case (k, v, u) =>
      s""""$k":{"value":${num(v)},"unit":"$u"}""" }.mkString("{", ",", "}")
    val json =
      s"""{"workload":"$workload","seed":$seed,"trace":${if (traced) 1 else 0},""" +
      s""""correct":${wl.errors.isEmpty},"attempted":$n,"failed":${ops.failures},""" +
      s""""attempted_by_type":${strMap(ops.attempted)},"failed_by_type":${strMap(ops.failed)},""" +
      s""""errors":[${wl.errors.map(e => "\"" + e.replace("\\", "\\\\").replace("\"", "'") + "\"").mkString(",")}],""" +
      s""""rounds":$r,"timed_wall_s":$wall,"busy_s":${ops.busyS},""" +
      s""""setup_parts":{"gen_s":$genS,"session_s":$sessionS,"prepare_s":$prepareS,"build_s":$buildS,"warm_up_s":$warmS},""" +
      s""""conditions":{"nproc":$cpus,"master":"local[$cpus]","shuffle_partitions":$cpus,""" +
      s""""driver_max_heap_mb":${Runtime.getRuntime.maxMemory / 1000000},""" +
      s""""pre_calibration_s":$preProbe,"post_calibration_s":$postProbe,""" +
      s""""contended":${preProbe > ContendedProbeS || postProbe > ContendedProbeS}},""" +
      s""""end_to_end":${metrics(e2e.toSeq)},"per_layer":${metrics(perLayer)}}"""
    Files.write(out, json.getBytes("UTF-8"))
    spark.stop()
  }

  /** graft.Bench's calibration probe: a fixed codegen sum over 2e8 rows.
    * Bench flags a run whose probe exceeds 0.45 s as contended. */
  val ContendedProbeS = 0.45
  def probe(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(200000000L).agg(org.apache.spark.sql.functions.sum("id")).collect()
    (System.nanoTime() - t0) / 1e9
  }

  def median(xs: Seq[Double]): Double = pct(xs.sorted, 0.5)

  /** Nearest-rank percentile of sorted values. */
  def pct(sorted: Seq[Double], p: Double): Double =
    if (sorted.isEmpty) Double.NaN
    else sorted(math.min(sorted.size - 1, math.max(0, math.ceil(p * sorted.size).toInt - 1)))

  def cpuNanos: Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime
  def gcMillis: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).sum

  /** Directory size in bytes and regular-file count. */
  def du(p: Path): (Long, Int) =
    if (!Files.exists(p)) (0L, 0)
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .foldLeft((0L, 0)) { case ((b, c), f) => (b + Files.size(f), c + 1) }
      finally s.close()
    }
}

/** The per-layer metrics of a traced run, in the order BENCHMARK.json
  * lists them. Timings are the median inclusive seconds of one call;
  * `*_per_op` values are totals over the timed ops divided by the op
  * count. A layer the workload never calls reads 0. */
object Layers {
  val Timed: Seq[(String, String)] = Seq(
    "fs.read_dir_s" -> "fs.read_dir", "fs.read_dir_all_s" -> "fs.read_dir_all",
    "fs.read_files_s" -> "fs.read_files", "fs.take_s" -> "fs.take",
    "fs.sql_s" -> "fs.sql", "fs.ingest_run_s" -> "fs.ingest_run",
    "fs.export_s" -> "fs.export", "fs.compact_s" -> "fs.compact",
    "store.exact_batch_s" -> "store.exact_batch",
    "store.simhash_batch_s" -> "store.simhash_batch",
    "store.ngram_batch_s" -> "store.ngram_batch",
    "store.components_add_pairs_s" -> "store.components_add_pairs",
    "store.bm25_index_batch_s" -> "store.bm25_index_batch",
    "store.ivf_append_s" -> "store.ivf_append",
    "store.retract_s" -> "store.retract", "store.compact_s" -> "store.compact",
    "store.bm25_search_s" -> "store.bm25_search",
    "store.ivf_search_s" -> "store.ivf_search",
    "battery.tpch_s" -> "battery.tpch", "battery.fuzz_s" -> "battery.fuzz",
    "battery.operators_s" -> "battery.operators")
  val Counts: Seq[String] = Seq("fs.rows_read_per_row_returned",
    "fs.ingest_files_per_s", "fs.table_data_files", "fs.table_versions",
    "store.files", "store.bytes_per_user_byte")

  def apply(s: Trace.Summary, counts: Map[String, Double], n: Int,
      wall: Double, gcS: Double, p50: Double): Seq[(String, Double, String)] = {
    val timed = Timed.map { case (m, span) =>
      (m, s.layer(span).map(l => Main.median(l.inclusive)).getOrElse(0.0), "s")
    }
    val cnt = Counts.map(k => (k, counts.getOrElse(k, 0.0),
      if (k.endsWith("_per_s")) "1/s" else if (k.endsWith("files") || k.endsWith("versions")) "count" else "ratio"))
    timed ++ cnt ++ Seq(
      ("spark.plan_s_per_op", s.planS / n, "s"),
      ("spark.codegen_compile_s_per_op", s.codegenS / n, "s"),
      ("spark.driver_gap_s_per_op", s.driverGapS / n, "s"),
      ("spark.jobs_per_op", s.jobs.toDouble / n, "count"),
      ("spark.tasks_per_op", s.tasks.toDouble / n, "count"),
      ("spark.executor_cpu_s_per_op", s.cpuS / n, "s"),
      ("spark.shuffle_bytes_per_op", s.shuffleBytes.toDouble / n, "bytes"),
      ("spark.spill_bytes_per_op", s.spillBytes.toDouble / n, "bytes"),
      ("jvm.gc_s_per_op", gcS / n, "s"),
      ("trace.ops_per_s", n / wall, "op/s"),
      ("trace.op_p50_s", p50, "s"))
  }
}
