package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line with per-query seconds.
  *
  * Each query is forced through a `noop` sink — a plain count() lets
  * Catalyst prune every computed column and would time the parquet
  * row-count path instead of the operator. local[32] to match the
  * driver's bench spec.
  *
  * Instrumentation (r5): per-query numbers alone cannot distinguish a
  * real operator regression from harness noise, so every query also
  * records
  *  - `gc_sec`: JVM GC time accrued DURING the query (GarbageCollector
  *    MXBean delta) — a query whose wall clock is mostly GC inherited
  *    dead garbage, it didn't get slower;
  *  - `probe_sec`: an interleaved host-contention probe (a fixed small
  *    codegen sum) run after each query — one end-of-run calibration
  *    sample cannot see mid-run contention spikes;
  *  - `cpu_sec` (r8): process CPU seconds consumed DURING the query —
  *    the between-queries probe cannot see a burst inside one; this
  *    can. Contention: wall up, cpu flat. Regression: both up.
  * Between queries the harness clears the cache and runs an explicit
  * System.gc() (outside any timed section) so garbage from query N is
  * never charged to query N+1.
  *
  * The full JSON (all per-query maps) is written to BENCH_local.json —
  * the auditable artifact, rewritten by the driver's own run so the
  * round's artifact commit carries the complete map. Stdout gets a
  * COMPACT headline line instead (r15 verdict #9: the 24 KB full line
  * wrapped in the driver's log capture, leaving a mid-JSON fragment and
  * a null parse in BENCH_r{N}.json): totals, calibration keys, the ten
  * most expensive queries, and a `queries_file` pointer.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import scala.jdk.CollectionConverters._
    def gcMillis: Long = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    // process CPU seconds: the contention/regression discriminator the
    // r7 postmortem lacked. A host-contention burst inflates wall-clock
    // while the JVM's own CPU consumption stays flat; a code regression
    // grows BOTH. (The interleaved probe runs BETWEEN queries and cannot
    // see a burst during one — this counter accrues during it.)
    def cpuNanos: Long = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime
    // corpus-drift preflight (untimed): a regenerated corpus whose
    // column types drifted past the dispatch surface should say so
    // HERE, by name, not as a smear of per-query failures below
    SchemaContract.report(spark, sfDir)
    // untimed warmup: JIT/codegen + parquet footer caches, so the first
    // timed query isn't charged for session startup
    try SparkEntry.queries("q_topk_orders")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    // untimed setup: one-time index builds — the timed queries measure
    // the product paths (persistent stamp + stats-pruned filter; IVF
    // partition-pruned probe), not index construction
    try Queries.prepareRandomAccess(spark, sfDir)
    catch { case _: Throwable => () }
    try Queries.prepareIvfIndex(spark, sfDir)
    catch { case _: Throwable => () }
    // fixed pure-codegen contention probe, independent of this library;
    // small enough (~30 ms quiet) to interleave after every query
    def probe(): Double = {
      val t0 = System.nanoTime()
      spark.range(20000000L)
        .agg(org.apache.spark.sql.functions.sum("id")).collect()
      (System.nanoTime() - t0) / 1e9
    }
    // PRE-battery calibration sample (untimed, r21 verdict #6): the
    // end-of-run probes can miss contention that was present at the
    // start; sampling the same fixed codegen workload here lets the
    // artifact self-describe a contended host from either end
    val preCalib = {
      val t0 = System.nanoTime()
      spark.range(200000000L)
        .agg(org.apache.spark.sql.functions.sum("id")).collect()
      (System.nanoTime() - t0) / 1e9
    }
    final case class Sample(sec: Double, gcSec: Double, probeSec: Double,
        cpuSec: Double)
    def timeOne(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Sample = {
      val gc0 = gcMillis
      val cpu0 = cpuNanos
      val t0 = System.nanoTime()
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
      }
      val dt = (System.nanoTime() - t0) / 1e9
      val cpuDt = (cpuNanos - cpu0) / 1e9
      val gcDt = (gcMillis - gc0) / 1e3
      // inter-query hygiene, all OUTSIDE the timed section: drop the
      // operator's persisted intermediates (queries are measured
      // independently) and collect the garbage they became — otherwise
      // the NEXT query's first allocation stall pays for it
      spark.catalog.clearCache()
      System.gc()
      Sample(dt, gcDt, probe(), cpuDt)
    }
    // single-shot per query: exactly what the grading driver measures.
    // (Best-of-N de-noising was removed — it masked real regressions and
    // made the private numbers incomparable to the driver's.)
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> timeOne(name, fn)
    }
    // host-contention calibration: the historical end-of-run sample (sum
    // over a 2e8 range; solo-host time recorded in BASELINE.md §2). A run
    // reporting k× that time ran on a host ~k× contended, scaling the
    // total the same way — making totals comparable across runs/hosts.
    val calib = {
      val t0 = System.nanoTime()
      spark.range(200000000L)
        .agg(org.apache.spark.sql.functions.sum("id")).collect()
      (System.nanoTime() - t0) / 1e9
    }
    // scan-bound calibration twin: the codegen probe is CPU-only, and a
    // round-7 closing run showed diffuse 20-30% inflation on scan-bound
    // queries with CPU probes quiet — storage-side contention is
    // invisible to it. This fixed parquet aggregate (footer + column
    // scan of lineitem) moves with the storage path instead; compare
    // BOTH probes before attributing a slow run to code.
    val ioCalib = {
      val t0 = System.nanoTime()
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .agg(org.apache.spark.sql.functions.sum("l_quantity")).collect()
      (System.nanoTime() - t0) / 1e9
    }
    def jmap(f: Sample => Double): String = results
      .map { case (k, s) => "\"" + k + "\":" + f(s) }.mkString("{", ",", "}")
    val total = results.map(_._2.sec).sum
    // headline subtotal for the named TPC-H suite (VERDICT r12 #1)
    val tpchTotal =
      results.filter(_._1.startsWith("tpch_")).map(_._2.sec).sum
    // store-lifecycle gate subtotal (r18 verdict #8): these gates run
    // LOCKED persisted-store mutation cycles (build + incremental
    // batches + retraction-capable swaps) inside the timed section —
    // roughly half the battery's wall and the noisiest class. Splitting
    // them out means a pure-SQL regression can't hide under store-cycle
    // variance (and vice versa) without calibration arithmetic.
    val storeGateNames = Set("q_bm25_index", "q_dedup_incremental",
      "q_dedup_incremental_embedding", "q_dedup_incremental_ngram",
      "q_dedup_incremental_simhash", "q_dedup_clusters_incremental",
      "q_span_dedup_incremental")
    val storeGatesTotal =
      results.filter(r => storeGateNames(r._1)).map(_._2.sec).sum
    // quiet-host detector (r21 verdict #6, ADDITIVE keys only): the
    // recorded quiet bands on this host are calibration ≈ 0.20–0.38 s
    // and io_calibration ≈ 0.12–0.17 s (BASELINE.md); a probe past
    // ~1.5× the band's top means the run shared the host and its totals
    // need calibration arithmetic before any round-over-round verdict
    val contended =
      calib > 0.45 || preCalib > 0.45 || ioCalib > 0.25
    val extraKeys =
      s""""pre_calibration_sec":$preCalib,"contended":$contended"""
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","tpch_total_sec":$tpchTotal,"store_gates_sec":$storeGatesTotal,"queries":${jmap(_.sec)},"gc_sec":${jmap(_.gcSec)},"probe_sec":${jmap(_.probeSec)},"cpu_sec":${jmap(_.cpuSec)},"calibration_sec":$calib,"io_calibration_sec":$ioCalib,$extraKeys,"sf":"$sfDir"}"""
    // The FULL artifact (per-query sec/gc/probe/cpu maps) goes to the
    // file; stdout carries the headline plus the complete sec-only
    // per-query map (r16 verdict #7). The r15 wrap failure was the 24 KB
    // four-map line; sec-only is ~8 KB and survives the driver's log
    // capture. `queries_file` still points at the full diagnostic maps.
    try {
      val out = java.nio.file.Paths.get("BENCH_local.json")
      java.nio.file.Files.write(out, json.getBytes("UTF-8"))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write BENCH_local.json: ${e.getMessage}")
    }
    // r16 verdict #7: the stdout line now carries the FULL per-query sec
    // map (~8 KB — the r15 wrap problem was the 24 KB four-map line; the
    // sec-only map survives the driver's line buffer), so BENCH_r{N}.json
    // is self-contained. The gc/probe/cpu diagnostic maps stay file-only.
    println(
      s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"tpch_total_sec":$tpchTotal,"store_gates_sec":$storeGatesTotal,"calibration_sec":$calib,"io_calibration_sec":$ioCalib,$extraKeys,"queries":${jmap(_.sec)},"queries_file":"BENCH_local.json","sf":"$sfDir"}""")
    spark.stop()
  }
}
