package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** A fixed sample of the stateless query battery (`SparkEntry.queries`)
  * over the generated sf 0.01 tables: one graft.Queries operator built on
  * a graft.functions expression, one TPC-H query from graft.Tpch and one
  * generated query from graft.FuzzQueries. None of them touches
  * a persisted store or a rootfs table. A timed run forces the query
  * through a `noop` sink, as graft.Bench does.
  *
  * `writeChecks` writes every query's result to `<dir>/<query>` and the
  * queries' DuckDB oracle SQL to `<dir>/oracle_sql.json`; the runner
  * compares them on the same tables with the repository's oracle gate
  * (scripts/verify_local.py).
  */
final class Battery(spark: SparkSession, tables: Path) {
  val Sample: Seq[String] = Seq("q_embedding_norm", "tpch_q14", "q_fuzz_pct_18008")

  def family(q: String): String =
    if (q.startsWith("tpch_")) "tpch" else if (q.startsWith("q_fuzz")) "fuzz" else "operators"

  def run(q: String): Unit =
    Trace.span("battery." + family(q)) {
      SparkEntry.queries(q)(spark, tables.toString)
        .write.format("noop").mode("overwrite").save()
      spark.catalog.clearCache()
    }

  def writeChecks(dir: Path): Unit = {
    Files.createDirectories(dir)
    Sample.foreach { q =>
      SparkEntry.queries(q)(spark, tables.toString)
        .coalesce(1).write.mode("overwrite").parquet(dir.resolve(q).toString)
      spark.catalog.clearCache()
    }
    def js(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    Files.writeString(dir.resolve("oracle_sql.json"), Sample
      .map(q => s"${js(q)}: ${js(SparkEntry.oracleSql(q))}").mkString("{", ",", "}"))
  }
}
