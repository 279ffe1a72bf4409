package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Z-order layout: Morton-code math and the clustering write shape. */
class LayoutSpec extends SparkSuite {

  test("morton2 interleaves bits (x even positions, y odd)") {
    import spark.implicits._
    val r = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 5L), (65535L, 65535L))
      .toDF("x", "y")
      .select(col("x"), col("y"), Layout.morton2(col("x"), col("y")).as("z"))
      .collect().map(x => (x.getLong(0), x.getLong(1)) -> x.getLong(2)).toMap
    assert(r((0L, 0L)) == 0L)
    assert(r((1L, 0L)) == 1L)
    assert(r((0L, 1L)) == 2L)
    // x=3 -> bits 0,2 set (1|4=5); y=5 (101b) -> bits 1,5 set (2|32=34)
    assert(r((3L, 5L)) == 39L)
    assert(r((65535L, 65535L)) == (1L << 32) - 1)
  }

  test("clusterByZOrder gives each partition a tight box over BOTH keys") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_partkey", "l_suppkey")
    val parts = Layout.clusterByZOrder(li, "l_partkey", "l_suppkey", numFiles = 8)
      .withColumn("pid", spark_partition_id())
      .groupBy("pid")
      .agg(min("l_partkey").as("minp"), max("l_partkey").as("maxp"),
        min("l_suppkey").as("mins"), max("l_suppkey").as("maxs"),
        count(lit(1)).as("n"))
      .collect()
    assert(parts.length > 1)
    val stats = li.agg(min("l_partkey"), max("l_partkey"),
      min("l_suppkey"), max("l_suppkey")).head()
    val gpSpan = stats.getLong(1) - stats.getLong(0)
    val gsSpan = stats.getLong(3) - stats.getLong(2)
    // every z-ordered partition's bounding box must be a strict subset of
    // the global SPAN on at least one key — the property per-file stats
    // skipping relies on (a random layout gives every file the full span
    // on both keys; half the global span is a loose but layout-breaking
    // threshold)
    parts.foreach { r =>
      val pSpan = r.getAs[Long]("maxp") - r.getAs[Long]("minp")
      val sSpan = r.getAs[Long]("maxs") - r.getAs[Long]("mins")
      assert(pSpan <= gpSpan / 2 || sSpan <= gsSpan / 2,
        s"partition ${r.getAs[Int]("pid")} spans most of the range on both keys")
    }
  }
}
