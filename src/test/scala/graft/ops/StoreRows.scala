package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The live rows of one table of a store, read the way the store's own
  * cycles read it: through its manifest's layout, with the pinned schema,
  * pointer-resolved, without a sweep. */
object StoreRows {
  def apply(spark: SparkSession, storeDir: String,
      rel: String = ""): (DataFrame, Boolean) = {
    val mf = IncrementalDedup.storeManifest(spark, storeDir)
    val layout = StoreLayout.of(mf).getOrElse(sys.error(s"$storeDir: no known layout"))
    layout.tables.find(_.rel == rel)
      .getOrElse(sys.error(s"$storeDir: no table '$rel'"))
      .readRaw(spark, storeDir, mf)
  }
}
