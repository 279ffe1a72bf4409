package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scale levers for skewed and co-located workloads.
  *
  * AQE's skew-join split handles sort-merge skew adaptively at runtime;
  * these are the declarative fallbacks for when the skew is known ahead
  * of time (hot keys in a 100 TB fact table) or when a shuffle should not
  * exist at all (repeated joins on the same key → bucketing).
  */
object Scale {

  /** Fan a compute-heavy narrow input out to the session's full
    * parallelism WHEN its scan under-parallelizes — scale-adaptive, not
    * a constant: a corpus of thousands of splits (the 100 TB case)
    * passes through untouched (the gate never fires, no shuffle is
    * added), while a corpus whose scan yields fewer partitions than the
    * cluster has cores (one small file, one unsplittable row group — the
    * shape every sf0.x gate corpus has) pays one tiny hash exchange of
    * the NARROW input so the expensive per-row work downstream (gram
    * hashing, window md5, token explode) runs on every core instead of
    * serializing into the scan's single task. Hash-partitioned on `key`
    * (deterministic under task retry — no round-robin), explicit
    * numPartitions so AQE does not re-coalesce it away by byte size:
    * the whole point is that the downstream cost is CPU, which AQE's
    * byte-based coalescing cannot see. */
  private[graft] def fanOutForCompute(df: DataFrame, key: Column*): DataFrame = {
    // streaming frames have no .rdd and their micro-batches are already
    // planned per-trigger — pass through untouched
    if (df.isStreaming) return df
    // width: BOUNDED spread, not full parallelism. The gate only fires
    // on under-split (small) inputs, where each extra task costs a
    // measured ~85 ms of fixed CPU (task setup + operator buffers —
    // profiled at sf0.1: the same pair-join pipeline cost 5.8 core-s at
    // width 1, 9.0 at width 8, 19.8 at width 32, with width 8 already
    // capturing the whole wall-clock win). 8-way bounds that overhead
    // at ~0.7 core-s while cutting a multi-second serial pass to ~1/8;
    // wider only trades CPU for nothing once the serial remainder is
    // sub-100 ms. Clamped by defaultParallelism for small machines.
    val target = math.min(df.sparkSession.sparkContext.defaultParallelism, 8)
    // probe via toRdd, not df.rdd (r21 verdict #7): .rdd appends a
    // row-DESERIALIZER plan node to the subtree and pays its codegen
    // just to read a partition count; toRdd asks the same physical plan
    // for the same count without the extra node. (The subtree is still
    // planned once for the probe — the count genuinely requires file
    // splitting — but nothing beyond it.)
    if (df.queryExecution.toRdd.getNumPartitions >= target) df
    else df.repartition(target, key: _*)
  }

  /** Skew-safe inner equi-join: the skewed (large) side is salted
    * deterministically, the other side is replicated `factor`× — hot keys
    * spread over `factor` tasks instead of one straggler. Semantics are
    * exactly an inner join on `keys`; only the physical distribution
    * changes. Use when one side is small enough to replicate (but too big
    * or too skewed to broadcast whole). */
  def saltedJoin(
      skewed: DataFrame,
      other: DataFrame,
      keys: Seq[String],
      factor: Int = 8): DataFrame = {
    require(factor > 0, "salt factor must be positive")
    val salted = skewed.withColumn("__salt", saltOf(skewed, factor))
    val replicated = other.withColumn("__salt",
      explode(sequence(lit(0), lit(factor - 1))))
    salted.join(replicated, keys :+ "__salt").drop("__salt")
  }

  /** Salt: hash of the whole row MIXED WITH the input partition id —
    * no RNG. The partition id matters for the degenerate hot key made
    * of BYTE-IDENTICAL rows (the common shape: a log table whose top
    * key repeats one payload): a row-hash-only salt maps all of them to
    * ONE salt value and the straggler survives salting; mixing the
    * partition id spreads them across however many input partitions
    * carry the key.
    *
    * Fault-tolerance note: `spark_partition_id` is a NONDETERMINISTIC
    * expression, which marks the producing map stage INDETERMINATE —
    * upstream row→partition mappings that shift under recomputation
    * (round-robin repartition, coalesce over a nondeterministic source)
    * could otherwise re-salt recomputed rows inconsistently with
    * already-fetched reducer state. Spark's scheduler handles exactly
    * this (SPARK-25341): a fetch failure in an indeterminate stage
    * re-runs the WHOLE stage, not just lost tasks, so output stays
    * consistent at the cost of a wider retry. */
  private[graft] def saltOf(df: DataFrame, factor: Int): Column = {
    // hash only the HASHABLE columns: xxhash64 rejects MapType ANYWHERE
    // in a column's type tree (top-level, struct field, array element)
    // at analysis time, and a payload map riding the skewed side must
    // not fail a join it plays no role in salting (any column subset
    // spreads byte-identical rows once the partition id is mixed in)
    def hasMap(dt: org.apache.spark.sql.types.DataType): Boolean = {
      import org.apache.spark.sql.types._
      dt match {
        case _: MapType => true
        case s: StructType => s.fields.exists(f => hasMap(f.dataType))
        case a: ArrayType => hasMap(a.elementType)
        case _ => false
      }
    }
    val hashable = df.schema.fields.toIndexedSeq
      .filter(f => !hasMap(f.dataType))
      .map(f => col(f.name))
    pmod(xxhash64((hashable :+
      spark_partition_id().cast("long")): _*), lit(factor)).cast("int")
  }

  /** Top-k heavy hitters per group without funneling any group through a
    * single task: partial top-k per (group, hash-slice of the value),
    * then final top-k over the ≤ slices·k survivors. */
  def heavyHitters(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      k: Int,
      slices: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = df.groupBy(col(groupCol), col(valueCol))
      .agg(count(lit(1)).as("n"))
    val sliced = counts.withColumn("__slice",
      pmod(xxhash64(col(valueCol)), lit(slices)))
    val w1 = Window.partitionBy(groupCol, "__slice")
      .orderBy(col("n").desc, col(valueCol).asc)
    val partial = sliced.withColumn("__r", row_number().over(w1))
      .filter(col("__r") <= k)
    val w2 = Window.partitionBy(groupCol)
      .orderBy(col("n").desc, col(valueCol).asc)
    partial.withColumn("rank", row_number().over(w2)).filter(col("rank") <= k)
      .select(col(groupCol), col(valueCol), col("n"), col("rank"))
  }

  /** Write a table bucketed+sorted on its join key: subsequent equi-joins
    * between tables bucketed the same way need NO shuffle (bucket-local
    * sort-merge). The standard answer to "this join runs every hour on
    * the same key". */
  def writeBucketed(
      df: DataFrame,
      tableName: String,
      bucketCol: String,
      numBuckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(numBuckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(tableName)
}
