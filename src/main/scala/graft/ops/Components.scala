package graft.ops

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Connected components over a near-dup pair graph — the clustering step
  * a production dedup pipeline runs AFTER pair generation: each duplicate
  * cluster keeps one representative. The component id IS the
  * representative (the cluster's minimum doc id), so "keep one per
  * cluster" is a `doc_id === component` filter downstream.
  *
  * Algorithm: iterative min-label propagation with pointer jumping,
  * kept in DataFrame land. `label(v)` starts at `v`; each round first
  * lowers it to the min over v and its neighbors (reach +1), then
  * shortcuts through the label's own label (`label(v) :=
  * label(label(v))`, roughly doubling accumulated reach) — so rounds
  * needed are O(log diameter), the same asymptotic as alternating-star
  * contraction but with two plain equi-joins per round and no edge
  * rewriting. On a billion-edge 100 TB pair graph that bound matters;
  * on the near-clique clusters dedup actually produces, the fused
  * init (label₀ = min over the 1-hop neighborhood) already IS the
  * fixpoint and one confirming round ends the loop — three shuffles
  * total. Each round shuffles only (id, label) longs — document
  * payloads never enter the graph — and lineage is truncated every
  * round (`localCheckpoint` by default, a reliable parquet round-trip
  * on request — see `ofPairs`) so plan depth and re-planning cost stay
  * O(1) across iterations. Convergence is detected by an `observe`
  * metric computed DURING the round's checkpoint materialization —
  * one Spark action per round, no separate probe job.
  */
object Components {

  /** Per-vertex component assignment for the undirected graph given by
    * `pairs`. Only vertices that appear in a pair are labeled —
    * singletons are their own trivial cluster and don't need clustering.
    * Throws after `maxIter` rounds without convergence (a pathological
    * chain graph) rather than returning silently wrong labels.
    *
    * Fault tolerance: by default each round truncates lineage with
    * `localCheckpoint` — executor-local blocks, fast, but UNRECOVERABLE
    * if an executor is lost mid-fixpoint (the truncated lineage cannot
    * be recomputed). That is the right trade on a single node or for
    * short jobs; on a 1000-executor cluster where the fixpoint may
    * outlive an executor, pass `checkpointDir` (an HDFS/S3 path) to
    * write each round's label table to the shared store as parquet
    * instead — it survives any executor loss, at the cost of one
    * distributed write per round (the table is (long, long) pairs, tiny
    * next to the edge shuffle it rides with). The round-trip is managed
    * HERE, not via `SparkContext.setCheckpointDir` — no global state is
    * clobbered, and each round's table is DELETED once the next round
    * is durably written, so the store holds at most two label tables at
    * any instant. The final table backs the returned frame: the caller
    * owns `checkpointDir`'s lifecycle and deletes it after consuming
    * the result. */
  def ofPairs(
      pairs: DataFrame,
      aCol: String = "doc_a",
      bCol: String = "doc_b",
      maxIter: Int = 30,
      checkpointDir: Option[String] = None): DataFrame = {
    val spark = pairs.sparkSession
    var roundId = 0
    var prevTable: Option[org.apache.hadoop.fs.Path] = None
    val ckpt: DataFrame => DataFrame = checkpointDir match {
      case Some(dir) =>
        df => {
          val path = new org.apache.hadoop.fs.Path(dir, s"labels-$roundId")
          roundId += 1
          df.write.mode("overwrite").parquet(path.toString)
          val back = spark.read.parquet(path.toString)
          // the new table is durable; the previous round's is now dead
          prevTable.foreach { p =>
            p.getFileSystem(spark.sparkContext.hadoopConfiguration)
              .delete(p, true)
          }
          prevTable = Some(path)
          back
        }
      case None => df => df.localCheckpoint()
    }
    // both directions from ONE evaluation of `pairs`: the former
    // edges ∪ edges.reversed union duplicated the (possibly expensive,
    // un-checkpointed) pair plan into both branches — the whole pair
    // generation ran twice during the persist's materialization. The
    // explode emits the two orientations from a single pass instead.
    //
    // NOT pre-partitioned on `src` (r21 A/B, measured and rejected):
    // hash-repartitioning sym once at the session's shuffle parallelism
    // would let every round's propagation join reuse the persisted
    // layout instead of re-shuffling the edge table (guide §2.4), and
    // on paper that wins at scale — but the paired bench LOST it:
    // q_dedup_clusters_incremental warm 7.1–7.6 s / 27 process-core-s
    // unpartitioned vs 8.5–10.7 s / 62–66 core-s pre-partitioned at
    // 32 partitions (3 runs each, back-to-back). The pinned-width
    // exchange spreads the fixpoint's tiny per-round stages over 32
    // fixed-cost tasks and more than doubles process CPU; AQE's
    // byte-sized shuffles of the persisted (src,dst) longs are cheaper
    // at every gate size. A deployment whose edge table is large
    // enough to flip this trade should bucket the PAIR SOURCE instead
    // (Scale.writeBucketed) — the fixpoint inherits the layout without
    // a pinned in-flight exchange.
    val sym = pairs.select(explode(array(
        struct(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst")),
        struct(col(bCol).cast("long").as("src"), col(aCol).cast("long").as("dst"))))
        .as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // fused init: label₀(v) = min(v, min over neighbors) — the vertex
    // listing has to aggregate over the edge table anyway, so the first
    // propagation step rides the same shuffle for free. On the
    // near-clique graphs dedup produces this IS the fixpoint, and the
    // loop below only confirms it (one round, no jump).
    var labels = sym.groupBy(col("dst").as("v")).agg(min("src").as("m"))
      .select(col("v"), least(col("v"), col("m")).as("component"))
      .transform(ckpt)
    var iter = 0
    var done = false
    while (!done && iter < maxIter) {
      // 1. min label among neighbors: one shuffle to join labels onto
      //    edge sources, one partial-agg min per destination.
      val nbrMin = sym
        .join(labels.withColumnRenamed("v", "src"), "src")
        .groupBy(col("dst").as("v"))
        .agg(min("component").as("nbr"))
      // convergence ⇔ the propagation step lowered nothing: at that
      // fixpoint every edge joins equal labels, so labels are constant
      // per component and (being monotone ≥ the component min, which is
      // a fixed point of itself) equal to the component min. The count
      // of lowered labels is an `observe` metric collected DURING the
      // checkpoint's own materialization pass (labels only ever
      // decrease, so `<` is sufficient) — the probe costs no extra job.
      // The checkpoint itself is load-bearing beyond lineage: when not
      // converged BOTH sides of the pointer-jump self-join consume
      // `stepped`, and re-aliased self-joins defeat ReuseExchange.
      val obs = Observation(s"components_lowered_$iter")
      val stepped = labels.join(nbrMin, Seq("v"), "left")
        .select(col("v"), col("component").as("__prev"),
          least(col("component"), coalesce(col("nbr"), col("component")))
            .as("component"))
        .observe(obs,
          count(when(col("component") < col("__prev"), lit(1))).as("lowered"))
        .select("v", "component")
        .transform(ckpt)
      done = obs.get("lowered").asInstanceOf[Long] == 0L
      if (done) {
        labels = stepped
      } else {
        // 2. pointer jump: label(v) := label(label(v)) — labels point at
        //    vertices, so self-join the label table on the label value;
        //    roughly doubles accumulated reach → O(log diameter) rounds.
        //    Probing BEFORE the jump is safe (the jump is pure
        //    acceleration and can never lower a label the propagation
        //    fixpoint wouldn't), so a converged graph — including the
        //    common one-round near-clique case — never pays for a jump.
        val lbl = stepped.select(
          col("v").as("__u"), col("component").as("__ulabel"))
        labels = stepped
          .join(lbl, col("component") === col("__u"), "left")
          .select(col("v"),
            least(col("component"), coalesce(col("__ulabel"), col("component")))
              .as("component"))
          .transform(ckpt)
      }
      iter += 1
    }
    sym.unpersist()
    if (!done) throw new IllegalStateException(
      s"components did not converge within $maxIter rounds — " +
        "graph diameter exceeds the bound; raise maxIter")
    labels
  }
}
