package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan

/** Physical-plan shape assertions: the properties that make these
  * operators survive a 100×-1000× scale-up — filter/projection pushdown
  * into the parquet scan, broadcast joins for small dims, partial
  * aggregation, top-k instead of global sort. */
class PlanSpec extends SparkSuite {

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("filter pushdown reaches the parquet scan") {
    val p = formatted(Queries.qFilterPushdown(spark, sf))
    assert(p.contains("PushedFilters"))
    assert(p.contains("EqualTo(p_type,ECONOMY)"), p)
    assert(p.contains("GreaterThanOrEqual(p_size,10)"), p)
  }

  test("projection pruning: arithmetic query reads only the 6 needed columns") {
    // the pre-checkpoint projection: qProjArith materializes before its
    // global sort (r21 — range-sampler double-compute), so the scan the
    // pruning contract covers lives in this subplan, not the final frame
    val p = formatted(Queries.projArithProjected(spark, sf))
    val readSchema = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(readSchema.contains("l_orderkey"))
    assert(!readSchema.contains("l_shipdate"), readSchema)
    assert(!readSchema.contains("l_returnflag"), readSchema)
  }

  test("listing never reads the data column (payload prune)") {
    import graft.core.{DatasetCatalog, GlobalPath}
    import java.nio.file.Files
    val root = Files.createTempDirectory("planspec").toString
    Files.write(java.nio.file.Paths.get(s"$root/f.txt"), "x".getBytes)
    val fs = graft.fs.CdlFs.open(spark, DatasetCatalog(),
      GlobalPath.parse(s"$root/ds").toOption.get)
    graft.fs.Ingest.run(fs, root)
    val p = formatted(fs.readDirAll())
    val readSchema = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!readSchema.contains("data"), readSchema)
    // sorted in one partition: no range sort, whose sampler re-runs the scan
    assert(!planOf(fs.readDirAll()).contains("rangepartitioning"), p)
  }

  test("read_dir prunes partitions on a partitioned table") {
    import graft.core.{DatasetCatalog, GlobalPath}
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("prunespec").toString
    Files.createDirectories(Paths.get(s"$root/tree/deep/x"))
    Files.write(Paths.get(s"$root/tree/top.txt"), "t".getBytes)
    Files.write(Paths.get(s"$root/tree/deep/x/inner.txt"), "i".getBytes)
    val fs = graft.fs.CdlFs.open(spark, DatasetCatalog(),
      GlobalPath.parse(s"$root/ds").toOption.get)
    graft.fs.Ingest.run(fs, s"$root/tree")
    val p = formatted(fs.readDir("/deep/x"))
    val pf = p.linesIterator.filter(_.contains("PartitionFilters")).mkString
    assert(pf.contains("p0"), p)
    assert(!planOf(fs.readDir("/deep/x")).contains("rangepartitioning"), p)
    assert(fs.readDir("/deep/x").collect().map(_.getAs[String]("name")).toSeq ==
      Seq("inner.txt"))
  }

  test("small-dim joins broadcast (no shuffle of the fact side)") {
    val p = planOf(Queries.qJoinBroadcast(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("top-k compiles to TakeOrderedAndProject, not a global sort") {
    val p = planOf(Queries.qTopkOrders(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("aggregation is partial+final (map-side combine)") {
    val p = planOf(Queries.q1PricingSummary(spark, sf))
    assert(p.contains("partial_sum") || p.contains("partial_"), p)
  }

  test("whole-stage codegen covers the scan->project pipeline") {
    // AQE finalizes the physical plan only on execution; the
    // pre-checkpoint projection carries the scan->project pipeline
    // (see the pruning test above for why not the final frame)
    val df = Queries.projArithProjected(spark, sf)
    df.collect() // executes df's own QueryExecution so AQE finalizes it
    val p = formatted(df)
    assert(p.contains("codegen id"), p) // WholeStageCodegen stage markers
  }

  test("semi/anti joins plan as join types, not subquery re-scans") {
    assert(planOf(Queries.qJoinSemi(spark, sf)).contains("LeftSemi"))
    assert(planOf(Queries.qJoinAnti(spark, sf)).contains("LeftAnti"))
  }

  test("random access never funnels the table into one partition") {
    // the old shape was row_number() OVER (ORDER BY …) — an Exchange
    // SinglePartition followed by a partition-less WindowExec; the
    // two-pass ordinal keeps every stage distributed
    val df = Queries.qRandomAccess(spark, sf)
    df.collect() // AQE finalizes on execution
    val p = formatted(df)
    assert(!p.contains("SinglePartition"), p)
  }

  test("take on a stamped table is a stats-prunable filter, no window") {
    import graft.core.{DatasetCatalog, GlobalPath}
    import java.nio.file.Files
    val root = Files.createTempDirectory("takespec").toString
    Files.write(java.nio.file.Paths.get(s"$root/a.txt"), "aa".getBytes)
    Files.write(java.nio.file.Paths.get(s"$root/b.txt"), "bb".getBytes)
    val fs = graft.fs.CdlFs.open(spark, DatasetCatalog(),
      GlobalPath.parse(s"$root/ds").toOption.get)
    graft.fs.Ingest.run(fs, root)
    val df = fs.take(Seq(1L), Seq("name"))
    val p = formatted(df)
    assert(!p.contains("Window"), p)
    assert(!p.contains("SinglePartition"), p)
    // the row_id predicate reaches the parquet scan (row-group pruning)
    assert(p.contains("row_id"), p)
    assert(p.linesIterator.filter(_.contains("PushedFilters"))
      .mkString.contains("row_id"), p)
    assert(df.collect().map(_.getAs[String]("name")).toSeq == Seq("b.txt"))
  }

  test("ngram pair emission is a streamed join, never in-row HOF expansion") {
    // the r2 regression shape built every pair struct of a shingle group
    // inside ONE row via interpreted flatten(transform(…)) then exploded
    // — 6× slower and a single-row memory hazard at the df cap. Pin the
    // self-equi-join + partial-agg shape instead.
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p = planOf(graft.ops.Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.01))
    assert(!p.contains("flatten(transform"), p)
    assert(p.contains("Join"), p)
    assert(p.contains("partial_"), p)
    // r5: document frequency is a hash aggregate, not an unbounded-frame
    // window — the window form paid a full per-partition sort of every
    // exploded shingle (and pinned the corpus-sized frame in cache)
    assert(!p.contains("Window"), p)
  }

  test("q_random_access measures the product path: pruned row_id filter, no recompute") {
    val df = Queries.qRandomAccess(spark, sf)
    val p = formatted(df)
    assert(!p.contains("Window"), p)
    assert(p.linesIterator.filter(_.contains("PushedFilters"))
      .mkString.contains("row_id"), p)
  }

  test("sketch signatures are map-only projections (no Exchange)") {
    // minhash/simhash/winnowing are per-document reductions: the fused
    // codegen expressions keep them shuffle-free — at 100 TB this is the
    // difference between a scan and the pipeline's largest exchange
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    for (df <- Seq(
        graft.ops.Dedup.minhashSignatures(docs),
        graft.ops.Dedup.simhash(docs),
        graft.ops.TextAnalysis.winnowingSketch(docs))) {
      val p = planOf(df)
      assert(!p.contains("Exchange"), p)
    }
  }

  test("embedding near-dup: persisted bucket table reused, dedupe before scoring") {
    val df = Queries.qDedupEmbedding(spark, sf)
    val p = planOf(df)
    // the banded signature frame feeds BOTH self-join sides from ONE
    // materialization (re-aliased self-joins defeat ReuseExchange, so
    // the eager localCheckpoint is the sharing mechanism: both sides
    // scan the checkpointed RDD, recomputing nothing)
    assert(p.contains("ExistingRDD") || p.contains("InMemoryTableScan"), p)
    // bucket equi-join, never an all-pairs expansion
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
    // the exact cosine is computed BELOW the pair-dedupe aggregate —
    // map-side, while both vectors are in hand from the bucket join —
    // so the dedupe exchange moves (id, id, cosine) rows, never
    // vectors: in the top-down plan string the aggregate precedes the
    // scoring projection, and no vector column rides the exchange
    val cos = p.indexOf("cosine_sim")
    val agg = p.indexOf("Aggregate")
    assert(cos >= 0 && agg >= 0 && agg < cos, p)
    val exchangeLines = p.linesIterator.filter(_.contains("Exchange hashpartitioning(id_a")).mkString
    assert(!exchangeLines.contains("vec"), exchangeLines)
    // the perturbed-copy branch prunes at the scan — pinned on the
    // derived-corpus subplan, which the signature checkpoint job
    // executes (it is below the eager localCheckpoint, so it no longer
    // prints in the final frame's plan)
    val corpus = formatted(Queries.embeddingGateCorpus(spark, sf))
    assert(corpus.contains("LessThan(vec_id,25)"), corpus)
  }

  test("near-dup exact verify uses the fused intersection count") {
    // regression guard: the interpreted size(array_intersect(...)) form
    // materializes the common-element array per candidate pair in the
    // post-blocking hot loop
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p = planOf(graft.ops.Dedup.minhashLshNearDupPairs(docs, n = 3, threshold = 0.8))
    assert(p.contains("array_intersect_count"), p)
    assert(!p.contains("array_intersect("), p)
  }

  test("z-order clustering is exactly one range exchange on the Morton key") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_orderkey", "l_partkey", "l_suppkey")
    val p = planOf(graft.ops.Layout.clusterByZOrder(li, "l_partkey", "l_suppkey", 8))
    assert(p.contains("rangepartitioning"), p)
    // one exchange total: the sampling pass rides the range partitioner;
    // no extra shuffle, no join, no aggregation
    assert("Exchange".r.findAllIn(p).size == 1, p)
    assert(!p.contains("Join") && !p.contains("Aggregate"), p)
  }

  test("heavy hitters never funnels a group through one partition") {
    // the two-stage shape: partial top-k per (group, value-hash slice),
    // final top-k over ≤ slices·k survivors — a single global window
    // over raw counts would be Exchange SinglePartition at 100 TB
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val p = planOf(graft.ops.Scale.heavyHitters(li, "l_returnflag", "l_partkey", 5))
    assert(!p.contains("SinglePartition"), p)
    // both window passes keyed: group+slice first, then group
    assert(p.contains("__slice"), p)
  }

  test("ranking-window top-k plans as WindowGroupLimit, not full window materialization") {
    // the v3 fuzz family's `w <= k` filter must push into the window as
    // a group limit on BOTH sides of the shuffle (partial + final) — a
    // regression to ranking every row before filtering costs a full
    // sort+materialize per partition at 100 TB
    val p = planOf(FuzzQueries.queries("q_fuzz_win_3301")(spark, sf))
    assert(p.contains("WindowGroupLimit"), p)
    assert("WindowGroupLimit".r.findAllIn(p).size >= 2, p)
  }

  test("set-op arms each push their own range to the scan") {
    // the nested half-range arms read disjoint row-group ranges; a lost
    // pushdown would scan the table twice in full
    val p = formatted(FuzzQueries.queries("q_fuzz_set_4001")(spark, sf))
    assert(p.contains("GreaterThanOrEqual(o_orderkey,700)"), p)
    assert(p.contains("GreaterThanOrEqual(o_orderkey,1050)"), p)
  }

  test("subquery arms plan as semi/anti joins with the outer filter pushed") {
    // the v4 fuzz family's IN/EXISTS render as LeftSemi and NOT IN/NOT
    // EXISTS as LeftAnti — never a full join materializing orders
    // columns — and the outer wide filter still reaches the lineitem
    // scan through the join (a lost pushdown reads the fact table in
    // full at 100 TB)
    val semi = planOf(FuzzQueries.queries("q_fuzz_sub_5006")(spark, sf))
    assert(semi.contains("LeftSemi"), semi)
    val anti = planOf(FuzzQueries.queries("q_fuzz_sub_5004")(spark, sf))
    assert(anti.contains("LeftAnti"), anti)
    val p = formatted(FuzzQueries.queries("q_fuzz_sub_5006")(spark, sf))
    assert(p.contains("PushedFilters") &&
      p.contains("GreaterThanOrEqual"), p)
  }

  test("rollup/cube plan as one Expand over a single scan, aggregated partially") {
    // multi-level grouping must be the Expand shape (one scan, one
    // grouping-set expansion, map-side partial aggregation) — not one
    // scan+aggregate per grouping set
    val p = planOf(FuzzQueries.queries("q_fuzz_roll_6000")(spark, sf))
    assert(p.contains("Expand"), p)
    assert("Scan parquet".r.findAllIn(p).size == 1, p)
    assert(p.contains("partial_count") || p.contains("partial"), p)
  }

  test("correlated-scalar arm plans as ONE window over a filtered scan") {
    // the v5 fuzz family must stay the window shape — one scan, the
    // wide filter pushed beneath the window, a single Window operator —
    // not a self-join decorrelation that scans lineitem twice
    val p = planOf(FuzzQueries.queries("q_fuzz_corr_7007")(spark, sf))
    assert(p.contains("Window"), p)
    assert("Scan parquet".r.findAllIn(p).size == 1, p)
    val f = formatted(FuzzQueries.queries("q_fuzz_corr_7007")(spark, sf))
    assert(f.contains("PushedFilters") && f.contains("GreaterThanOrEqual"), f)
  }

  test("salted join spreads the key space: salt rides the join keys") {
    import org.apache.spark.sql.functions.col
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_suppkey").as("s_suppkey"), col("l_quantity"))
    val supp = spark.read.parquet(s"$sf/supplier.parquet")
      .select("s_suppkey", "s_name")
    val p = planOf(graft.ops.Scale.saltedJoin(li, supp, Seq("s_suppkey")))
    // the equi-join condition includes the deterministic salt column, so
    // a hot s_suppkey hashes to `factor` distinct partitions
    assert(p.contains("__salt"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
  }
}
