package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Multimodal, Similarity, TextAnalysis}

/** The operator-inventory queries (SURVEY §2) over the driver test tables.
  *
  * Conventions shared with the DuckDB oracles (Oracles.scala):
  *  - every query ends in a deterministic total ORDER BY;
  *  - double aggregates are round()ed (2 for money, 4 for ratios) so
  *    summation-order fp noise can't flip a hash;
  *  - computed integers are cast to BIGINT on both sides;
  *  - no raw timestamps in outputs — DATE or epoch milliseconds instead
  *    (sidesteps µs/ns and tz-encoding mismatches between engines).
  */
object Queries {

  /** One shutdown hook draining every registered scratch dir — repeated
    * per-call hook registration would accumulate unbounded hook threads
    * in a long-lived session. */
  private object TmpCleanup {
    private val dirs =
      new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()
    private lazy val installed: Unit =
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        dirs.forEach(d => { org.apache.hadoop.fs.FileUtil.fullyDelete(d); () })))
    def register(dir: java.nio.file.Path): Unit = {
      installed
      dirs.add(dir.toFile)
      ()
    }
  }

  /** Driver-tables' schemas never change within a process — cache them so
    * repeated reads skip the footer-inference job (a real per-query tax
    * when 60 bench queries each open 1-3 tables). */
  private val schemaCache =
    scala.collection.concurrent.TrieMap.empty[String, org.apache.spark.sql.types.StructType]

  def rd(s: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events")
      // events.ts may be TIMESTAMP(NANOS), which Spark 4 refuses unless
      // read as long. Harmless when the file carries micros instead —
      // `events` below dispatches on the type it actually got.
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$dir/$name.parquet"
    val schema = schemaCache.getOrElseUpdate(path, s.read.parquet(path).schema)
    s.read.schema(schema).parquet(path)
  }

  /** Epoch-ms expression for an events `ts` column, dispatched on the
    * type the file actually carries (the generator has shipped
    * TIMESTAMP(NANOS)→long, TIMESTAMP_NTZ(MICROS), and plain TIMESTAMP
    * across refreshes). Zone-INDEPENDENT in every branch: the NTZ arm
    * diffs against an NTZ epoch literal (naive-to-naive, no session-zone
    * cast — a non-UTC caller would otherwise get ts_ms shifted by its
    * offset and silently diverge from the DuckDB oracle), and integer
    * math throughout (ns epochs exceed 2^53; double division would lose
    * exactness). */
  def tsMsExpr(tsType: org.apache.spark.sql.types.DataType): org.apache.spark.sql.Column =
    tsType match {
      case org.apache.spark.sql.types.LongType => expr("ts div 1000000")
      case org.apache.spark.sql.types.TimestampNTZType =>
        expr("timestampdiff(MILLISECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
      case _ => unix_millis(col("ts"))
    }

  /** events with `ts_ms` (epoch milliseconds, exact integer math) — see
    * [[tsMsExpr]] for the per-encoding dispatch. */
  def events(s: SparkSession, dir: String): DataFrame = {
    val df = rd(s, dir, "events")
    df.withColumn("ts_ms", tsMsExpr(df.schema("ts").dataType))
  }

  /** Register temp views for SQL-form queries. */
  def views(s: SparkSession, dir: String, names: String*): Unit =
    names.foreach(n => rd(s, dir, n).createOrReplaceTempView(n))

  // ---------- Tier-A: rootfs operators (SURVEY §2.1-2.2) ----------
  // The rootfs table is derived deterministically from `documents` so the
  // DuckDB oracle can build the identical table in SQL.

  def docsAsRootfs(s: SparkSession, dir: String): DataFrame =
    rd(s, dir, "documents").select(
      concat(col("doc_id").cast("string"), lit(".txt")).as("name"),
      concat(lit("/"), col("source")).as("parent"),
      lit(420).as("mode"), // 0o644
      col("n_chars").as("size"),
      lit(0L).as("chunk_id"),
      lit(0L).as("chunk_offset"),
      col("n_chars").as("chunk_size"),
      col("text").cast("binary").as("data"))

  /** read_dir: one directory, files only, name-sorted, data BLANKED.
    * The raw operator returns BINARY `data`; the gate query hex-encodes it
    * (blank → '') because the driver's pandas compare cannot sort raw
    * bytes — the blank-binary invariant itself is asserted in CdlFsSpec. */
  def qReadDir(s: SparkSession, dir: String): DataFrame =
    docsAsRootfs(s, dir)
      .filter(col("parent") === "/src3" && col("size").isNotNull)
      .withColumn("data", lit(Array.emptyByteArray))
      .withColumn("data_hex", hex(col("data"))).drop("data")
      .orderBy(col("name").asc)

  /** read_dir_all: recursive listing, (parent, name)-sorted. */
  def qReadDirAll(s: SparkSession, dir: String): DataFrame =
    docsAsRootfs(s, dir)
      .filter(col("size").isNotNull)
      .withColumn("data", lit(Array.emptyByteArray))
      .withColumn("data_hex", hex(col("data"))).drop("data")
      .orderBy(col("parent").asc, col("name").asc)

  /** read_files_by_condition: arbitrary WHERE, full records w/ payloads
    * (hex-projected for the oracle hash — see qReadDir). */
  def qReadFilesCondition(s: SparkSession, dir: String): DataFrame = {
    docsAsRootfs(s, dir).createOrReplaceTempView("rootfs")
    s.sql("SELECT name, parent, mode, size, chunk_id, chunk_offset, " +
      "chunk_size, hex(data) AS data_hex FROM rootfs " +
      "WHERE name LIKE '1%.txt' AND size > 200 ORDER BY parent, name")
  }

  /** The reference's custom `len(BINARY)` function via our codegen alias. */
  def qLenUdf(s: SparkSession, dir: String): DataFrame = {
    graft.functions.Len.register(s)
    docsAsRootfs(s, dir).createOrReplaceTempView("rootfs")
    s.sql("SELECT parent, name, len(data) AS n_bytes FROM rootfs " +
      "WHERE size IS NOT NULL ORDER BY size DESC, name ASC LIMIT 10")
  }

  /** One-time ingest of the documents-derived rootfs into a stamped tmp
    * table, memoized per testdata dir. The write path re-stamps a dense
    * persistent `row_id` in (parent, name, chunk_id) order and records it
    * in the CommitLog — after this, random access is the PRODUCT path: a
    * plain filter whose parquet row-group stats prune the scan. Bench
    * calls this in its untimed setup (ingest is a one-time indexing cost,
    * like building any index); Verify pays it inside the first call. */
  private val rootfsTableCache =
    scala.collection.concurrent.TrieMap.empty[String, String]

  def prepareRandomAccess(s: SparkSession, dir: String): String =
    rootfsTableCache.getOrElseUpdate(dir, {
      val tmp = java.nio.file.Files.createTempDirectory("graft_rootfs_")
      // benches/CI re-run in fresh JVMs: without cleanup every run leaks
      // a parquet copy of the documents table into the system temp dir
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        org.apache.hadoop.fs.FileUtil.fullyDelete(tmp.toFile)
        ()
      }))
      val rows = docsAsRootfs(s, dir)
        .withColumn("atime", lit(null).cast("timestamp"))
        .withColumn("ctime", lit(null).cast("timestamp"))
        .withColumn("mtime", lit(null).cast("timestamp"))
      graft.fs.Ingest.writeRootfs(rows, tmp.toString)
      tmp.toString
    })

  /** Random access by row ordinal (the reference's Lance `take`) against
    * an INGESTED table: `row_id` is the persistent stamp written at
    * ingest, so the plan is scan → stats-pruned filter → project — no
    * sort, no window, no recomputation. (The unstamped-table fallback —
    * the two-pass distributed ordinal — is exercised in OrdinalSpec and
    * CdlFsSpec instead.) */
  def qRandomAccess(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(prepareRandomAccess(s, dir))
      .filter(col("row_id").isin(0L, 7L, 42L, 123L, 400L))
      .select(col("row_id"), col("parent"), col("name"), col("size"))
      .orderBy("row_id")

  // ---------- Tier-B: relational surface (SURVEY §2.3) ----------

  /** TPC-H Q1-shaped pricing summary: partial-agg-friendly hash aggregate. */
  def q1PricingSummary(s: SparkSession, dir: String): DataFrame =
    rd(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
          .as("sum_disc_price"),
        round(avg("l_quantity"), 4).as("avg_qty"),
        round(avg("l_discount"), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** Filter + projection that must reach the parquet scan as PushedFilters. */
  def qFilterPushdown(s: SparkSession, dir: String): DataFrame =
    rd(s, dir, "part")
      .filter(col("p_type") === "ECONOMY" && col("p_size").between(10, 30) &&
        col("p_name").like("%gear%"))
      .select("p_partkey", "p_name", "p_brand", "p_size")
      .orderBy("p_partkey")

  /** Pure projection arithmetic — whole-stage-codegen map. The
    * pre-checkpoint projection, exposed so PlanSpec can pin column
    * pruning and codegen AT the parquet scan (the checkpoint below
    * hides the scan from the final plan). */
  private[graft] def projArithProjected(s: SparkSession, dir: String): DataFrame =
    rd(s, dir, "lineitem").select(
      col("l_orderkey"), col("l_linenumber"),
      // rounding sits AT the exact decimal width of the product (2dp·2dp·2dp
      // = 6dp) — rounding below it (e.g. 2) lands on .xx5 ties where the two
      // engines' double reprs disagree
      round(col("l_extendedprice") * (lit(1) - col("l_discount")) *
        (lit(1) + col("l_tax")), 6).as("charge"),
      round(col("l_extendedprice") * col("l_discount"), 4).as("disc_amt"))

  /** [[projArithProjected]], totally ordered. Building the frame runs an
    * eager `localCheckpoint`: it executes the scan and projection, pins
    * the checkpoint blocks until the frame is garbage-collected, and
    * truncates lineage, so the frame cannot recompute after an executor
    * loss. */
  def qProjArith(s: SparkSession, dir: String): DataFrame =
    projArithProjected(s, dir)
      // materialize BEFORE the global sort (r21, guide §2.5): the range
      // partitioner's sampling pass executes the sort's child a second
      // time, and with no exchange between scan and sort that re-runs
      // the whole parquet scan + projection; the checkpoint makes the
      // sample+sort read cheap local blocks instead. Result-identical.
      .localCheckpoint()
      // (l_orderkey, l_linenumber) is NOT unique in the synthetic lineitem —
      // the computed columns break remaining ties so the order is total
      .orderBy("l_orderkey", "l_linenumber", "charge", "disc_amt")

  /** Small-dim joins: both dims broadcast — no shuffle of the fact side. */
  def qJoinBroadcast(s: SparkSession, dir: String): DataFrame =
    rd(s, dir, "customer")
      .join(broadcast(rd(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(rd(s, dir, "region")),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(count(lit(1)).as("n_cust"), round(sum("c_acctbal"), 2).as("acctbal"))
      .orderBy("r_name", "n_name")

  /** Fact-fact shuffle join (TPC-H Q3 shape): top revenue orders. */
  def qJoinShuffle(s: SparkSession, dir: String): DataFrame =
    rd(s, dir, "lineitem")
      .join(rd(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(rd(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .filter(col("c_mktsegment") === "BUILDING")
      .groupBy(col("o_orderkey"), col("o_custkey"),
        col("o_orderdate").cast("date").as("o_date"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
        .as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey").asc)
      .limit(10)

  def qJoinLeft(s: SparkSession, dir: String): DataFrame =
    rd(s, dir, "nation").as("n")
      .join(rd(s, dir, "customer").as("c"),
        col("n_nationkey") === col("c_nationkey"), "left")
      .groupBy("n_nationkey", "n_name")
      .agg(count(col("c_custkey")).as("n_cust"))
      .orderBy("n_nationkey")

  def qJoinFull(s: SparkSession, dir: String): DataFrame = {
    val c = rd(s, dir, "customer").groupBy(col("c_nationkey").as("nk"))
      .agg(count(lit(1)).as("n_cust"))
    val p = rd(s, dir, "supplier").groupBy(col("s_nationkey").as("nk"))
      .agg(count(lit(1)).as("n_supp"))
    c.join(p, Seq("nk"), "full_outer")
      .select(col("nk").as("nationkey"),
        coalesce(col("n_cust"), lit(0L)).as("n_cust"),
        coalesce(col("n_supp"), lit(0L)).as("n_supp"))
      .orderBy("nationkey")
  }

  def qJoinSemi(s: SparkSession, dir: String): DataFrame =
    rd(s, dir, "customer")
      .join(rd(s, dir, "orders").filter(col("o_totalprice") > 400000),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")

  def qJoinAnti(s: SparkSession, dir: String): DataFrame =
    rd(s, dir, "customer")
      .join(rd(s, dir, "orders").filter(col("o_totalprice") > 480000),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")

  def qJoinCross(s: SparkSession, dir: String): DataFrame =
    rd(s, dir, "region").crossJoin(rd(s, dir, "nation"))
      .groupBy("r_name").agg(count(lit(1)).as("n"))
      .orderBy("r_name")

  def qAggDistinct(s: SparkSession, dir: String): DataFrame =
    rd(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(countDistinct(col("l_suppkey")).as("n_supp"),
        countDistinct(col("l_partkey")).as("n_part"),
        count(lit(1)).as("n_rows"))
      .orderBy("l_returnflag")

  def qRollup(s: SparkSession, dir: String): DataFrame =
    rd(s, dir, "orders")
      .rollup("o_orderstatus", "o_orderpriority")
      .agg(grouping_id().cast("long").as("g"),
        count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .orderBy("g", "o_orderstatus", "o_orderpriority")

  def qCube(s: SparkSession, dir: String): DataFrame =
    rd(s, dir, "lineitem")
      .cube("l_returnflag", "l_linestatus")
      .agg(grouping_id().cast("long").as("g"),
        round(sum("l_quantity"), 2).as("sum_qty"))
      .orderBy("g", "l_returnflag", "l_linestatus")

  def qGroupingSets(s: SparkSession, dir: String): DataFrame = {
    views(s, dir, "orders")
    s.sql(
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(grouping(o_orderstatus)*2 + grouping(o_orderpriority) AS BIGINT) AS g,
        |  COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS total
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY g, o_orderstatus, o_orderpriority""".stripMargin)
  }

  def qWindowRownum(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    rd(s, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("o_orderkey"),
        round(col("o_totalprice"), 2).as("price"), col("rn"))
      .orderBy("o_custkey", "rn")
  }

  def qWindowRunning(s: SparkSession, dir: String): DataFrame = {
    // (l_orderkey, l_linenumber) is NOT unique in this data — the window
    // order carries enough tiebreakers to be total, else the running sum is
    // nondeterministic across engines.
    val w = Window.partitionBy("l_orderkey")
      .orderBy(col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
        col("l_extendedprice"), col("l_quantity"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rd(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        round(sum("l_quantity").over(w), 2).as("running_qty"))
      .orderBy("l_orderkey", "l_linenumber", "running_qty")
  }

  def qWindowLag(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    rd(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        coalesce(lag(round(col("o_totalprice"), 2), 1).over(w), lit(-1.0)).as("prev_price"),
        coalesce(lead(round(col("o_totalprice"), 2), 1).over(w), lit(-1.0)).as("next_price"))
      .orderBy("o_custkey", "o_orderkey")
  }

  def qWindowMovingAvg(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    val w = Window.partitionBy("event_type")
      .orderBy(col("ts_ms").asc, col("event_id").asc)
      .rowsBetween(-2, Window.currentRow)
    ev.select(col("event_id"), col("event_type"),
      round(avg("value").over(w), 4).as("mavg"))
      .orderBy("event_id")
  }

  /** Ranking window family: ntile buckets, percent_rank, cume_dist.
    * The window ORDER BY carries o_orderkey so it is total — ntile
    * splits ties by row position, which must be deterministic. */
  def qWindowRankFns(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_orderstatus")
      .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
    rd(s, dir, "orders").select(
      col("o_orderkey"), col("o_orderstatus"),
      ntile(4).over(w).cast("long").as("quartile"),
      round(percent_rank().over(w), 4).as("pct_rank"),
      round(cume_dist().over(w), 4).as("cdist"))
      .orderBy("o_orderkey")
  }

  def qTopkOrders(s: SparkSession, dir: String): DataFrame =
    rd(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice"), 2).as("price"),
        col("o_orderdate").cast("date").as("o_date"))
      .orderBy(col("price").desc, col("o_orderkey").asc)
      .limit(10)

  def qUnionAll(s: SparkSession, dir: String): DataFrame =
    rd(s, dir, "customer").select(lit("cust").as("src"), col("c_custkey").as("id"))
      .unionAll(rd(s, dir, "supplier").select(lit("supp"), col("s_suppkey")))
      .orderBy("src", "id")

  def qIntersect(s: SparkSession, dir: String): DataFrame =
    rd(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
      .intersect(rd(s, dir, "supplier").select(col("s_nationkey")))
      .orderBy("nationkey")

  def qExcept(s: SparkSession, dir: String): DataFrame =
    rd(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
      .except(rd(s, dir, "supplier").select(col("s_nationkey")))
      .orderBy("nationkey")

  /** Ordered group concatenation (LISTAGG/string_agg): expressed as
    * sort-then-join over a collected list so the element order is
    * deterministic on both engines. */
  def qGroupConcat(s: SparkSession, dir: String): DataFrame =
    rd(s, dir, "supplier")
      .groupBy(col("s_nationkey").as("nationkey"))
      .agg(
        array_join(array_sort(collect_list(col("s_name"))), ",").as("names"),
        count(lit(1)).as("n"))
      .orderBy("nationkey")

  /** Multiset set ops — EXCEPT ALL / INTERSECT ALL keep duplicate
    * cardinalities (a different physical operator from the DISTINCT
    * forms: hashed count-matching, not dedup). */
  def qExceptAll(s: SparkSession, dir: String): DataFrame = {
    val c = rd(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
    val su = rd(s, dir, "supplier").select(col("s_nationkey").as("nationkey"))
    c.exceptAll(su)
      .groupBy("nationkey").agg(count(lit(1)).as("n_surplus"))
      .orderBy("nationkey")
  }

  def qIntersectAll(s: SparkSession, dir: String): DataFrame = {
    val c = rd(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
    val su = rd(s, dir, "supplier").select(col("s_nationkey").as("nationkey"))
    c.intersectAll(su)
      .groupBy("nationkey").agg(count(lit(1)).as("n_common"))
      .orderBy("nationkey")
  }

  def qStringFns(s: SparkSession, dir: String): DataFrame =
    rd(s, dir, "part").select(
      col("p_partkey"),
      upper(col("p_name")).as("up_name"),
      substring(col("p_name"), 1, 4).as("prefix"),
      concat_ws("-", col("p_brand"), col("p_type")).as("tag"),
      lpad(col("p_size").cast("string"), 3, "0").as("size_pad"),
      length(col("p_name")).cast("long").as("name_len"))
      .orderBy("p_partkey")

  def qRegex(s: SparkSession, dir: String): DataFrame =
    rd(s, dir, "part")
      .filter(col("p_type").rlike("^(ECONOMY|SMALL)$"))
      .select(col("p_partkey"),
        regexp_extract(col("p_name"), "^([a-z]+)", 1).as("first_word"),
        regexp_replace(col("p_name"), "[aeiou]", "_").as("devoweled"))
      .orderBy("p_partkey")

  def qDatetime(s: SparkSession, dir: String): DataFrame =
    rd(s, dir, "orders")
      .groupBy(
        year(col("o_orderdate")).cast("long").as("yr"),
        month(col("o_orderdate")).cast("long").as("mo"),
        date_trunc("month", col("o_orderdate")).cast("date").as("month_start"))
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .orderBy("yr", "mo")

  /** Math functions over lineitem, totally ordered. Like
    * [[qProjArith]], building the frame runs an eager `localCheckpoint`
    * (executes the scan, pins blocks until GC, truncates lineage). */
  def qMath(s: SparkSession, dir: String): DataFrame =
    rd(s, dir, "lineitem").select(
      col("l_orderkey"), col("l_linenumber"),
      round(sqrt(col("l_quantity")), 4).as("sqrt_qty"),
      round(log(col("l_extendedprice")), 4).as("ln_price"),
      round(pow(lit(1) + col("l_discount"), 2), 4).as("pow_disc"),
      (col("l_partkey") % 7).cast("long").as("mod_part"),
      ceil(col("l_extendedprice")).cast("long").as("ceil_price"),
      floor(col("l_extendedprice")).cast("long").as("floor_price"),
      round(abs(col("l_tax") - 0.5), 4).as("abs_tax"))
      // checkpoint-before-sort: see qProjArith (sampling double-compute)
      .localCheckpoint()
      // see qProjArith: extra keys make the ORDER BY total despite dup
      // (l_orderkey, l_linenumber) pairs
      .orderBy("l_orderkey", "l_linenumber", "ln_price", "sqrt_qty", "mod_part")

  /** BM25 keyword retrieval (ops.Bm25) over the documents table: two
    * fixed three-term queries drawn from the corpus vocabulary, top-5
    * each. The oracle recomputes the full formula in SQL — scores are
    * value-checked, not just ranked, since the 4-dp round happens
    * BEFORE ranking in both engines (the operator's determinism
    * contract). */
  def qBm25Search(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val queries = Seq((0L, "hash join merge"), (1L, "scan filter column"))
      .toDF("query_id", "query")
    graft.ops.Bm25.search(rd(s, dir, "documents"), queries, k = 5)
      .orderBy("query_id", "rank")
  }

  /** DSIR-style data selection: top-50 documents by hashed-bucket
    * log-likelihood ratio against the English subset as target
    * (ImportanceSampling.selectTopK). Fully value-checked — features,
    * smoothing, and ranking are md5-deterministic, so the oracle runs
    * the identical formula. */
  def qImportanceTopk(s: SparkSession, dir: String): DataFrame =
    graft.ops.ImportanceSampling.selectTopK(
      rd(s, dir, "documents"), col("lang") === "en", k = 50)

  /** Gumbel-top-k importance RESAMPLING (weighted sampling without
    * replacement ∝ softmax(importance/T), seed-deterministic): same
    * scores as qImportanceTopk, selection by noisy key. The seeded
    * Gumbel draw is md5-positional arithmetic, so the oracle replays
    * the exact same sample. */
  def qImportanceResample(s: SparkSession, dir: String): DataFrame =
    graft.ops.ImportanceSampling.resampleGumbel(
      rd(s, dir, "documents"), col("lang") === "en", k = 50,
      temperature = 2.0, salt = "dsir")

  /** Token-budget-bounded selection: the longest-documents-first prefix
    * whose cumulative whitespace-token count stays ≤ 5000
    * (BudgetSample.takeUntil — the distributed two-pass cumsum, no
    * single-partition window; PlanSpec pins the shape). cum_tokens is
    * monotone in priority order, so it doubles as the output's
    * deterministic sort key. */
  def qTokenBudget(s: SparkSession, dir: String): DataFrame =
    graft.ops.BudgetSample.takeUntil(
      rd(s, dir, "documents"), budget = 5000L,
      ord = Seq(col("n_chars").desc, col("doc_id").asc))
      .select("doc_id", "n_tokens", "cum_tokens")
      .orderBy("cum_tokens")

  /** Span (ExactSubstr-style) dedup, detection half: every non-keeper
    * occurrence of a 10-token window duplicated anywhere in the
    * documents corpus, as (doc_id, pos). Keeper = global min
    * (doc_id, pos) per window text — a total order, so the oracle
    * reproduces the selection exactly. */
  def qSpanDedup(s: SparkSession, dir: String): DataFrame =
    graft.ops.SpanDedup.duplicatedSpans(rd(s, dir, "documents"), w = 10)
      .orderBy("doc_id", "pos")

  /** Incremental span dedup: two doc_id-ordered batches through the
    * persisted window store. First-arrival keepers equal the one-shot
    * global-min keepers under an ordered split, so the union of batch
    * span sets IS the full-corpus span set — the oracle is the
    * q_span_dedup SQL verbatim. */
  def qSpanDedupIncremental(s: SparkSession, dir: String): DataFrame = {
    val docs = rd(s, dir, "documents")
    val tmp = java.nio.file.Files.createTempDirectory("graft_incspan_")
    TmpCleanup.register(tmp)
    val store = tmp.toString + "/store"
    val half = docs.count() / 2 // doc_ids are dense 0..N-1 (TESTDATA)
    val a = graft.ops.IncrementalSpanDedup.spanBatch(
      docs.filter(col("doc_id") < half), store, w = 10)
    val b = graft.ops.IncrementalSpanDedup.spanBatch(
      docs.filter(col("doc_id") >= half), store, w = 10)
    a.unionByName(b).select("doc_id", "pos").orderBy("doc_id", "pos")
  }

  /** Span dedup, rewrite half: the cleaned text of every document the
    * cut touched (a fully-covered doc keeps an empty string — it was
    * pure duplicated content). Restricted to changed docs so the gate
    * row stays focused; untouched docs are byte-identical by
    * construction (unit-pinned). */
  def qSpanDedupClean(s: SparkSession, dir: String): DataFrame = {
    val docs = rd(s, dir, "documents")
    val changed = graft.ops.SpanDedup.duplicatedSpans(docs, w = 10)
      .select("doc_id").distinct()
    graft.ops.SpanDedup.removeSpans(docs, w = 10)
      .join(broadcast(changed), Seq("doc_id"))
      .select(col("doc_id"), col("text").as("text_clean"))
      .orderBy("doc_id")
  }

  /** Hybrid retrieval: RRF fusion of BM25 (the q_bm25_search queries)
    * and exact cosine (query vectors = embeddings 0/1 over the full
    * embedding table), top-10 each side, fused top-5. Fully
    * value-checked: both input rankings are 4-dp-round-deterministic
    * and the RRF sum is two exact divisions in fixed order, rounded at
    * 6 dp before the fused rank. */
  def qHybridSearch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val texts = Seq((0L, "hash join merge"), (1L, "scan filter column"))
      .toDF("query_id", "query")
    val queries = texts.join(
      rd(s, dir, "embeddings").filter(col("vec_id") < 2)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec")),
      Seq("query_id"))
    graft.ops.HybridSearch.search(
      rd(s, dir, "documents"), rd(s, dir, "embeddings"), queries,
      k = 5, nPer = 10)
      .orderBy("query_id", "rank")
  }

  def qArrayFns(s: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    rd(s, dir, "documents").select(
      col("doc_id"),
      size(toks).cast("long").as("n_tokens"),
      element_at(toks, 1).as("first_tok"),
      element_at(toks, -1).as("last_tok"),
      array_contains(toks, "the").as("has_the"),
      concat_ws(" ", slice(toks, 1, 3)).as("head3"))
      .orderBy("doc_id")
  }

  def qCryptoHash(s: SparkSession, dir: String): DataFrame =
    rd(s, dir, "customer").select(
      col("c_custkey"),
      md5(col("c_name")).as("md5_name"),
      sha2(col("c_name"), 256).as("sha256_name"))
      .orderBy("c_custkey")

  def qEncoding(s: SparkSession, dir: String): DataFrame =
    rd(s, dir, "part").select(
      col("p_partkey"),
      base64(col("p_brand").cast("binary")).as("b64"),
      hex(col("p_brand").cast("binary")).as("hexed"),
      decode(unbase64(base64(col("p_brand").cast("binary"))), "UTF-8").as("roundtrip"))
      .orderBy("p_partkey")

  def qSubqueryIn(s: SparkSession, dir: String): DataFrame = {
    views(s, dir, "customer", "orders")
    s.sql(
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
        |ORDER BY c_custkey""".stripMargin)
  }

  def qSubqueryExists(s: SparkSession, dir: String): DataFrame = {
    views(s, dir, "supplier", "lineitem")
    s.sql(
      """SELECT s_suppkey, s_name FROM supplier s
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_suppkey = s.s_suppkey AND l.l_quantity > 49)
        |ORDER BY s_suppkey""".stripMargin)
  }

  def qSubqueryScalar(s: SparkSession, dir: String): DataFrame = {
    views(s, dir, "orders")
    s.sql(
      """SELECT COUNT(*) AS n, MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
        |FROM orders
        |WHERE o_totalprice > (SELECT AVG(o_totalprice) FROM orders)""".stripMargin)
  }

  /** Statistical aggregates: sample stddev/variance, correlation,
    * covariance, exact interpolated percentiles. */
  def qStats(s: SparkSession, dir: String): DataFrame =
    rd(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
        round(var_samp(col("l_quantity")), 4).as("var_qty"),
        round(corr(col("l_extendedprice"), col("l_quantity")), 4).as("corr_pq"),
        round(covar_samp(col("l_extendedprice"), col("l_quantity")), 4)
          .as("covar_pq"),
        round(expr("percentile(l_quantity, 0.5)"), 4).as("median_qty"),
        round(expr("percentile(l_quantity, 0.95)"), 4).as("p95_qty"))
      .orderBy("l_returnflag")

  /** HLL approximate distinct counts, gated SEMANTICALLY: the output
    * carries the exact counts plus one boolean per sketch asserting the
    * estimate lands within 3·rsd of the truth (default rsd 0.05 → 15%).
    * The raw estimate is engine-specific (HLL register layout) and never
    * leaves the query; the tolerance contract is not engine-specific —
    * the oracle recomputes the exact counts and expects both booleans
    * TRUE, so a broken sketch (or a tolerance regression) fails the
    * driver gate instead of hiding behind a rows-only check. */
  def qApproxDistinct(s: SparkSession, dir: String): DataFrame =
    rd(s, dir, "lineitem").agg(
      countDistinct(col("l_partkey")).as("exact_parts"),
      countDistinct(col("l_suppkey")).as("exact_supps"),
      approx_count_distinct(col("l_partkey")).as("__ap"),
      approx_count_distinct(col("l_suppkey")).as("__as"))
      .select(col("exact_parts"), col("exact_supps"),
        (abs(col("__ap") - col("exact_parts")).cast("double") <=
          col("exact_parts").cast("double") * 0.15).as("parts_within_tol"),
        (abs(col("__as") - col("exact_supps")).cast("double") <=
          col("exact_supps").cast("double") * 0.15).as("supps_within_tol"))

  /** JSON field extraction. `from_json` with an explicit schema parses
    * each document ONCE — `get_json_object` re-parses the string per
    * extracted field, which multiplies at 100 TB (and was measurably
    * slower even for one field). */
  def qJsonExtract(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .select(col("event_id"),
        from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k LONG"))
          .getField("k").as("k"))
      .orderBy("event_id")

  def qEventsHourly(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(col("event_type"),
        (col("ts_ms") - (col("ts_ms") % 3600000L)).as("hour_ms"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
      .orderBy("event_type", "hour_ms")

  /** Sessionization: 30-min-gap session id per user via window + cumsum. */
  def qSessionize(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts_ms").asc, col("event_id").asc)
    events(s, dir)
      .withColumn("new_sess",
        when(col("ts_ms") - lag("ts_ms", 1).over(w) > 1800000L, 1L).otherwise(0L))
      .groupBy("user_id")
      .agg((sum("new_sess") + 1L).as("n_sessions"), count(lit(1)).as("n_events"))
      .orderBy("user_id")
  }

  /** Point-in-time (as-of backward) join: each event matched to the
    * latest at-or-before order of the same customer. */
  def qAsofJoin(s: SparkSession, dir: String): DataFrame = {
    val l = events(s, dir).select("event_id", "user_id", "ts_ms")
    // o_orderdate is TIMESTAMP_NTZ; cast to LTZ in the UTC session so
    // unix_millis matches DuckDB's epoch_ms on the naive value
    val r = rd(s, dir, "orders")
      .groupBy(col("o_custkey"),
        unix_millis(col("o_orderdate").cast("timestamp")).as("ot"))
      .agg(max("o_orderkey").as("o_orderkey"))
    graft.ops.AsOf.joinBackward(l, r, "user_id", "o_custkey", "ts_ms", "ot")
      .select("event_id", "user_id", "o_orderkey")
      .orderBy("event_id")
  }

  /** Range (interval) join: events of the same user within ±60 s of each
    * other, counted per user — banded-bucket plan, exact predicate. */
  def qRangeJoin(s: SparkSession, dir: String): DataFrame =
    graft.ops.RangeJoin.selfPairsWithinBand(
      events(s, dir), "user_id", "ts_ms", "event_id", band = 60000L)
      .groupBy(col("k").as("user_id"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("user_id")

  /** Correlated scalar subquery (Catalyst decorrelation). */
  def qSubqueryCorrelated(s: SparkSession, dir: String): DataFrame = {
    views(s, dir, "customer", "orders")
    s.sql(
      """SELECT c_custkey,
        |  (SELECT round(max(o_totalprice), 2) FROM orders
        |   WHERE o_custkey = c_custkey) AS max_price
        |FROM customer ORDER BY c_custkey""".stripMargin)
  }

  // ---------- training-data pipeline ops (north-star extensions) ----------

  def qDedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(rd(s, dir, "documents")).orderBy("digest")

  def qDedupFingerprint(s: SparkSession, dir: String): DataFrame =
    Dedup.byFingerprint(rd(s, dir, "documents")).orderBy("fingerprint")

  def qDedupNgramJaccard(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(rd(s, dir, "documents"), n = 3, threshold = 0.01)
      .orderBy("doc_a", "doc_b")

  /** MinHash-LSH near-dup with EXACT verification
    * (Dedup.minhashLshNearDupPairs): banding blocks candidates, the true
    * 3-gram Jaccard ≥ 0.8 gates the output. The result is the
    * engine-independent set {pairs : jaccard ≥ 0.8}, which the oracle
    * reproduces by brute force — a full semantic gate on the LSH path
    * (a banding bug that loses a qualifying pair mismatches the hash).
    * The corpus' qualifying pairs sit at jaccard ≥ 0.94, where the
    * 16×4 banding hit probability is 1−(1−s⁴)¹⁶ ≈ 1. */
  def qDedupMinhashLsh(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashLshNearDupPairs(rd(s, dir, "documents"), n = 3, threshold = 0.8)
      .orderBy("doc_a", "doc_b")

  /** SimHash near-dup at the production radius (3), gated on RECALL:
    * radius-3 multi-index blocking (complete within the radius by
    * pigeonhole) + exact 3-gram verify recovers a subset of the true
    * jaccard ≥ 0.9 pairs. Token-SimHash Hamming distance TRACKS but does
    * not BOUND n-gram Jaccard — on the gate corpora the j ≥ 0.9 pairs
    * sit at Hamming 0..11, so unlike MinHash banding (q_dedup_minhash_
    * lsh, where recall is 1 by the banding math) radius-3 SimHash is an
    * honest heuristic blocker; a radius covering Hamming 11 would be
    * near-quadratic, exactly what the operator's cost contract warns
    * about. The gate therefore checks two engine-independent facts: the
    * TRUE pair count (recomputed by the oracle's brute force — this
    * cross-checks the exact-verify math) and recall ≥ 0.5 (measured
    * 0.60–0.78 across sf0.001–0.1; found pairs are always a verified
    * subset of the true set, DedupSpec). */
  def qDedupSimhash(s: SparkSession, dir: String): DataFrame = {
    val docs = rd(s, dir, "documents")
    val found = Dedup.simhashNearDupPairs(docs,
      n = 3, maxHamming = 3, threshold = 0.9)
      .agg(count(lit(1)).as("__found"))
    val truth = Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.9)
      .agg(count(lit(1)).as("n_true_pairs"))
    truth.crossJoin(found)
      .select(col("n_true_pairs"),
        (col("__found").cast("double") >=
          col("n_true_pairs").cast("double") * 0.5).as("recall_ok"))
  }

  /** Duplicate-cluster assignment: near-dup pairs → connected components
    * → (doc_id, component, cluster_size), where the component id is the
    * cluster's min doc_id (the kept representative). Two sources only:
    * the pair graph is the expensive part and two strata exercise the
    * full shape (at sf0.01: 4 clusters; the oracle's reachability CTE is
    * the textbook fixpoint, ours is distributed min-label propagation —
    * same fixpoint, engine-appropriate algorithms). */
  def qDedupClusters(s: SparkSession, dir: String): DataFrame = {
    val docs = rd(s, dir, "documents")
      .filter(col("source").isin("src0", "src1"))
    val pairs = Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.01)
    val w = Window.partitionBy("component")
    graft.ops.Components.ofPairs(pairs)
      .select(col("v").as("doc_id"), col("component"))
      .withColumn("cluster_size", count(lit(1)).over(w))
      .orderBy("doc_id")
  }

  /** Corpus shrink: one representative per near-dup cluster (same pair
    * graph as q_dedup_clusters), untouched docs pass through — the
    * pipeline step the cluster labels exist for. */
  def qDedupKeep(s: SparkSession, dir: String): DataFrame = {
    val docs = rd(s, dir, "documents")
      .filter(col("source").isin("src0", "src1"))
    val pairs = Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.01)
    Dedup.keepRepresentatives(docs, pairs)
      .select("doc_id", "source")
      .orderBy("doc_id")
  }

  /** Deterministic Bernoulli-by-hash sample at 25% on doc_id. */
  def qSampleHash(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.hashSample(
      rd(s, dir, "documents"), col("doc_id").cast("string"), 0.25)
      .select("doc_id", "source")
      .orderBy("doc_id")

  /** Source-mixture sample: per-source keep fractions (the training
    * recipe's mixing weights) — src0 kept whole, src1 at 3/4, src2 at
    * 1/2, src3 at 1/4, every other source at 1/10. Deterministic
    * hash-threshold draw keyed on doc_id, map-only. */
  def qSampleMixture(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.mixtureSample(
      rd(s, dir, "documents"), "source", col("doc_id").cast("string"),
      Map("src0" -> 1.0, "src1" -> 0.75, "src2" -> 0.5, "src3" -> 0.25),
      defaultFraction = 0.1)
      .select("doc_id", "source")
      .orderBy("doc_id")

  /** Frozen train/val/test split (80/10/10) keyed on doc_id — per-split
    * membership summarized (count + id range) so the gate pins both the
    * assignment and its exhaustiveness. */
  def qSplitAssign(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.assignSplits(
      rd(s, dir, "documents"), col("doc_id").cast("string"),
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .groupBy("split")
      .agg(count(lit(1)).as("n"),
        min("doc_id").as("min_id"), max("doc_id").as("max_id"))
      .orderBy("split")

  /** Exactly-3-per-source stratified sample in md5(doc_id) order. */
  def qSampleStratified(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.stratifiedSample(
      rd(s, dir, "documents"), Seq("source"), col("doc_id").cast("string"), 3)
      .select("source", "doc_id", "rank")
      .orderBy("source", "rank")

  /** Rolling-hash fingerprint via the native codegen expression. */
  def qFingerprintRolling(s: SparkSession, dir: String): DataFrame = {
    graft.functions.RabinFingerprint.register(s)
    rd(s, dir, "documents")
      .selectExpr("doc_id", "rabin_fingerprint(text) AS rhash")
      .orderBy("doc_id")
  }

  /** Winnowing sketch over md5-hex gram fingerprints: md5 is the one
    * hash both engines share, and lexicographic window minima of its hex
    * strings are engine-portable — so the sketch is DuckDB-oracle-
    * checkable (the production default stays xxhash64: cheaper, same
    * plan shape). */
  def qWinnowing(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.winnowingSketch(rd(s, dir, "documents"), oracleMd5 = true)
      .select(col("doc_id"),
        size(col("sketch")).cast("long").as("sketch_size"),
        element_at(col("sketch"), 1).as("min_fp"))
      .orderBy("doc_id")

  def qTextProfile(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.profile(rd(s, dir, "documents")).orderBy("doc_id")

  /** Per-source document-length histogram (curation reporting). */
  def qTextHistogram(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.lengthHistogram(rd(s, dir, "documents"))
      .orderBy("source", "bin")

  /** Vocabulary head: deterministic top-20 tokens by corpus frequency. */
  def qVocabTopk(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.topTokens(rd(s, dir, "documents"), 20)

  /** Int8 embedding quantization summary per vector. */
  def qEmbeddingQuantize(s: SparkSession, dir: String): DataFrame =
    Similarity.quantizeInt8(rd(s, dir, "embeddings")).orderBy("vec_id")

  /** End-to-end corpus cleaning — the composed shape a training-data
    * pipeline actually runs: normalized-fingerprint dedup (keep the min
    * doc_id of each duplicate cluster), then language + quality + length
    * admission. One digest aggregation + one equi-join + codegen'd
    * filters: at 100 TB this is two shuffles total, neither carrying
    * document text (the keep-list is (digest, id)-sized). */
  def qCorpusClean(s: SparkSession, dir: String): DataFrame = {
    // ONE pass over the text: the profile already carries the normalized
    // fingerprint, and "keep the min doc_id per fingerprint" is a
    // fingerprint-partitioned window min — no self-join, no persist (a
    // pinned intermediate would leak past the query), one shuffle, and
    // regex feature extraction (the expensive part at 100 TB) runs once.
    val w = Window.partitionBy("fingerprint")
    TextAnalysis.profile(rd(s, dir, "documents"))
      .withColumn("__keep", min("doc_id").over(w))
      .filter(col("doc_id") === col("__keep") &&
        col("pred_lang") === "en" && col("quality") >= 0.4 &&
        col("n_tokens") >= 5)
      .select("doc_id", "n_tokens", "quality", "pred_lang")
      .orderBy("doc_id")
  }

  def qKnnBruteforce(s: SparkSession, dir: String): DataFrame = {
    val embs = rd(s, dir, "embeddings")
    Similarity.bruteForceTopK(
      embs.filter(col("vec_id") < 5), embs.filter(col("vec_id") >= 5), k = 3)
      .orderBy("query_id", "rank")
  }

  /** Multi-table LSH ANN gated on RECALL@k against the exact scorer:
    * both the LSH retrieval (Similarity.lshTopKMulti, 8 tables × 5
    * planes) and the brute-force reference run in-engine; the output is
    * (n_queries, recall_ok) where recall_ok asserts macro recall@3 ≥
    * 0.5. The retrieved set itself is engine-specific (it depends on
    * this engine's plane hashes), but the recall contract is not — the
    * oracle recomputes n_queries and expects recall_ok TRUE, so an LSH
    * regression (broken signatures, broken banding, broken re-rank)
    * fails the driver gate. The corpus' neighbors sit at cosine
    * 0.27–0.40 (near-random), where sign-LSH recall is the honest
    * metric — demanding exact top-k equality would force near-exhaustive
    * candidate sets (the IVF queries cover the equality contract).
    * Measured recall@3: 0.53–0.80 across sf0.001–0.1 (candidate volume
    * ~24% of the corpus per query); the 0.45 bound is the regression
    * tripwire, not the observed value. 0.45 leaves 0.08 absolute margin
    * below the measured floor — r8's 0.5 left only 0.03, thin enough
    * that a benign corpus/plane-hash perturbation could flake the gate
    * on a probabilistic metric, while a genuinely broken table drops
    * recall far more than 0.08 and still trips. */
  def qKnnLsh(s: SparkSession, dir: String): DataFrame = {
    val embs = rd(s, dir, "embeddings")
    val q = embs.filter(col("vec_id") < 5)
    val c = embs.filter(col("vec_id") >= 5)
    val k = 3
    val lsh = Similarity.lshTopKMulti(q, c, k, planes = 5, tables = 8)
    val exact = Similarity.bruteForceTopK(q, c, k)
    val hits = lsh.select("query_id", "neighbor_id")
      .join(exact.select("query_id", "neighbor_id"),
        Seq("query_id", "neighbor_id"), "left_semi")
      .agg(count(lit(1)).as("__hits"))
    q.agg(countDistinct(col("vec_id")).as("n_queries"))
      .crossJoin(hits)
      .select(col("n_queries"),
        (col("__hits").cast("double") / (col("n_queries") * k) >= 0.45)
          .as("recall_ok"))
  }

  /** IVF at nprobe = nlist is EXHAUSTIVE probing: the index path runs in
    * full (centroid assignment, cell-bucketed scoring) but must reproduce
    * brute-force results exactly — which makes it DuckDB-oracle-checkable.
    * Sub-linear partial probing (nprobe < nlist) is asserted separately in
    * SimilaritySpec, where recall (not equality) is the contract. */
  def qKnnIvf(s: SparkSession, dir: String): DataFrame = {
    val embs = rd(s, dir, "embeddings")
    Similarity.ivfTopK(
      embs.filter(col("vec_id") < 5), embs.filter(col("vec_id") >= 5),
      k = 3, nlist = 16, nprobe = 16)
      .orderBy("query_id", "rank")
  }

  /** ANN through the PERSISTED IVF index (build in untimed-ish setup —
    * memoized per dir like the random-access table; the index build is a
    * one-time cost, search is the product path). Exhaustive probe
    * (nprobe = nlist) must reproduce brute force exactly → DuckDB-oracle-
    * checkable; fractional probing is covered in IvfIndexSpec. */
  private val ivfIndexCache =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** One-time IVF index build, memoized per testdata dir (Bench calls
    * this in its untimed setup — index construction is a one-time cost,
    * like any index; Verify pays it inside the first call). */
  def prepareIvfIndex(s: SparkSession, dir: String): String =
    ivfIndexCache.getOrElseUpdate(dir, {
      val tmp = java.nio.file.Files.createTempDirectory("graft_ivfidx_")
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        org.apache.hadoop.fs.FileUtil.fullyDelete(tmp.toFile)
        ()
      }))
      graft.ops.IvfIndex.build(
        rd(s, dir, "embeddings").filter(col("vec_id") >= 5), tmp.toString,
        nlist = 16)
      tmp.toString
    })

  def qKnnIvfIndex(s: SparkSession, dir: String): DataFrame = {
    val idx = prepareIvfIndex(s, dir)
    graft.ops.IvfIndex.search(s, idx,
      rd(s, dir, "embeddings").filter(col("vec_id") < 5),
      k = 3, nprobe = 16)
      .orderBy("query_id", "rank")
  }

  private val bm25IndexCache =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** One-time BM25 index build over `documents`, memoized per testdata
    * dir (the prepareIvfIndex discipline). */
  def prepareBm25Index(s: SparkSession, dir: String): String =
    bm25IndexCache.getOrElseUpdate(dir, {
      val tmp = java.nio.file.Files.createTempDirectory("graft_bm25idx_")
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        org.apache.hadoop.fs.FileUtil.fullyDelete(tmp.toFile)
        ()
      }))
      graft.ops.Bm25Index.indexBatch(rd(s, dir, "documents"), tmp.toString)
      tmp.toString
    })

  /** BM25 through the PERSISTED inverted index (r14): the search reads
    * only the partitions the query's terms hash into instead of
    * scanning the corpus — and returns EXACTLY what the scan operator
    * returns, so this row shares q_bm25_search's full-formula oracle
    * verbatim. */
  def qBm25Index(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val idx = prepareBm25Index(s, dir)
    val queries = Seq((0L, "hash join merge"), (1L, "scan filter column"))
      .toDF("query_id", "query")
    graft.ops.Bm25Index.search(s, idx, queries, k = 5)
      .orderBy("query_id", "rank")
  }

  /** Coded (IVF-PQ, r13) probe through the same persisted index: the
    * scoring pass reads the int8 `code` column (8× fewer bytes than the
    * vectors), exact re-rank on the top k·4 candidates. The candidate
    * CUT is approximate, so the gate pins the engine-independent recall
    * boolean (the q_knn_lsh convention) — recall vs exact brute force
    * must be ≥ 0.95; byte-level pruning and score exactness are pinned
    * in IvfIndexSpec. */
  def qKnnIvfPq(s: SparkSession, dir: String): DataFrame = {
    val embs = rd(s, dir, "embeddings")
    val q = embs.filter(col("vec_id") < 5)
    val idx = prepareIvfIndex(s, dir)
    val coded = graft.ops.IvfIndex.search(s, idx, q,
      k = 3, nprobe = 16, rerank = 4)
    val exact = Similarity.bruteForceTopK(q, embs.filter(col("vec_id") >= 5), k = 3)
    val hits = coded.select("query_id", "neighbor_id")
      .join(exact.select("query_id", "neighbor_id"),
        Seq("query_id", "neighbor_id"), "left_semi")
      .agg(count(lit(1)).as("__hits"))
    q.agg(countDistinct(col("vec_id")).as("n_queries"))
      .crossJoin(hits)
      .select(col("n_queries"),
        (col("__hits").cast("double") / (col("n_queries") * 3) >= 0.95)
          .as("recall_ok"))
  }

  /** Embedding-cosine near-dup: the engine-independent exact-verified
    * pair set {pairs : true cosine ≥ 0.95}. LSH only BLOCKS candidates
    * (16 tables × 8 planes, deterministic); the exact cosine verify
    * defines the output, so the DuckDB brute-force oracle checks it
    * pair-for-pair — the gate thereby asserts blocking recall = 1 on the
    * corpus' qualifying pairs.
    *
    * The raw embeddings table holds no near-dups (max pair cosine ≈ 0.6
    * at every SF), so the query derives a corpus that does, the way a
    * dedup regression corpus is built: the first 25 vectors re-enter as
    * vec_id+100000 with +0.25 on component 0 — those planted pairs land
    * at cosine ≥ 0.968 while the background stays ≤ 0.61, a wide margin
    * on both sides of the 0.95 threshold. Both engines derive the corpus
    * identically (float→double is exact, 0.25 is an exact binary
    * fraction). */
  /** The derived gate corpus for `qDedupEmbedding`, exposed so PlanSpec
    * can pin its scan-level pruning: the signature stage checkpoints
    * eagerly inside `lshPairsMulti`, so this subplan no longer appears
    * in the final frame's plan string (it still executes identically,
    * as the checkpoint job). */
  private[graft] def embeddingGateCorpus(s: SparkSession, dir: String): DataFrame = {
    val embs = rd(s, dir, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("embedding"))
    val planted = embs.filter(col("vec_id") < 25)
      .select((col("vec_id") + 100000L).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          x + when(i === 0, lit(0.25)).otherwise(lit(0.0))).as("embedding"))
    embs.unionAll(planted)
  }

  def qDedupEmbedding(s: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup.embeddingNearDupPairs(
      embeddingGateCorpus(s, dir), threshold = 0.95)
      .orderBy("id_a", "id_b")

  /** SemDeDup semantic dedup, gated on its own guarantees (the k-means
    * cells are engine-specific, so the contract is checked in-engine and
    * the oracle pins the flags — the q_knn_lsh convention):
    *  - `no_overremoval_ok`: nothing outside the planted clones was
    *    removed (background pairs sit ≤ 0.61, far under τ=0.95), and
    *    every removed doc has a true cosine-≥τ witness in the corpus;
    *  - `planted_recall_ok`: ≥ 80% of the 25 planted clone pairs
    *    (cosine ≥ 0.968) were caught — exact co-location of clones is
    *    deterministic, the 0.8 bound is the regression tripwire under
    *    the documented cell-straddle approximation. Measured: 25/25 at
    *    every SF. */
  def qSemanticDedup(s: SparkSession, dir: String): DataFrame = {
    val corpus = embeddingGateCorpus(s, dir).localCheckpoint()
    val kept = graft.ops.SemDedup.dedup(
      corpus, nClusters = 16, tau = 0.95, idCol = "vec_id")
    val removed = corpus
      .join(kept.select("vec_id"), Seq("vec_id"), "left_anti")
      .localCheckpoint() // small; reused by three checks below
    // witness: every removed doc must have SOME corpus doc at true
    // cosine ≥ τ (brute force over the small removed set — broadcast)
    val witnessed = removed.as("r")
      .join(corpus.as("c"), col("r.vec_id") =!= col("c.vec_id"))
      .filter(graft.ops.Similarity.cosine(
        col("r.embedding"), col("c.embedding")) >= 0.95)
      .select(col("r.vec_id")).distinct()
    val unwitnessed =
      removed.select("vec_id").join(witnessed, Seq("vec_id"), "left_anti")
    val nDocs = corpus.agg(count(lit(1)).as("n_docs"))
    val spurious = removed.filter(col("vec_id") < 100000L)
      .agg(count(lit(1)).as("__spur"))
    val unwit = unwitnessed.agg(count(lit(1)).as("__unwit"))
    val caught = removed.filter(col("vec_id") >= 100000L)
      .agg(count(lit(1)).as("__caught"))
    nDocs.crossJoin(spurious).crossJoin(unwit).crossJoin(caught)
      .select(col("n_docs"),
        (col("__spur") === 0 && col("__unwit") === 0).as("no_overremoval_ok"),
        (col("__caught") >= 20).as("planted_recall_ok"))
  }

  /** Banded pair-probe telemetry, gated on its own guarantees (r14
    * verdict #2; the q_knn_lsh flag convention — cells are
    * engine-specific, so the oracle pins the flags and the doc count):
    *  - `near_pairs_ok`: the bucket-sampled pair draw FINDS the 25
    *    planted near-dup pairs (cosine ≈ 0.968 — below the 0.9999 clone
    *    band, so they land in the near bands the old vector-sampled
    *    probe was blind to);
    *  - `near_recall_ok`: nearDupRecall ≥ 0.8 — the SAME regression
    *    tripwire q_semantic_dedup pins for planted-pair capture (a few
    *    gate-corpus pairs genuinely straddle cells at sf0.1, the exact
    *    loss this probe measures); the full curve lives in the soak
    *    (BASELINE: 1.0 at 1×, 0.865 at 10×, 0.768 at 100×). */
  def qSemdedupRecallProbe(s: SparkSession, dir: String): DataFrame = {
    val corpus = embeddingGateCorpus(s, dir).localCheckpoint()
    val assigned = graft.ops.SemDedup.assignSoft(corpus, nClusters = 16)
      .localCheckpoint() // soft probe set — the fence pairs() really uses
    val bands = graft.ops.SemDedup.recallBands(assigned, tau = 0.95)
    val near = bands.filterNot(_.isClone)
    import s.implicits.newProductEncoder
    import s.implicits.localSeqToDatasetHolder
    Seq((corpus.count(), near.map(_.pairs).sum >= 25L,
      graft.ops.SemDedup.nearDupRecall(bands) >= 0.8))
      .toDF("n_docs", "near_pairs_ok", "near_recall_ok")
  }

  def qEmbeddingNorm(s: SparkSession, dir: String): DataFrame =
    rd(s, dir, "embeddings").select(
      col("vec_id"),
      size(col("embedding")).cast("long").as("dims"),
      round(Similarity.l2Norm(col("embedding")), 4).as("l2_norm"))
      .orderBy("vec_id")

  def qMultimodalMeta(s: SparkSession, dir: String): DataFrame =
    Multimodal.fromDocuments(rd(s, dir, "documents"))
      .select(col("item_id"), col("modality"),
        octet_length(col("payload")).cast("long").as("n_bytes"),
        col("meta.codec").as("codec"),
        (floor((col("meta.n_frames") - 1) / 16) + 1).cast("long").as("n_sampled"))
      .orderBy("item_id")

  /** Feature extraction through the multimodal pipeline. The codec is
    * real (images via javax.imageio, WAV PCM via javax.sound.sampled —
    * MultimodalSpec pins both); on this corpus the payloads are utf-8
    * text bytes, so the byte-histogram path applies and the oracle
    * recomputes the feature norm per character. */
  def qMultimodalFeatures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val items = Multimodal.fromDocuments(rd(s, dir, "documents"))
      .as[Multimodal.Item]
    Multimodal.extractFeatures(items, dims = 16).toDF()
      .select(col("item_id"), col("n_bytes"),
        round(Similarity.l2Norm(col("feature")), 4).as("feature_norm"))
      .orderBy("item_id")
  }

  /** Benchmark decontamination: src0 plays the eval benchmark, the rest
    * of the corpus is checked for 3-gram overlap against it (n = 3 —
    * the collision-rich gram the other text gates use). Broadcast
    * benchmark side; corpus never shuffles (Decontaminate.overlap). */
  def qDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = rd(s, dir, "documents")
    graft.ops.Decontaminate.overlap(
      docs.filter(col("source") =!= "src0"),
      docs.filter(col("source") === "src0"),
      n = 3)
      .orderBy("doc_id")
  }

  private def curationAt(s: SparkSession, dir: String): graft.ops.Curation.Result = {
    val docs = rd(s, dir, "documents")
    graft.ops.Curation.run(
      docs.filter(col("source") =!= "src0"),
      graft.ops.Curation.Config(
        minQuality = 0.4,
        benchmark = Some(docs.filter(col("source") === "src0")),
        // n = 5, NOT the collision-rich 3 the q_decontaminate gate
        // uses: on this synthetic vocabulary 3-grams flag ~100 % of
        // the sf0.1 corpus, collapsing stages 3–4 to a 2-doc no-op —
        // 5-grams leave a meaningful survivor set at every SF
        decontamN = 5,
        budgetFraction = Some(0.6)))
  }

  /** The full curation funnel — quality(0.4) → exact dedup →
    * 5-gram decontamination vs src0 → keep the best 60 % of surviving
    * tokens — reported as per-stage attrition rows. Every stage is
    * md5/count-deterministic, so the whole funnel is a full value
    * oracle (the composition of the q_corpus_clean, q_decontaminate
    * and q_token_budget formulas). */
  def qCurationFunnel(s: SparkSession, dir: String): DataFrame = {
    val res = curationAt(s, dir)
    val out = res.funnel.orderBy("stage_idx").localCheckpoint()
    res.release()
    out
  }

  /** The canonical FIVE-stage funnel (r13 verdict #4): quality → exact
    * dedup → NEAR-dup dedup (MinHash-LSH blocked, exact 3-gram-jaccard
    * verified at 0.8 — the q_dedup_minhash_lsh machinery, where banding
    * recall is 1 so the pair set is engine-independent) → 5-gram
    * decontamination → 60 % token budget. Components keep the min-id
    * representative; every other member is charged to `near_dup`. */
  def qCurationNeardup(s: SparkSession, dir: String): DataFrame = {
    val docs = rd(s, dir, "documents")
    val res = graft.ops.Curation.run(
      docs.filter(col("source") =!= "src0"),
      graft.ops.Curation.Config(
        minQuality = 0.4,
        benchmark = Some(docs.filter(col("source") === "src0")),
        decontamN = 5,
        budgetFraction = Some(0.6),
        nearDup = Some(0.8),
        nearDupN = 3))
    val out = res.funnel.orderBy("stage_idx").localCheckpoint()
    res.release()
    out
  }

  /** The curated corpus itself: the doc ids stage 4 selected, with
    * their token counts and budget-order cumulative position. */
  def qCurationDocs(s: SparkSession, dir: String): DataFrame = {
    val res = curationAt(s, dir)
    val out = res.docs.select("doc_id", "n_tokens", "cum_tokens")
      .orderBy("doc_id").localCheckpoint()
    res.release()
    out
  }

  /** Sequence packing at a 512-token budget: per-source concat-then-chunk
    * layout — offsets and pack spans are fully determined by
    * (source, doc_id) order. */
  def qSeqPacking(s: SparkSession, dir: String): DataFrame =
    graft.ops.Packing.packAssignments(rd(s, dir, "documents"), budget = 512)
      .orderBy("shard", "doc_id")

  /** PII redaction over a deterministic PII-bearing string derived from
    * the customer table (the synthetic corpus itself carries no PII):
    * every row gets an email, even keys a phone, keys ≡ 0 (mod 3) an
    * IPv4 — so the masked text and the per-category counts exercise all
    * three patterns including their absence. */
  def qPiiRedact(s: SparkSession, dir: String): DataFrame = {
    val raw = concat(
      lit("reach "), col("c_name"),
      lit(" at user"), col("c_custkey").cast("string"), lit("@mail.example"),
      when(col("c_custkey") % 2 === 0,
        concat(lit(" or +1-555-"),
          lpad((col("c_custkey") % 10000).cast("string"), 4, "0")))
        .otherwise(lit("")),
      when(col("c_custkey") % 3 === 0,
        concat(lit(" ip 10.0."), (col("c_custkey") % 256).cast("string"), lit(".1")))
        .otherwise(lit("")))
    rd(s, dir, "customer").select(
      col("c_custkey"),
      graft.ops.Redaction.redact(raw).as("masked"),
      graft.ops.Redaction.emailCount(raw).cast("long").as("n_emails"),
      graft.ops.Redaction.phoneCount(raw).cast("long").as("n_phones"),
      graft.ops.Redaction.ipv4Count(raw).cast("long").as("n_ips"))
      .orderBy("c_custkey")
  }

  /** Intra-document repetition (the Gopher-style duplicate-n-gram quality
    * rule): positional vs distinct 3-gram counts per document. */
  def qTextRepetition(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.repetitionProfile(rd(s, dir, "documents"), n = 3)
      .orderBy("doc_id")

  /** Incremental exact dedup: the corpus arrives as two batches (store
    * build-up: every source except src0/src1, then the src0+src1 batch);
    * the gate checks the SECOND batch's dup verdicts against a whole-
    * corpus SQL restatement — the store path must agree with the
    * stateless math. A fresh store dir per call keeps the query
    * idempotent (the one-time store write is setup, like an index
    * build). */
  def qDedupIncremental(s: SparkSession, dir: String): DataFrame = {
    val docs = rd(s, dir, "documents")
    // fresh store per call (idempotence — a reused store would judge the
    // batch against itself); ONE registered hook drains them all, so a
    // long-lived session calling this N times doesn't accumulate N
    // shutdown-hook threads
    val tmp = java.nio.file.Files.createTempDirectory("graft_incdedup_")
    TmpCleanup.register(tmp)
    val store = tmp.toString + "/store"
    // auto geometry (storePartsFor): the first batch sizes the store's
    // partition count from its own row count and the manifest carries it
    // forward — the gate's ~5k-doc corpus gets the 32-part floor instead
    // of paying ~512 tiny file creates per call under a hand-tuned 256
    // (measured 1.7 → 9 s before the r10 constant, now self-sized). The
    // pruning contract is pinned at explicit geometry in
    // IncrementalDedupSpec; the gate checks store-path CORRECTNESS.
    graft.ops.IncrementalDedup.exactBatch(
      docs.filter(!col("source").isin("src0", "src1")), store)
    graft.ops.IncrementalDedup.exactBatch(
      docs.filter(col("source").isin("src0", "src1")), store)
      .orderBy("doc_id")
  }

  /** Incremental N-GRAM JACCARD gate — the STRONGEST oracle in the
    * incremental family: the union of the two batch arrivals' pair
    * sets is itself the engine-independent exact-Jaccard pair set, so
    * DuckDB's brute force recomputes the full output VALUES (doc ids,
    * shared-gram counts, jaccard), not just booleans. Same five-source
    * subset and src0+src1-arrives-second split as the simhash gate
    * (cross-split pairs known non-vacuous at every SF); exactness of
    * the union-parity needs no gram's final df over the cap, which
    * holds at the oracle's sf0.01 (125 docs ≪ dfCap 1000). Fresh store
    * per call (idempotence, like qDedupIncremental). */
  def qDedupIncrementalNgram(s: SparkSession, dir: String): DataFrame = {
    val docs = rd(s, dir, "documents")
      .filter(col("source").isin("src0", "src1", "src5", "src12", "src13"))
    val tmp = java.nio.file.Files.createTempDirectory("graft_incng_")
    TmpCleanup.register(tmp)
    val store = tmp.toString + "/store"
    val b1 = graft.ops.IncrementalDedup.ngramBatch(
      docs.filter(!col("source").isin("src0", "src1")), store,
      n = 3, threshold = 0.8)
    val b2 = graft.ops.IncrementalDedup.ngramBatch(
      docs.filter(col("source").isin("src0", "src1")), store,
      n = 3, threshold = 0.8)
    b1.unionByName(b2).orderBy("doc_a", "doc_b")
  }

  /** Incremental SIMHASH gate, double-checked: (1) the incremental
    * union over two batch arrivals must equal the full-corpus one-shot
    * `Dedup.simhashPairs` SET-EXACTLY — the store-path contract,
    * checked Spark-side where both sides are computable, emitted as
    * `inc_eq_full` for the oracle to expect TRUE; (2) the same two
    * engine-independent facts as `q_dedup_simhash` — the TRUE
    * jaccard ≥ 0.9 pair count (DuckDB's brute force recomputes it) and
    * recall ≥ 0.5 of those pairs among the incrementally-found
    * radius-3 candidates (SimHash blocking is an honest heuristic —
    * see qDedupSimhash's rationale for the 0.5 floor). Five sources,
    * chosen so the j ≥ 0.9 pairs INSIDE the subset are non-vacuous at
    * every SF (3/5/14 pairs at sf0.001/0.01/0.1) and several CROSS the
    * src0+src1-arrives-second batch split (3/4/7) — the store path
    * carries real pairs — while the gate pays the near-quadratic
    * 16-bit-band blocking on ~25% of the corpus (~6% of the full
    * cost), three times (two arrivals + the one-shot equality side).
    * Fresh store per call (idempotence, like qDedupIncremental). */
  def qDedupIncrementalSimhash(s: SparkSession, dir: String): DataFrame = {
    val docs = rd(s, dir, "documents")
      .filter(col("source").isin("src0", "src1", "src5", "src12", "src13"))
    val tmp = java.nio.file.Files.createTempDirectory("graft_incsim_")
    TmpCleanup.register(tmp)
    val store = tmp.toString + "/store"
    val b1 = graft.ops.IncrementalDedup.simhashBatch(
      docs.filter(!col("source").isin("src0", "src1")), store)
    val b2 = graft.ops.IncrementalDedup.simhashBatch(
      docs.filter(col("source").isin("src0", "src1")), store)
    val inc = b1.unionByName(b2)
      .select("doc_a", "doc_b", "hamming").localCheckpoint()
    // checkpoint: both except() directions read `full`, and the pair
    // set is tiny while its blocking join is the expensive part
    val full = Dedup.simhashPairs(docs, maxHamming = 3)
      .select("doc_a", "doc_b", "hamming").localCheckpoint()
    val diff = inc.except(full).unionByName(full.except(inc))
      .agg(count(lit(1)).as("__diff"))
    val truth = Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.9)
      .select("doc_a", "doc_b").localCheckpoint()
    val nTrue = truth.agg(count(lit(1)).as("n_true_pairs"))
    val foundTrue = truth.join(inc, Seq("doc_a", "doc_b"), "left_semi")
      .agg(count(lit(1)).as("__found"))
    nTrue.crossJoin(diff).crossJoin(foundTrue)
      .select(col("n_true_pairs"),
        (col("__diff") === 0L).as("inc_eq_full"),
        (col("__found").cast("double") >=
          col("n_true_pairs").cast("double") * 0.5).as("recall_ok"))
  }

  /** Incremental CLUSTERING gate: the same pair graph as
    * q_dedup_clusters arrives as two batches (split by pair hash)
    * against a fresh persisted label store — the resolved store must
    * equal the full-corpus recursive-CTE oracle, proving the
    * union-find store loses and invents nothing across arrivals
    * (cluster growth, cross-batch merges, and dethroned roots all
    * occur in this corpus' graph). Fresh store per call (idempotence,
    * like qDedupIncremental). */
  def qDedupClustersIncremental(s: SparkSession, dir: String): DataFrame = {
    val docs = rd(s, dir, "documents")
      .filter(col("source").isin("src0", "src1"))
    val pairs = Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.01)
      .localCheckpoint() // both batch filters read one materialization
    val tmp = java.nio.file.Files.createTempDirectory("graft_inccomp_")
    TmpCleanup.register(tmp)
    val store = tmp.toString + "/store"
    val h = pmod(xxhash64(col("doc_a"), col("doc_b")), lit(2))
    graft.ops.IncrementalComponents.addPairs(pairs.filter(h === 0), store)
    graft.ops.IncrementalComponents.addPairs(pairs.filter(h === 1), store)
    val w = Window.partitionBy("component")
    graft.ops.IncrementalComponents.labels(s, store)
      .select(col("v").as("doc_id"), col("component"))
      .withColumn("cluster_size", count(lit(1)).over(w))
      .orderBy("doc_id")
  }

  /** Incremental EMBEDDING near-dup against a persisted vector store:
    * the base corpus arrives as batch 1 (no qualifying pairs — max base
    * cosine ≈ 0.6), the planted near-dup vectors as batch 2; batch 2's
    * pairs against the STORE are exactly the full-corpus pair set, so
    * the same DuckDB brute-force all-pairs oracle as `q_dedup_embedding`
    * checks the union — proving the store path loses nothing across
    * appends. Fresh store per call (idempotence, like
    * `qDedupIncremental`). */
  def qDedupIncrementalEmbedding(s: SparkSession, dir: String): DataFrame = {
    val corpus = embeddingGateCorpus(s, dir)
    val tmp = java.nio.file.Files.createTempDirectory("graft_incemb_")
    TmpCleanup.register(tmp)
    val store = tmp.toString + "/store"
    // auto geometry like qDedupIncremental: batch 1 sizes the store,
    // batch 2 adopts the manifest (bp only routes partitions —
    // correctness unchanged)
    val b1 = graft.ops.IncrementalDedup.embeddingBatch(
      corpus.filter(col("vec_id") < 100000L), store, threshold = 0.95)
    val b2 = graft.ops.IncrementalDedup.embeddingBatch(
      corpus.filter(col("vec_id") >= 100000L), store, threshold = 0.95)
    b1.unionByName(b2).orderBy("id_a", "id_b")
  }

  /** Z-order (Morton) codes over the distinct (l_partkey, l_suppkey)
    * pairs — the layout key a z-ordered lineitem write clusters by.
    * (The code is a pure bitwise expression, so it's DuckDB-checkable;
    * the clustering write itself is pinned in LayoutSpec.) */
  def qZorderKey(s: SparkSession, dir: String): DataFrame =
    rd(s, dir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey"))
      .distinct()
      .withColumn("zorder", graft.ops.Layout.morton2(col("l_partkey"), col("l_suppkey")))
      .orderBy("zorder", "l_partkey", "l_suppkey")

  /** Skew-salted join gated on SEMANTICS: Scale.saltedJoin spreads each
    * hot key over `factor` tasks (deterministic row-hash salt, the other
    * side replicated), but the result set is exactly the plain inner
    * join — which is what the DuckDB oracle computes. Aggregated per
    * supplier so the gate row count stays bounded at every SF. */
  def qSkewSaltedJoin(s: SparkSession, dir: String): DataFrame = {
    val li = rd(s, dir, "lineitem")
      .select(col("l_suppkey").as("s_suppkey"), col("l_quantity"))
    val supp = rd(s, dir, "supplier").select("s_suppkey", "s_name")
    graft.ops.Scale.saltedJoin(li, supp, Seq("s_suppkey"), factor = 8)
      .groupBy("s_suppkey", "s_name")
      .agg(count(lit(1)).as("n_items"),
        round(sum("l_quantity"), 2).as("sum_qty"))
      .orderBy("s_suppkey")
  }

  /** Heavy hitters per group via the two-stage top-k (no group ever
    * funnels through one task): top-5 part keys by line count per
    * return flag. Deterministic ties: (count DESC, value ASC). */
  def qHeavyHitters(s: SparkSession, dir: String): DataFrame =
    graft.ops.Scale.heavyHitters(
      rd(s, dir, "lineitem"), "l_returnflag", "l_partkey", k = 5)
      .withColumn("n", col("n").cast("long"))
      .orderBy("l_returnflag", "rank")
}
