package graft.ops

import java.nio.file.Files

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Persisted IVF index: build-once/search-many parity and the partition
  * pruning that makes the probe a fractional scan. */
class IvfIndexSpec extends SparkSuite {

  private lazy val embs = spark.read.parquet(s"$sf/embeddings.parquet")
  private lazy val queries = embs.filter(col("vec_id") < 5)
  private lazy val cands = embs.filter(col("vec_id") >= 5)

  private lazy val indexDir = {
    val dir = Files.createTempDirectory("ivfindex").toString
    IvfIndex.build(cands, dir, nlist = 8)
    dir
  }

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("query_id", "rank").collect().map(_.toString).toSeq

  test("exhaustive probe over the index equals brute force") {
    val got = rows(IvfIndex.search(spark, indexDir, queries, k = 3, nprobe = 8))
    val want = rows(Similarity.bruteForceTopK(queries, cands, k = 3))
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("partial probe over the index equals the inline IVF operator") {
    // same seeding (first-nlist centroids) -> identical cells -> identical
    // results; proves the persisted index reproduces the inline path
    val got = rows(IvfIndex.search(spark, indexDir, queries, k = 3, nprobe = 2))
    val want = rows(Similarity.ivfTopK(queries, cands, k = 3,
      nlist = 8, nprobe = 2))
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("the probe reads only the probed cells (partition pruning)") {
    // the EXACT scan search() builds (shared helper), one probed cell
    val allCells = spark.read.parquet(s"$indexDir/assignments")
      .select("cell").distinct().count()
    assert(allCells > 1)
    val someCell = spark.read.parquet(s"$indexDir/assignments")
      .select("cell").head().getInt(0).toLong
    val scan = IvfIndex.probedAssignments(spark, indexDir, Seq(someCell))
    val p = scan.queryExecution.executedPlan.toString
    // a NON-EMPTY partition filter naming cell — `PartitionFilters: []`
    // (pruning silently lost, e.g. to a type-cast on the partition
    // attribute) must fail here
    val filterList = "PartitionFilters: \\[([^\\]]*)\\]".r
      .findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    assert(filterList.contains("cell"), p)
    // and the pruning is real: the probed scan TOUCHES fewer files
    // (input_file_name reflects what was actually read; .inputFiles
    // would list the whole relation regardless of filters)
    val readFiles = scan.select(input_file_name()).distinct().count()
    val allFiles = spark.read.parquet(s"$indexDir/assignments")
      .select(input_file_name()).distinct().count()
    assert(readFiles < allFiles, s"$readFiles vs $allFiles")
    assert(scan.count() > 0)
  }

  test("append: frozen-cell assignment, searchable, idempotent, brute-force parity") {
    val dir = Files.createTempDirectory("ivfappend").toString
    IvfIndex.build(cands, dir, nlist = 8)
    val n0 = spark.read.parquet(s"$dir/assignments").count()
    // a clone of query 0's vector under a fresh id: after the append the
    // query's top-1 must be the clone at cosine 1.0
    val batch = queries.filter(col("vec_id") === 0)
      .select(lit(900000L).as("vec_id"), col("embedding"))
    IvfIndex.append(batch, dir)
    assert(spark.read.parquet(s"$dir/assignments").count() == n0 + 1)
    val q0 = queries.filter(col("vec_id") === 0)
    val top = IvfIndex.search(spark, dir, q0, k = 1, nprobe = 8).collect().head
    assert(top.getAs[Long]("neighbor_id") == 900000L)
    assert(top.getAs[Double]("cosine") == 1.0)
    // exhaustive probe over the appended index = brute force over the
    // union corpus (append lost nothing, moved nothing)
    val got = rows(IvfIndex.search(spark, dir, queries, k = 3, nprobe = 8))
    val want = rows(Similarity.bruteForceTopK(
      queries, cands.select(col("vec_id"), col("embedding")).unionByName(batch), k = 3))
    assert(got == want)
    // retried append: same ids assign to the same frozen cells, the
    // pruned anti-join filters everything — nothing duplicated
    IvfIndex.append(batch, dir)
    assert(spark.read.parquet(s"$dir/assignments").count() == n0 + 1)
  }

  test("append width guard: double into a float index is loud; float into double upcasts") {
    import spark.implicits._
    // float index (built from the float embeddings table)
    val fDir = Files.createTempDirectory("ivfwidth_f").toString
    IvfIndex.build(cands, fDir, nlist = 8)
    val dBatch = Seq((900001L, Seq(0.1, 0.2, 0.3))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      IvfIndex.append(dBatch, fDir)
    }
    assert(e.getMessage.contains("narrowing"), e.getMessage)
    // double index accepts a float batch by exact upcast
    val dDir = Files.createTempDirectory("ivfwidth_d").toString
    IvfIndex.build(
      cands.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("embedding")),
      dDir, nlist = 8)
    val fBatch = queries.filter(col("vec_id") === 1)
      .select(lit(900002L).as("vec_id"), col("embedding"))
    IvfIndex.append(fBatch, dDir)
    val top = IvfIndex.search(spark, dDir,
      queries.filter(col("vec_id") === 1), k = 1, nprobe = 8).collect().head
    assert(top.getAs[Long]("neighbor_id") == 900002L)
    assert(top.getAs[Double]("cosine") == 1.0)
  }

  test("a crashed rebuild swap self-heals on the READ path") {
    import org.apache.hadoop.fs.Path
    val dir = Files.createTempDirectory("ivfcrash").toString
    IvfIndex.build(cands, dir, nlist = 8)
    val n0 = spark.read.parquet(s"$dir/assignments").count()
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate the worst crash window: new generation fully written
    // under tmp, ready marker set, live tables DELETED, renames never ran
    val tmp = new Path(dir, "_rebuild_tmp")
    fs.mkdirs(tmp)
    assert(fs.rename(new Path(dir, "centroids"), new Path(tmp, "centroids")))
    assert(fs.rename(new Path(dir, "assignments"), new Path(tmp, "assignments")))
    fs.create(new Path(dir, "_rebuild_ready"), true).close()
    // a pure READER (health probe) finishes the swap and answers
    assert(IvfIndex.imbalance(spark, dir) >= 1.0)
    assert(spark.read.parquet(s"$dir/assignments").count() == n0)
    assert(!fs.exists(new Path(dir, "_rebuild_ready")))
    assert(!fs.exists(tmp))
  }

  test("coded probe (rerank): recall vs exact >= 0.95; surviving scores are exact") {
    // exhaustive probe so the exact path IS brute force over the corpus
    val exact = IvfIndex.search(spark, indexDir, queries, k = 3, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val coded = IvfIndex.search(spark, indexDir, queries, k = 3, nprobe = 8,
      rerank = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val exactPairs = exact.map(t => (t._1, t._2)).toSet
    val codedPairs = coded.map(t => (t._1, t._2)).toSet
    val recall = codedPairs.intersect(exactPairs).size.toDouble / exactPairs.size
    assert(recall >= 0.95, s"recall $recall: coded=$codedPairs exact=$exactPairs")
    // the re-rank scores on full vectors: every agreed pair's cosine is
    // BIT-identical to the exact path's, not approximate
    val exactScore = exact.map(t => (t._1, t._2) -> t._3).toMap
    coded.filter(t => exactPairs((t._1, t._2))).foreach { t =>
      assert(exactScore((t._1, t._2)) == t._3, s"score drift on $t")
    }
  }

  test("coded probe scan bytes: the code column is >=4x smaller at rest than the vectors it replaces") {
    // double-width index — the 100 TB layout the byte-cut claim is about
    // (int8 vs float64; the gate corpus's float32 table halves the ratio)
    val dir = Files.createTempDirectory("ivfbytes").toString
    IvfIndex.build(
      cands.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("embedding")),
      dir, nlist = 8)
    // parquet footer truth: per-column compressed chunk bytes — exactly
    // what a columnar probe reads off disk for (code) vs (vec)
    import org.apache.hadoop.fs.Path
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(dir).getFileSystem(conf)
    val files = fs.listFiles(new Path(s"$dir/assignments"), true)
    var vecBytes = 0L; var codeBytes = 0L
    while (files.hasNext) {
      val f = files.next()
      if (f.getPath.getName.endsWith(".parquet")) {
        val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f.getPath, conf))
        try rd.getFooter.getBlocks.asScala.foreach(_.getColumns.asScala.foreach { c =>
          val p = c.getPath.toDotString
          if (p.startsWith("vec")) vecBytes += c.getTotalSize
          else if (p == "code") codeBytes += c.getTotalSize
        }) finally rd.close()
      }
    }
    assert(codeBytes > 0 && vecBytes > 0)
    assert(vecBytes.toDouble / codeBytes >= 4.0,
      s"vec $vecBytes vs code $codeBytes = ${vecBytes.toDouble / codeBytes}x")
    // and the coded search over this index is still right
    val got = IvfIndex.search(spark, dir, queries, k = 1, nprobe = 8, rerank = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = Similarity.bruteForceTopK(queries, cands, k = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want)
  }

  test("coded probe on a pre-code index is loud; rebuild upgrades it in place") {
    val dir = Files.createTempDirectory("ivflegacy").toString
    IvfIndex.build(cands, dir, nlist = 8)
    // strip the code column — the layout every index built before r13 has
    val stripped = spark.read.parquet(s"$dir/assignments")
      .select("id", "vec", "cell").localCheckpoint()
    stripped.repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$dir/assignments")
    val e = intercept[IllegalArgumentException] {
      IvfIndex.search(spark, indexDir = dir, queries, k = 3, nprobe = 8,
        rerank = 4).collect()
    }
    assert(e.getMessage.contains("rebuild"), e.getMessage)
    // appends PRESERVE uncodedness (no mixed null/value code column)...
    val batch = queries.filter(col("vec_id") === 0)
      .select(lit(910000L).as("vec_id"), col("embedding"))
    IvfIndex.append(batch, dir)
    assert(!spark.read.parquet(s"$dir/assignments")
      .schema.fieldNames.contains("code"))
    // ...and rebuild() upgrades: coded search works and equals brute force
    IvfIndex.rebuild(spark, dir, kmeansIters = 0)
    val got = rows(IvfIndex.search(spark, dir, queries, k = 3, nprobe = 8,
      rerank = 4))
    val want = rows(Similarity.bruteForceTopK(
      queries, cands.select(col("vec_id"), col("embedding")).unionByName(batch),
      k = 3))
    assert(got == want)
  }

  test("cell health: drifted appends trip the rebuild trigger; post-rebuild search equals brute force") {
    import spark.implicits._
    val dir = Files.createTempDirectory("ivfhealth").toString
    IvfIndex.build(cands, dir, nlist = 8)
    val imb0 = IvfIndex.imbalance(spark, dir)
    assert(imb0 >= 1.0)
    // drift: a tight cloud of near-copies of ONE corpus vector — every
    // new vector lands in the same frozen cell, max/mean occupancy
    // grows. FLOAT vectors, matching the table's stored width (a width
    // mix across appended files would break the parquet schema).
    val seedF = cands.orderBy("vec_id").select("embedding").head()
      .getSeq[Float](0)
    val drifted = (0 until 200).map { i =>
      (800000L + i, seedF.updated(0, seedF.head + i * 1e-4f))
    }.toDF("vec_id", "embedding")
    // below-threshold appends report no rebuild
    assert(!IvfIndex.append(drifted.filter(col("vec_id") < 800100L), dir,
      rebuildImbalance = 1000.0))
    // the drifted corpus exceeds a tight threshold -> rebuild fires
    val rebuilt = IvfIndex.append(
      drifted.filter(col("vec_id") >= 800100L), dir,
      rebuildImbalance = 2.0, rebuildIters = 2)
    assert(rebuilt, s"imbalance was ${IvfIndex.imbalance(spark, dir)}")
    // rebuild preserved the corpus exactly
    assert(spark.read.parquet(s"$dir/assignments").count() ==
      cands.count() + 200)
    // no stale swap litter
    assert(!new java.io.File(s"$dir/_rebuild_tmp").exists())
    assert(!new java.io.File(s"$dir/_rebuild_ready").exists())
    // exhaustive probe over the REBUILT index = brute force over the
    // union corpus (fresh centroids moved vectors, lost none)
    val union = cands.select(col("vec_id"), col("embedding"))
      .unionByName(drifted)
    val got = rows(IvfIndex.search(spark, dir, queries, k = 3, nprobe = 8))
    val want = rows(Similarity.bruteForceTopK(queries, union, k = 3))
    assert(got == want)
  }

  test("rebuild re-clusters at the manifested nlist (no decay ratchet)") {
    val dir = Files.createTempDirectory("ivfnlist").toString
    IvfIndex.build(cands, dir, nlist = 8, kmeansIters = 2)
    assert(IncrementalDedup.storeManifest(spark, dir)
      .get("nlist").contains("8"))
    // simulate a decayed centroid table (drifted rebuilds used to
    // inherit this count forever): keep 4 of the 8 rows
    val shrunk = spark.read.parquet(s"$dir/centroids")
      .orderBy("cell").limit(4).collect()
    spark.createDataFrame(
      spark.sparkContext.parallelize(shrunk.toIndexedSeq),
      spark.read.parquet(s"$dir/centroids").schema)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
    IvfIndex.rebuild(spark, dir, kmeansIters = 2)
    assert(spark.read.parquet(s"$dir/centroids").count() == 8,
      "rebuild inherited the decayed centroid count")
    // search still exact at full coverage
    val got = rows(IvfIndex.search(spark, dir, queries, k = 3, nprobe = 8))
    assert(got == rows(Similarity.bruteForceTopK(queries, cands, k = 3)))
    // legacy index (no manifest): the old fallback — live centroid count
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir, "_graft_store.json"), false)
    IvfIndex.rebuild(spark, dir, kmeansIters = 0)
    assert(spark.read.parquet(s"$dir/centroids").count() == 8)
  }

  test("concurrent reader: searches race retraction swaps without loss (r17 seqlock)") {
    import spark.implicits._
    // the bm25 race ported to the ANN arm: a churn thread retracts and
    // re-appends vectors that share the STABLE vector's cell (frozen
    // centroids — the appends re-assign identically), so every swap
    // rewrites exactly the partition the searcher probes; the stable
    // neighbor must appear in EVERY result, with no exception. Without
    // the seqlock a listing inside the two-rename window silently
    // returns fewer neighbors.
    val dir = Files.createTempDirectory("ivfrace").toString
    IvfIndex.build(cands, dir, nlist = 8)
    // plant a stable clone of query 0's vector and 12 churn clones of
    // the same direction — all land in query 0's best cell
    val q0 = queries.filter(col("vec_id") === 0)
    val stable = q0.select(lit(900000L).as("vec_id"), col("embedding"))
    val churnIds: Seq[Long] = (900100L until 900112L).toList
    val churn = churnIds.toDF("vec_id")
      .crossJoin(q0.select(col("embedding")))
    IvfIndex.append(stable, dir)
    IvfIndex.append(churn, dir)
    @volatile var stop = false
    @volatile var churnError: Option[Throwable] = None
    val churner = new Thread(() => {
      try {
        // job group (thread-local): lets teardown cancel exactly this
        // thread's in-flight jobs if a cycle outlives the join window
        spark.sparkContext.setJobGroup("ivf-churner", "ivf-churner race",
          interruptOnCancel = true)
        while (!stop) {
          IvfIndex.retract(spark, dir, churnIds)
          IvfIndex.append(churn, dir)
        }
      } catch { case t: Throwable => churnError = Some(t) }
    }, "ivf-churner")
    churner.start()
    var outlived = false
    try {
      var misses = 0
      for (_ <- 1 to 80) {
        val got = IvfIndex.search(spark, dir, q0, k = 20, nprobe = 2)
          .select("neighbor_id").collect().map(_.getLong(0)).toSet
        if (!got.contains(900000L)) misses += 1
      }
      assert(misses == 0, s"stable neighbor dropped from $misses results")
    } finally {
      // on a contended host one locked cycle can outlive the first join
      outlived = quiesce(churner, "ivf-churner") { stop = true }
    }
    assert(!outlived, "churner thread did not terminate")
    assert(churnError.isEmpty, s"churner failed: $churnError")
    // settled state consistent: the stable clone still top-1 at 1.0
    val top = IvfIndex.search(spark, dir, q0, k = 1, nprobe = 8).collect().head
    assert(top.getAs[Long]("neighbor_id") == 900000L &&
      top.getAs[Double]("cosine") == 1.0)
  }

  test("concurrent reader: searches race RECLUSTER swaps without loss (r18 arm sentinel)") {
    import spark.implicits._
    // the rebuild replaces BOTH live tables — the largest swap window
    // in the codebase, previously invisible to the search seqlock (its
    // own _rebuild_ready marker, no epoch bump): a search overlapping
    // the swap could silently probe OLD centroids against NEW
    // assignments and lose neighbors with no error. The arm sentinel
    // (raised before the first delete, bump-then-cleared after) makes
    // every overlap observable; the stable self-neighbor must appear
    // in EVERY raced result.
    val dir = Files.createTempDirectory("ivfrebrace").toString
    IvfIndex.build(cands, dir, nlist = 8)
    val q0 = queries.filter(col("vec_id") === 0)
    val stable = q0.select(lit(910000L).as("vec_id"), col("embedding"))
    IvfIndex.append(stable, dir)
    @volatile var stop = false
    @volatile var churnError: Option[Throwable] = None
    @volatile var rebuilds = 0
    val churner = new Thread(() => {
      try {
        // job group (thread-local): lets teardown cancel exactly this
        // thread's in-flight jobs if a cycle outlives the join window
        spark.sparkContext.setJobGroup("ivf-rebuild-churner", "ivf-rebuild-churner race",
          interruptOnCancel = true)
        while (!stop) {
          IvfIndex.rebuild(spark, dir, kmeansIters = 1)
          rebuilds += 1
        }
      } catch { case t: Throwable => churnError = Some(t) }
    }, "ivf-rebuild-churner")
    churner.start()
    var outlived = false
    try {
      var misses = 0
      var n = 0
      val t0 = System.nanoTime()
      while (n < 60 && (System.nanoTime() - t0) < 240e9 &&
          churnError.isEmpty) {
        n += 1
        val got = IvfIndex.search(spark, dir, q0, k = 20, nprobe = 8)
          .select("neighbor_id").collect().map(_.getLong(0)).toSet
        if (!got.contains(910000L)) misses += 1
      }
      assert(misses == 0, s"stable neighbor dropped from $misses results")
      assert(n >= 10, s"race vacuous: only $n searches")
    } finally {
      // on a contended host one locked cycle can outlive the first join
      outlived = quiesce(churner, "ivf-rebuild-churner") { stop = true }
    }
    assert(!outlived, "churner thread did not terminate")
    assert(churnError.isEmpty, s"rebuild churner failed: $churnError")
    assert(rebuilds >= 2, s"race vacuous: only $rebuilds rebuilds")
    // settled state: the stable clone still top-1 at cosine 1.0, and no
    // arm sentinel left behind
    val top = IvfIndex.search(spark, dir, q0, k = 1, nprobe = 8).collect().head
    assert(top.getAs[Long]("neighbor_id") == 910000L &&
      top.getAs[Double]("cosine") == 1.0)
    assert(!Retract.armBusy(spark, s"$dir/assignments"))
  }

  test("rebuild publishes pre-swap epoch + 1 — generations stay seqlock-distinguishable") {
    val dir = Files.createTempDirectory("ivfepoch").toString
    IvfIndex.build(cands, dir, nlist = 8)
    Retract.setEpochAt(spark, s"$dir/assignments", 41L)
    IvfIndex.rebuild(spark, dir, kmeansIters = 1)
    assert(Retract.epoch(spark, s"$dir/assignments") == 42L)
  }

  test("crashed rebuild heal keeps the swap epoch MONOTONE (r18 ADVICE: no regression onto published values)") {
    import org.apache.hadoop.fs.Path
    val dir = Files.createTempDirectory("ivfepochmono").toString
    IvfIndex.build(cands, dir, nlist = 8)
    // advance the counter to a value a cross-process reader may
    // legitimately hold as its e0 snapshot
    Retract.setEpochAt(spark, s"$dir/assignments", 7L)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // fabricate rebuildLocked's crash window: new generation staged,
    // marker committed (carrying the captured pre-swap epoch), live
    // tables deleted — the state whose heal used to re-derive the epoch
    // from the post-swap dir (reads 0) and publish 1, regressing the
    // counter onto the seeded first-generation value
    val tmp = new Path(dir, "_rebuild_tmp")
    fs.mkdirs(tmp)
    assert(fs.rename(new Path(dir, "centroids"), new Path(tmp, "centroids")))
    assert(fs.rename(new Path(dir, "assignments"), new Path(tmp, "assignments")))
    // the staged generation carries no counter of its own (writeAssignments
    // writes data files only) — drop the one that rode along in the rename
    // so the heal can only get the value right via the marker body
    fs.delete(new Path(tmp, "assignments/_retract_epoch"), false)
    graft.fs.AtomicRename.publishSmallFile(fs, new Path(dir, "_rebuild_ready"),
      "preepoch=7".getBytes(java.nio.charset.StandardCharsets.UTF_8),
      ".tmp-test")
    // reader-path heal finishes the swap
    assert(IvfIndex.imbalance(spark, dir) >= 1.0)
    assert(!fs.exists(new Path(dir, "_rebuild_ready")))
    // ... and the healed epoch is preEpoch + 1, never a regressed 1
    assert(Retract.epoch(spark, s"$dir/assignments") == 8L)
  }

  test("heal defers ONLY on lock-busy; a real failure inside the heal surfaces (typed lock signal)") {
    import org.apache.hadoop.fs.Path
    val dir = Files.createTempDirectory("ivftypedlock").toString
    IvfIndex.build(cands, dir, nlist = 8)
    // a stranded arm sentinel is the heal trigger
    Retract.armRaise(spark, s"$dir/assignments")
    // 1. lock held by a LIVE foreign writer: the heal defers politely —
    // the read proceeds against the (whole) current generation
    graft.fs.StoreLock.withLock(dir, spark.sparkContext.hadoopConfiguration,
      owner = "otherhost:999:1") {
      assert(IvfIndex.cellOccupancy(spark, dir).count() > 0)
    }
    // the deferred heal left the arm up (the foreign holder owned it)
    assert(Retract.armBusy(spark, s"$dir/assignments"))
    // 2. a REAL failure inside the now-acquirable heal must SURFACE:
    // plant a corrupt partition pointer — Retract.sweep's pointer GC
    // throws a (non-lock) IllegalStateException the old blanket catch
    // silently deferred forever
    val aDir = new Path(s"$dir/assignments")
    val fs = aDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new Path(aDir, "_pointer"), true)
    try out.write("garbage not a pointer".getBytes(
      java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val e = intercept[IllegalStateException] {
      IvfIndex.cellOccupancy(spark, dir).count()
    }
    assert(e.getMessage.contains("corrupt partition pointer"), e.getMessage)
    assert(!e.isInstanceOf[graft.fs.StoreLockBusyException])
  }
}
