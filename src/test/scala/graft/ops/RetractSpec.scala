package graft.ops

import java.nio.file.Files

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Store retraction (the derived-data takedown path): a retracted doc
  * appears in NO store scan afterwards, a post-retraction batch
  * re-detects against the surviving state correctly (keepers:
  * drop-the-row, next arrival re-keeps), only touched partitions are
  * rewritten, and the marker swap heals after any crash. */
class RetractSpec extends SparkSuite {

  import spark.implicits.newProductEncoder
  import spark.implicits.localSeqToDatasetHolder

  private def dir(tag: String): String =
    Files.createTempDirectory(s"retract_$tag").toString + "/store"

  // ---------------------------------------------------------------- exact

  test("exact: retracted keeper gone; next arrival re-keeps; survivors detect") {
    val d = dir("exact")
    IncrementalDedup.exactBatch(
      Seq((1L, "aaa"), (2L, "bbb")).toDF("doc_id", "text"), d)
    // keeper 1 established; a dup confirms
    val pre = IncrementalDedup.exactBatch(
      Seq((10L, "aaa")).toDF("doc_id", "text"), d).collect()
    assert(pre.head.get(2) == 1L)
    val n = Retract.retract(spark, d, Seq(1L, 10L))
    assert(n == 1L) // one store row (digest aaa -> keeper 1); 10 never kept
    // no store scan shows the retired ids
    assert(spark.read.parquet(d)
      .filter(col("keep_doc_id").isin(1L, 10L)).count() == 0)
    // next arrival of that content RE-KEEPS (novel), later copies cite it,
    // and the surviving keeper (2, "bbb") still detects
    val out = IncrementalDedup.exactBatch(
      Seq((20L, "aaa"), (21L, "aaa"), (22L, "bbb")).toDF("doc_id", "text"), d)
      .collect().map(r => r.getLong(0) -> Option(r.get(2))).toMap
    assert(out(20L).isEmpty)
    assert(out(21L).contains(20L))
    assert(out(22L).contains(2L))
  }

  test("exact: only the touched partitions rewrite (O(touched) witness)") {
    val d = dir("touch")
    val docs = (1L to 64L).map(i => (i, s"content-$i")).toDF("doc_id", "text")
    IncrementalDedup.exactBatch(docs, d, storeParts = 8)
    import org.apache.hadoop.fs.Path
    val fs = new Path(d).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def snapshot(): Map[String, Set[(String, Long)]] =
      fs.listStatus(new Path(d)).filter(_.getPath.getName.startsWith("bp="))
        .map { p =>
          p.getPath.getName -> fs.listStatus(p.getPath)
            .filter(_.getPath.getName.endsWith(".parquet"))
            .map(f => (f.getPath.getName, f.getModificationTime)).toSet
        }.toMap
    val before = snapshot()
    assert(before.size == 8)
    assert(Retract.retract(spark, d, Seq(7L)) == 1L)
    val after = snapshot()
    // exactly one partition changed; the other 7 are byte-untouched
    val changed = before.keySet.filter(k => before(k) != after.getOrElse(k, Set()))
    assert(changed.size == 1, s"changed: $changed")
    assert(spark.read.parquet(d).count() == 63)
  }

  // ----------------------------------------------------- sketch variants

  test("minhash/simhash/ngram: retracted doc pairs with nothing afterwards") {
    val text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val near = text.replace("kappa", "lambda")
    for ((tag, run) <- Seq[(String,
        (org.apache.spark.sql.DataFrame, String) => org.apache.spark.sql.DataFrame)](
      ("minhash", (df, s) => IncrementalDedup.minhashBatch(df, s, threshold = 0.3)),
      ("simhash", (df, s) => IncrementalDedup.simhashBatch(df, s, maxHamming = 10)),
      ("ngram", (df, s) => IncrementalDedup.ngramBatch(df, s, n = 3, threshold = 0.3)))) {
      val d = dir(tag)
      run(Seq((1L, text), (2L, "totally different words entirely here now"))
        .toDF("doc_id", "text"), d)
      // sanity: a near-dup of doc 1 pairs before retraction
      val pre = run(Seq((10L, near)).toDF("doc_id", "text"), d)
      assert(pre.filter(col("doc_a") === 1L || col("doc_b") === 1L).count() > 0,
        s"$tag: expected a pre-retraction pair")
      Retract.retract(spark, d, Seq(1L, 10L))
      val dataCols = spark.read.parquet(d)
      assert(dataCols.filter(col("doc_id").isin(1L, 10L)).count() == 0,
        s"$tag: retired rows survived")
      // the same near-dup now finds nothing (its only neighbor is gone)
      val post = run(Seq((20L, near)).toDF("doc_id", "text"), d)
      assert(post.filter(col("doc_a").isin(1L, 10L) ||
        col("doc_b").isin(1L, 10L)).count() == 0, s"$tag: ghost pair")
      assert(post.filter(col("doc_a") === 2L || col("doc_b") === 2L).count() == 0)
    }
  }

  test("embedding (inline + split): retracted vectors leave no rows, no pairs") {
    val v = Seq(1.0, 0.0, 0.0, 0.0)
    val w = Seq(0.0, 1.0, 0.0, 0.0)
    for (layout <- Seq("inline", "split")) {
      val d = dir(s"emb_$layout")
      IncrementalDedup.embeddingBatch(
        Seq((1L, v), (2L, w)).toDF("vec_id", "embedding"), d, layout = layout)
      val pre = IncrementalDedup.embeddingBatch(
        Seq((10L, v)).toDF("vec_id", "embedding"), d, layout = layout)
      assert(pre.count() == 1) // 10 ~ 1 at cosine 1.0
      // the bucket-partitioned arm carries the doc→bp index (r16)
      val dataDir = if (layout == "split") s"$d/postings" else d
      val dpParts =
        IncrementalDedup.storeManifest(spark, d)("doc_index_parts").toInt
      val trueBps = spark.read.parquet(dataDir).filter(col("vec_id") === 1L)
        .select("bp").distinct().collect().map(_.getInt(0)).toSet
      assert(IncrementalDedup.docIndexBps(spark, dataDir, Seq(1L), dpParts,
        IncrementalDedup.storeManifest(spark, d))
        .map(_.toSet).contains(trueBps), s"$layout: index bps wrong")
      Retract.retract(spark, d, Seq(1L, 10L))
      assert(IncrementalDedup.docIndexBps(spark, dataDir, Seq(1L, 10L), dpParts,
        IncrementalDedup.storeManifest(spark, d))
        .contains(Seq.empty), s"$layout: retired pairs survived the index")
      assert(spark.read.parquet(dataDir)
        .filter(col("vec_id").isin(1L, 10L)).count() == 0)
      if (layout == "split")
        assert(spark.read.parquet(s"$d/vectors")
          .filter(col("vec_id").isin(1L, 10L)).count() == 0)
      val post = IncrementalDedup.embeddingBatch(
        Seq((20L, v)).toDF("vec_id", "embedding"), d, layout = layout)
      assert(post.count() == 0, s"$layout: ghost pair after retraction")
    }
  }

  // ------------------------------------------------------------------ span

  test("span: retracted keeper's windows re-keep on next arrival") {
    val d = dir("span")
    IncrementalSpanDedup.spanBatch(
      Seq((1L, "a b c d e f"), (2L, "p q r s t u")).toDF("doc_id", "text"),
      d, w = 3)
    // doc 9 duplicates doc 1's windows before retraction
    val pre = IncrementalSpanDedup.spanBatch(
      Seq((9L, "a b c z z z")).toDF("doc_id", "text"), d, w = 3)
    assert(pre.filter(col("keep_doc_id") === 1L).count() > 0)
    Retract.retract(spark, d, Seq(1L))
    assert(spark.read.parquet(d).filter(col("keep_doc_id") === 1L).count() == 0)
    // next arrival of doc-1 content re-keeps: first occurrence reports
    // nothing, a copy in the same batch cites the NEW keeper; and doc-2
    // content still detects against its surviving keeper
    val out = IncrementalSpanDedup.spanBatch(
      Seq((30L, "a b c d e f"), (31L, "a b c y y y"), (32L, "p q r w w w"))
        .toDF("doc_id", "text"), d, w = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(!out.exists(_._1 == 30L), s"new keeper reported as dup: $out")
    assert(out.contains((31L, 30L)))
    assert(out.contains((32L, 2L)))
  }

  // ----------------------------------------------------------- components

  test("components: retired id vanishes as vertex AND as cluster name") {
    val d = dir("comp")
    // two batches so the merge log is live: {2,3} rooted 2, then 1 joins
    IncrementalComponents.addPairs(Seq((2L, 3L)).toDF("doc_a", "doc_b"), d)
    IncrementalComponents.addPairs(Seq((1L, 2L)).toDF("doc_a", "doc_b"), d)
    // separate cluster {5,6}; retract a NON-root there too
    IncrementalComponents.addPairs(Seq((5L, 6L)).toDF("doc_a", "doc_b"), d)
    assert(IncrementalComponents.labels(spark, d)
      .filter(col("v").isin(2L, 3L) && col("component") === 1L).count() == 2)
    Retract.retract(spark, d, Seq(1L, 6L))
    val labels = IncrementalComponents.labels(spark, d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // no retired id anywhere — not as v, not as a component name
    assert(!labels.contains(1L) && !labels.contains(6L))
    assert(!labels.values.exists(c => c == 1L || c == 6L))
    // the survivors re-canonicalized to their min surviving member
    assert(labels == Map(2L -> 2L, 3L -> 2L, 5L -> 5L))
    assert(IncrementalComponents.keepers(spark, d).collect()
      .map(_.getLong(0)).toSet == Set(2L, 5L))
    // the store keeps absorbing batches correctly afterwards
    val view = IncrementalComponents.addPairs(
      Seq((3L, 4L)).toDF("doc_a", "doc_b"), d)
    assert(view.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(3L -> 2L, 4L -> 2L))
  }

  // ------------------------------------------------------------------- ivf

  test("ivf: retracted vector unsearchable; re-append restores it") {
    val d = Files.createTempDirectory("retract_ivf").toString + "/idx"
    val vecs = (0L until 12L).map { i =>
      // distinct directions: a clone-free corpus so exact-match top-1
      // is unambiguous
      val v = Array.fill(4)(0.1); v((i % 4).toInt) = 1.0 + 0.05 * i
      v(((i + 1) % 4).toInt) = 0.1 + 0.02 * i
      (i, v.toSeq)
    }.toDF("vec_id", "embedding")
    IvfIndex.build(vecs, d, nlist = 4)
    val q = vecs.filter(col("vec_id") === 7L)
    def top1(): Long = IvfIndex.search(spark, d, q, k = 1, nprobe = 4)
      .collect().head.getLong(1)
    assert(top1() == 7L)
    assert(IvfIndex.retract(spark, d, Seq(7L)) == 1L)
    assert(spark.read.parquet(s"$d/assignments")
      .filter(col("id") === 7L).count() == 0)
    assert(top1() != 7L)
    IvfIndex.append(vecs.filter(col("vec_id") === 7L), d)
    assert(top1() == 7L)
  }

  test("components: one compound marker heals rows AND names together") {
    import org.apache.hadoop.fs.Path
    val d = dir("comp_crash")
    // cluster {1,2,3} named 1; cluster {5,6} named 5; retire id 1
    IncrementalComponents.addPairs(
      Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc_a", "doc_b"), d)
    val lp = s"$d/labels"
    val fs = new Path(lp).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // manufacture the compound rewrite's commit point by hand: stage the
    // touched partitions with BOTH effects applied (v=1 dropped, cluster
    // 1 renamed to its min survivor 2), write the ONE marker, crash
    // before any rename — the shape the old two-commit flow could split
    val live = spark.read.schema("v BIGINT, component BIGINT, bp INT").parquet(lp)
    val touched = live.filter(col("v") === 1L || col("component") === 1L)
      .select("bp").distinct().collect().map(_.getInt(0)).toIndexedSeq
    live.filter(col("bp").isin(touched: _*))
      .filter(col("v") =!= 1L)
      .withColumn("component",
        when(col("component") === 1L, lit(2L)).otherwise(col("component")))
      .write.partitionBy("bp").parquet(s"$lp/_retract_tmp")
    val lines = touched.map(b => s"bp=$b").map { n =>
      if (fs.exists(new Path(s"$lp/_retract_tmp", n))) s"replace:$n" else s"drop:$n"
    }
    val out = fs.create(new Path(lp, "_retract_pending"), true)
    out.write(lines.mkString("\n").getBytes("UTF-8")); out.close()
    // the next locked cycle sweeps ONCE and both effects land — no
    // intermediate where labels name a retired doc while its rows are
    // gone (the single marker is the whole point)
    val view = IncrementalComponents.addPairs(
      Seq((5L, 7L)).toDF("doc_a", "doc_b"), d)
    assert(view.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(5L -> 5L, 7L -> 5L))
    val labels = IncrementalComponents.labels(spark, d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(2L -> 2L, 3L -> 2L, 5L -> 5L, 6L -> 5L, 7L -> 5L),
      s"compound heal incomplete: $labels")
    assert(!fs.exists(new Path(lp, "_retract_pending")))
  }

  test("a 1100-id batch retracts through the broadcast-join path") {
    val d = dir("bigbatch")
    val docs = (1L to 64L).map(i => (i, s"content-$i")).toDF("doc_id", "text")
    IncrementalDedup.exactBatch(docs, d, storeParts = 8)
    // 1100 > IsinThreshold: isin gives way to the broadcast semi/anti
    // join; most ids are absent — only the 64 keepers actually go
    assert(Retract.retract(spark, d, (1L to 1100L)) == 64L)
    // every keeper went, so every data partition dropped whole
    val fs = new org.apache.hadoop.fs.Path(d)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.listStatus(new org.apache.hadoop.fs.Path(d))
      .exists(_.getPath.getName.startsWith("bp=")))
    // components through the same path: compound matcher's join arms
    val c = dir("bigbatch_comp")
    IncrementalComponents.addPairs(
      Seq((1L, 2L), (3L, 4L), (2000L, 2001L)).toDF("doc_a", "doc_b"), c)
    assert(Retract.retract(spark, c, (1L to 1100L)) == 4L)
    assert(IncrementalComponents.labels(spark, c).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(2000L -> 2000L, 2001L -> 2000L))
  }

  test("bpsOf buckets ids on the driver exactly as the stores' pmod(xxhash64) does") {
    val rnd = new scala.util.Random(11)
    val ids = Seq(0L, 1L, -1L, Long.MinValue, Long.MaxValue) ++
      Seq.fill(500)(rnd.nextLong())
    val frame = ids.map(Tuple1(_)).toDF("id")
    for (parts <- Seq(1, 7, 16, 32, 64, 256, 65536)) {
      val want = frame.select(IncrementalDedup.bpOf(parts, col("id")))
        .collect().map(_.getInt(0)).toSeq
      assert(ids.map(id => Retract.bpsOf(Seq(id), parts)) == want.map(Seq(_)),
        s"parts=$parts")
      assert(Retract.bpsOf(ids, parts).sorted == want.distinct.sorted, s"parts=$parts")
    }
  }

  test("ivf manifest dispatches to IvfIndex.retract (r14 ADVICE)") {
    val d = Files.createTempDirectory("retract_ivf_route").toString + "/idx"
    val vecs = (0L until 8L).map { i =>
      val v = Array.fill(4)(0.1); v((i % 4).toInt) = 1.0 + 0.05 * i
      (i, v.toSeq)
    }.toDF("vec_id", "embedding")
    IvfIndex.build(vecs, d, nlist = 2)
    // the generic entry point routes instead of erroring "unknown variant"
    assert(Retract.retract(spark, d, Seq(3L)) == 1L)
    assert(spark.read.parquet(s"$d/assignments")
      .filter(col("id") === 3L).count() == 0)
  }

  // ------------------------------------------------------------ crash heal

  test("marker roll-forward: replace + drop complete; already-placed survives") {
    import org.apache.hadoop.fs.Path
    val root = Files.createTempDirectory("retract_crash").toString
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def write(bp: Int, ids: Seq[Long], where: String): Unit =
      ids.map(i => (i, s"row-$i")).toDF("id", "payload")
        .withColumn("bp", lit(bp))
        .coalesce(1).write.mode("append").partitionBy("bp").parquet(where)
    // live store: bp=0 (to replace), bp=1 (to drop), bp=2 (untouched)
    write(0, Seq(1L, 2L), root)
    write(1, Seq(3L), root)
    write(2, Seq(4L), root)
    // staged replacement for bp=0 (row 1 removed); marker committed;
    // CRASH before any rename
    write(0, Seq(2L), s"$root/_retract_tmp")
    val out = fs.create(new Path(root, "_retract_pending"), true)
    out.write("replace:bp=0\ndrop:bp=1".getBytes("UTF-8")); out.close()
    Retract.sweep(spark, root)
    val rows = spark.read.parquet(root).select("id").collect()
      .map(_.getLong(0)).toSet
    assert(rows == Set(2L, 4L), s"got $rows")
    assert(!fs.exists(new Path(root, "_retract_pending")))
    assert(!fs.exists(new Path(root, "_retract_tmp")))
    // second crash shape: replace already PLACED (tmp entry gone), drop
    // already done — a re-sweep must keep the new bp=0, not delete it
    val out2 = fs.create(new Path(root, "_retract_pending"), true)
    out2.write("replace:bp=0\ndrop:bp=1".getBytes("UTF-8")); out2.close()
    fs.mkdirs(new Path(root, "_retract_tmp")) // empty: everything placed
    Retract.sweep(spark, root)
    val rows2 = spark.read.parquet(root).select("id").collect()
      .map(_.getLong(0)).toSet
    assert(rows2 == Set(2L, 4L), s"re-sweep corrupted the store: $rows2")
    // pre-marker crash: tmp only — discarded, store untouched
    write(0, Seq(99L), s"$root/_retract_tmp")
    Retract.sweep(spark, root)
    assert(!fs.exists(new Path(root, "_retract_tmp")))
    assert(spark.read.parquet(root).select("id").collect()
      .map(_.getLong(0)).toSet == Set(2L, 4L))
    // rename-fence crash shapes (r14 ADVICE): (a) live fenced out to the
    // _retractold_ sibling but the staged dir not yet placed — the sweep
    // places it and drops the corpse; (b) placed but corpse not dropped
    require(fs.rename(new Path(root, "bp=0"), new Path(root, "_retractold_bp=0")))
    write(0, Seq(7L), s"$root/_retract_tmp")
    val out3 = fs.create(new Path(root, "_retract_pending"), true)
    out3.write("replace:bp=0".getBytes("UTF-8")); out3.close()
    Retract.sweep(spark, root)
    assert(spark.read.parquet(root).select("id").collect()
      .map(_.getLong(0)).toSet == Set(7L, 4L))
    assert(!fs.exists(new Path(root, "_retractold_bp=0")))
    write(0, Seq(8L), s"$root/_retractold_bp=0") // shape (b): corpse only
    val out4 = fs.create(new Path(root, "_retract_pending"), true)
    out4.write("replace:bp=0".getBytes("UTF-8")); out4.close()
    fs.mkdirs(new Path(root, "_retract_tmp"))
    Retract.sweep(spark, root)
    assert(spark.read.parquet(root).select("id").collect()
      .map(_.getLong(0)).toSet == Set(7L, 4L))
    assert(!fs.exists(new Path(root, "_retractold_bp=0")))
  }

  test("a batch cycle heals a crashed retraction before reading") {
    import org.apache.hadoop.fs.Path
    val d = dir("heal")
    IncrementalDedup.exactBatch(
      Seq((1L, "aaa"), (2L, "bbb")).toDF("doc_id", "text"), d)
    // manufacture a committed-but-unswapped retraction of doc 1: stage
    // every partition's filtered copy, marker, no renames
    val fs = new Path(d).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = spark.read.parquet(d)
    val parts = fs.listStatus(new Path(d))
      .filter(_.getPath.getName.startsWith("bp=")).map(_.getPath.getName)
    val touched = live.filter(col("keep_doc_id") === 1L)
      .select("bp").distinct().collect().map(r => s"bp=${r.getInt(0)}").toIndexedSeq
    live.filter(col("keep_doc_id") =!= 1L)
      .filter(col("bp").isin(touched.map(_.stripPrefix("bp=").toInt): _*))
      .write.partitionBy("bp").parquet(s"$d/_retract_tmp")
    val lines = touched.map { n =>
      if (fs.exists(new Path(s"$d/_retract_tmp", n))) s"replace:$n" else s"drop:$n"
    }
    val out = fs.create(new Path(d, "_retract_pending"), true)
    out.write(lines.mkString("\n").getBytes("UTF-8")); out.close()
    // the next ordinary cycle sweeps, then computes against the healed
    // store: content "aaa" is novel again
    val verdicts = IncrementalDedup.exactBatch(
      Seq((30L, "aaa"), (31L, "bbb")).toDF("doc_id", "text"), d)
      .collect().map(r => r.getLong(0) -> Option(r.get(2))).toMap
    assert(verdicts(30L).isEmpty)
    assert(verdicts(31L).contains(2L))
    assert(!fs.exists(new Path(d, "_retract_pending")))
  }

  // ------------------------------------------- doc→bp retraction index

  private def mkDocs(n: Int): org.apache.spark.sql.DataFrame =
    (1 to n).map(i =>
      (i.toLong, s"document $i with words w${i}a w${i}b w${i}c w${i}d"))
      .toDF("doc_id", "text")

  test("doc index: takedown discovery prunes to the index's bps (O(touched))") {
    import org.apache.hadoop.fs.Path
    val d = dir("dix")
    // 2048 docs x 16 bands over 256 partitions: one doc's rows live in
    // <=16 of 256 bps (~6%), so the indexed path's saving dominates the
    // read differential below regardless of row-group stat effects
    IncrementalDedup.minhashBatch(mkDocs(2048), d, storeParts = 256)
    val fs = new Path(d).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new Path(d, "_doc_index")), "index written at creation")
    assert(IncrementalDedup.storeManifest(spark, d)
      .get("doc_index").contains("1"))
    // the index names EXACTLY the bps doc 7's band rows live in
    val trueBps = spark.read.parquet(d).filter(col("doc_id") === 7L)
      .select("bp").distinct().collect().map(_.getInt(0)).toSet
    val dpParts = IncrementalDedup.storeManifest(spark, d)("doc_index_parts").toInt
    val idxBps = IncrementalDedup.docIndexBps(spark, d, Seq(7L), dpParts,
      IncrementalDedup.storeManifest(spark, d))
    assert(idxBps.map(_.toSet).contains(trueBps))
    // input-records differential: the indexed takedown reads the dp
    // partitions + touched bps; the legacy full-scan discovery reads
    // the whole store id column. Same removal either way.
    def meterRead(body: => Long): (Long, Long) = {
      val rec = new java.util.concurrent.atomic.AtomicLong
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val m = sc.stageInfo.taskMetrics
          if (m != null) { rec.addAndGet(m.inputMetrics.recordsRead); () }
        }
      }
      spark.sparkContext.addSparkListener(l)
      try {
        val out = body
        // listener bus is async: poll until the counter stabilizes
        var stable = 0; var last = -1L
        val deadline = System.currentTimeMillis() + 10000
        while (stable < 3 && System.currentTimeMillis() < deadline) {
          Thread.sleep(50)
          val now = rec.get
          if (now == last) stable += 1 else { stable = 0; last = now }
        }
        (out, rec.get)
      } finally spark.sparkContext.removeSparkListener(l)
    }
    val (removedIdx, readIdx) = meterRead(Retract.retract(spark, d, Seq(7L)))
    assert(removedIdx == 16L) // 16 band rows
    // the retired doc's pairs left the index itself
    assert(IncrementalDedup.docIndexBps(spark, d, Seq(7L), dpParts,
      IncrementalDedup.storeManifest(spark, d))
      .contains(Seq.empty))
    assert(spark.read.parquet(d).filter(col("doc_id") === 7L).count() == 0)
    // legacy twin: same store content, index disabled — full discovery
    val d2 = dir("dix_legacy")
    IncrementalDedup.minhashBatch(mkDocs(2048), d2, storeParts = 256)
    val fs2 = new Path(d2).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs2.delete(new Path(d2, "_doc_index"), true)
    val mPath = new Path(d2, "_graft_store.json")
    val body = {
      val in = fs2.open(mPath)
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }
    fs2.delete(mPath, false)
    val out2 = fs2.create(mPath, true)
    out2.write(body.replace("\"doc_index\":\"1\",", "")
      .replace(",\"doc_index\":\"1\"", "").getBytes("UTF-8"))
    out2.close()
    val (removedLeg, readLeg) = meterRead(Retract.retract(spark, d2, Seq(7L)))
    assert(removedLeg == 16L, "legacy full-scan path removes identically")
    // strict differential only: at THIS fixture size the dp slice the
    // index reads (3 × idxRows/16) is a visible fraction; at real store
    // sizes it is O(batch) while the legacy scan stays O(store) — the
    // DeleteSoak cascade rows carry the at-scale numbers
    assert(readIdx < readLeg,
      s"indexed discovery must read less: $readIdx vs $readLeg")
  }

  test("doc index: flag present but directory gone falls back to full scan") {
    import org.apache.hadoop.fs.Path
    val d = dir("dix_gone")
    IncrementalDedup.minhashBatch(mkDocs(32), d, storeParts = 8)
    val fs = new Path(d).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(d, "_doc_index"), true) // operator damage
    // trusting the flag would retract NOTHING — the fallback must not
    assert(Retract.retract(spark, d, Seq(5L)) == 16L)
    assert(spark.read.parquet(d).filter(col("doc_id") === 5L).count() == 0)
  }

  test("doc index: superset pairs (crash between the two appends) only cost pruning") {
    val d = dir("dix_super")
    IncrementalDedup.minhashBatch(mkDocs(16), d, storeParts = 8)
    // a crashed cycle left index pairs whose store rows never landed
    val dpS = IncrementalDedup.storeManifest(spark, d)("doc_index_parts").toInt
    IncrementalDedup.appendDocIndex(
      Seq((999L, 3)).toDF("doc_id", "bp"), d, "doc_id", dpS)
    assert(Retract.retract(spark, d, Seq(999L)) == 0L) // no rows, no error
    // and the over-claimed pair was erased with the takedown
    assert(IncrementalDedup.docIndexBps(spark, d, Seq(999L), dpS,
      IncrementalDedup.storeManifest(spark, d))
      .contains(Seq.empty))
  }

  test("doc index: replay duplicates are harmless; rebuild migrates") {
    import org.apache.hadoop.fs.Path
    val d = dir("dix_retry")
    val batch = mkDocs(16)
    IncrementalDedup.minhashBatch(batch, d, storeParts = 8)
    val once = spark.read.parquet(s"$d/_doc_index").count()
    IncrementalDedup.minhashBatch(batch, d) // full replay, same rows
    // the index append is a pure O(batch) write with NO idempotency
    // anti-join (the r16 soak measured the anti-join's per-cycle index
    // read breaking the ngram bloom's flat novel appends) — a replay
    // appends its pairs AGAIN, bounded by the replay count...
    val twice = spark.read.parquet(s"$d/_doc_index").count()
    assert(twice <= 2 * once, s"replay growth unbounded: $once -> $twice")
    // ...and duplicates are correctness-free: the consult still returns
    // the EXACT bp set and retraction erases every copy
    val dpParts =
      IncrementalDedup.storeManifest(spark, d)("doc_index_parts").toInt
    val trueBps7 = spark.read.parquet(d).filter(col("doc_id") === 7L)
      .select("bp").distinct().collect().map(_.getInt(0)).toSet
    assert(IncrementalDedup.docIndexBps(spark, d, Seq(7L), dpParts,
      IncrementalDedup.storeManifest(spark, d))
      .map(_.toSet).contains(trueBps7))
    assert(Retract.retract(spark, d, Seq(7L)) == 16L)
    assert(IncrementalDedup.docIndexBps(spark, d, Seq(7L), dpParts,
      IncrementalDedup.storeManifest(spark, d))
      .contains(Seq.empty))
    assert(spark.read.parquet(d).filter(col("doc_id") === 7L).count() == 0)
    // rebuild re-derives the index against the REHASHED bps and stamps
    // the flag — also the legacy-store migration path
    val fs = new Path(d).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(d, "_doc_index"), true)
    val d3 = dir("dix_rebuilt")
    IncrementalDedup.rebuildStore(spark, d, d3, newParts = 4)
    assert(IncrementalDedup.storeManifest(spark, d3)
      .get("doc_index").contains("1"))
    // doc 7 was retracted above — the rebuild checks pivot to doc 8
    val trueBps = spark.read.parquet(d3).filter(col("doc_id") === 8L)
      .select("bp").distinct().collect().map(_.getInt(0)).toSet
    val dpR = IncrementalDedup.storeManifest(spark, d3)("doc_index_parts").toInt
    assert(IncrementalDedup.docIndexBps(spark, d3, Seq(8L), dpR,
      IncrementalDedup.storeManifest(spark, d3))
      .map(_.toSet).contains(trueBps))
    assert(Retract.retract(spark, d3, Seq(8L)) == 16L)
  }
}
