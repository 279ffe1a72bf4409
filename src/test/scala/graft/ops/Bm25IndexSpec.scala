package graft.ops

import java.nio.file.Files

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Persisted BM25 index: exact parity with the corpus-scan operator,
  * incremental append semantics, term-partition pruning, retraction
  * with exact stats accounting, and the fully-indexed hybrid. */
class Bm25IndexSpec extends SparkSuite {

  import spark.implicits.newProductEncoder
  import spark.implicits.localSeqToDatasetHolder

  private def dir(tag: String): String =
    Files.createTempDirectory(s"bm25idx_$tag").toString + "/idx"

  private lazy val docs = spark.read.parquet(s"$sf/documents.parquet")
    .select("doc_id", "text")
  private def queries = Seq((0L, "hash join merge"), (1L, "scan filter column"))
    .toDF("query_id", "query")

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("query_id", "rank").collect().map(_.toString).toSeq

  test("index search equals the corpus-scan operator exactly") {
    val d = dir("parity")
    assert(Bm25Index.indexBatch(docs, d) == docs.count())
    // query_id keeps the caller's type and nullability: long, int,
    // string, and a nullable long carrying a NULL id
    val texts = Seq("hash join merge", "scan filter column")
    val byType = Seq(queries,
      texts.zipWithIndex.map { case (t, i) => (i, t) }.toDF("query_id", "query"),
      texts.zipWithIndex.map { case (t, i) => (s"q$i", t) }.toDF("query_id", "query"),
      texts.zip(Seq(Some(7L), None)).map(_.swap).toDF("query_id", "query"))
    for (q <- byType) {
      val search = Bm25Index.search(spark, d, q, k = 5)
      assert(search.schema("query_id") == q.schema("query_id"))
      val got = rows(search)
      val want = rows(Bm25.search(docs, q, k = 5))
      assert(got == want && got.nonEmpty)
      assert(search.select("query_id").distinct().count() == 2)
    }
  }

  test("a search prelude above its row bound fails with a clear message") {
    val prelude = spark.range(6).toDF("query_id")
    assert(IncrementalDedup.collectPrelude(prelude, "probe", max = 6).length == 6)
    val e = intercept[IllegalArgumentException](
      IncrementalDedup.collectPrelude(prelude, "probe", max = 5))
    assert(e.getMessage.contains("probe: 6 query-side rows exceed the 5-row bound"),
      e.getMessage)
  }

  test("incremental appends equal one build; replays append nothing") {
    val d1 = dir("inc")
    val half = docs.count() / 2
    assert(Bm25Index.indexBatch(docs.filter(col("doc_id") < half), d1) == half)
    assert(Bm25Index.indexBatch(docs.filter(col("doc_id") >= half), d1) ==
      docs.count() - half)
    // replayed batch: doc-granular no-op — tables and stats unchanged
    val pBefore = spark.read.parquet(s"$d1/postings").count()
    val statsBefore = Bm25Index.readStats(spark, d1)
    assert(Bm25Index.indexBatch(docs.filter(col("doc_id") < half), d1) == 0L)
    assert(spark.read.parquet(s"$d1/postings").count() == pBefore)
    assert(Bm25Index.readStats(spark, d1) == statsBefore)
    // the two-batch index searches identically to a one-shot build
    val d2 = dir("oneshot")
    Bm25Index.indexBatch(docs, d2)
    assert(rows(Bm25Index.search(spark, d1, queries, k = 5)) ==
      rows(Bm25Index.search(spark, d2, queries, k = 5)))
  }

  test("a legacy index (no term-bloom keys, no doc index) grows, searches and retracts") {
    val d = dir("legacy")
    val half = docs.count() / 2
    assert(Bm25Index.indexBatch(docs.filter(col("doc_id") < half), d) == half)
    // strip the manifest back to its pre-bloom, pre-index shape
    val fs = new org.apache.hadoop.fs.Path(d)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val legacy = IncrementalDedup.storeManifest(spark, d)
      .filter { case (k, _) => k == "variant" || k == "store_parts" }
    IncrementalDedup.updateManifest(fs, d, legacy)
    assert(fs.delete(new org.apache.hadoop.fs.Path(d, "_term_bloom"), false))
    assert(fs.delete(new org.apache.hadoop.fs.Path(s"$d/postings/_doc_index"), true))
    assert(Bm25Index.indexBatch(docs.filter(col("doc_id") >= half), d) ==
      docs.count() - half)
    assert(Bm25Index.indexBatch(docs.filter(col("doc_id") >= half), d) == 0L)
    // the cycles kept the legacy shape: no key, sidecar or index appeared
    assert(IncrementalDedup.storeManifest(spark, d) == legacy)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(d, "_term_bloom")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$d/postings/_doc_index")))
    assert(rows(Bm25Index.search(spark, d, queries, k = 5)) ==
      rows(Bm25.search(docs, queries, k = 5)))
    val victim = Bm25Index.search(spark, d, queries, k = 1).collect().head.getLong(1)
    assert(Retract.retract(spark, d, Seq(victim)) > 0)
    assert(rows(Bm25Index.search(spark, d, queries, k = 5)) ==
      rows(Bm25.search(docs.filter(col("doc_id") =!= victim), queries, k = 5)))
  }

  test("an in-batch repeated doc_id indexes once with undoubled tf") {
    val d = dir("dupid")
    val batch = Seq((1L, "spark spark runs"), (1L, "spark spark runs"),
      (2L, "ducks swim")).toDF("doc_id", "text")
    assert(Bm25Index.indexBatch(batch, d) == 2L)
    val row = spark.read.parquet(s"$d/postings")
      .filter(col("doc_id") === 1L && col("term") === "spark")
      .collect()
    assert(row.length == 1 && row.head.getAs[Double]("tf") == 2.0,
      s"tf doubled by the in-batch id repeat: ${row.toSeq}")
    assert(Bm25Index.readStats(spark, d).map(_._1).contains(2L))
  }

  test("NULL text counts in N but not in avgdl (search-stats parity)") {
    val d = dir("nulls")
    val withNull = docs.unionByName(
      Seq((999999L, Option.empty[String])).toDF("doc_id", "text"))
    Bm25Index.indexBatch(withNull, d)
    val Some((n, nt, _)) = Bm25Index.readStats(spark, d)
    assert(n == docs.count() + 1 && nt == docs.count())
    // and parity holds against the scan operator on the same corpus
    assert(rows(Bm25Index.search(spark, d, queries, k = 5)) ==
      rows(Bm25.search(withNull, queries, k = 5)))
  }

  test("search reads only the query terms' partitions (pruning witness)") {
    val d = dir("prune")
    // explicit geometry so term partitions outnumber the query's terms
    Bm25Index.indexBatch(docs, d, storeParts = 64)
    val one = Seq((0L, "hash")).toDF("query_id", "query")
    val lowIo = recordsReadDuring {
      Bm25Index.search(spark, d, one, k = 5).count()
    }
    val full = spark.read.parquet(s"$d/postings").count()
    assert(lowIo < full / 4,
      s"1-term search read $lowIo of $full posting rows — pruning lost")
  }

  test("postings doc index: exact bps, erased with the doc (r16)") {
    val d = dir("dix")
    Bm25Index.indexBatch(docs.limit(50), d)
    val mf = IncrementalDedup.storeManifest(spark, d)
    assert(mf.get("doc_index").contains("1"))
    val dp = mf("doc_index_parts").toInt
    val trueBps = spark.read.parquet(s"$d/postings")
      .filter(col("doc_id") === 3L)
      .select("bp").distinct().collect().map(_.getInt(0)).toSet
    assert(IncrementalDedup.docIndexBps(spark, s"$d/postings", Seq(3L), dp, mf)
      .map(_.toSet).contains(trueBps))
    Retract.retract(spark, d, Seq(3L))
    assert(IncrementalDedup.docIndexBps(spark, s"$d/postings", Seq(3L), dp, mf)
      .contains(Seq.empty))
    assert(spark.read.parquet(s"$d/postings")
      .filter(col("doc_id") === 3L).count() == 0)
  }

  test("retraction: unsearchable, stats exact, df re-adjusts") {
    val d = dir("retract")
    Bm25Index.indexBatch(docs, d)
    val Some((n0, nt0, td0)) = Bm25Index.readStats(spark, d)
    val victim = Bm25Index.search(spark, d, queries, k = 1)
      .collect().head.getLong(1)
    val victimDl = docs.filter(col("doc_id") === victim)
      .select(size(TextAnalysis.tokens(col("text"))).cast("double"))
      .collect().head.getDouble(0)
    assert(Retract.retract(spark, d, Seq(victim)) > 0)
    assert(spark.read.parquet(s"$d/postings")
      .filter(col("doc_id") === victim).count() == 0)
    assert(spark.read.parquet(s"$d/docs")
      .filter(col("doc_id") === victim).count() == 0)
    assert(Bm25Index.readStats(spark, d).contains(
      (n0 - 1, nt0 - 1, td0 - victimDl)))
    assert(!Bm25Index.search(spark, d, queries, k = 5)
      .collect().map(_.getLong(1)).contains(victim))
    // parity with the scan operator over the shrunken corpus
    assert(rows(Bm25Index.search(spark, d, queries, k = 5)) ==
      rows(Bm25.search(docs.filter(col("doc_id") =!= victim), queries, k = 5)))
  }

  test("a retract finishes a crashed postings compaction first: the retired doc stays gone") {
    val d = dir("trashretract")
    val corpus = Seq((40L, "spark engine fast"), (41L, "zebra crossing stripes"),
      (42L, "engine oil change")).toDF("doc_id", "text")
    Bm25Index.indexBatch(corpus, d, storeParts = 8)
    val zebra = Seq((0L, "zebra")).toDF("query_id", "query")
    assert(Bm25Index.search(spark, d, zebra, k = 5).collect().map(_.getLong(1))
      .toSeq == Seq(41L))
    // a compaction crashed between its two renames: the live partition
    // holding the term sits in `_compact_trash`, its compacted copy in
    // `_compact_tmp`
    val bp = spark.read.parquet(s"$d/postings").filter(col("term") === "zebra")
      .select("bp").head().getInt(0)
    val postings = new org.apache.hadoop.fs.Path(s"$d/postings")
    val fs = postings.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = new org.apache.hadoop.fs.Path(postings, s"bp=$bp")
    val trash = new org.apache.hadoop.fs.Path(postings, "_compact_trash")
    val tmp = new org.apache.hadoop.fs.Path(postings, "_compact_tmp")
    assert(fs.mkdirs(trash) && fs.mkdirs(tmp))
    assert(org.apache.hadoop.fs.FileUtil.copy(fs, live, fs,
      new org.apache.hadoop.fs.Path(tmp, s"bp=$bp"), false,
      spark.sparkContext.hadoopConfiguration))
    assert(fs.rename(live, new org.apache.hadoop.fs.Path(trash, s"bp=$bp")))
    Retract.retract(spark, d, Seq(41L))
    IncrementalDedup.compactStore(spark, d)
    assert(spark.read.parquet(s"$d/postings").filter(col("doc_id") === 41L).count() == 0)
    assert(Bm25Index.search(spark, d, zebra, k = 5).isEmpty)
  }

  test("a compaction moves the postings swap epoch: seqlock readers see it") {
    val d = dir("compactepoch")
    val corpus = docs.orderBy("doc_id").limit(30).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    // three batches into one partition: three files in each table
    corpus.grouped(10).foreach(b => Bm25Index.indexBatch(b.toDF("doc_id", "text"), d, storeParts = 1))
    val before = rows(Bm25Index.search(spark, d, queries, k = 5))
    val e0 = Retract.epoch(spark, s"$d/postings")
    assert(IncrementalDedup.compactStore(spark, d) == 2)
    assert(Retract.epoch(spark, s"$d/postings") > e0,
      "a compaction swapped postings without moving the seqlock epoch")
    assert(rows(Bm25Index.search(spark, d, queries, k = 5)) == before)
  }

  test("a lost stats write after a retract heals on ANY retry (r14 ADVICE)") {
    val d = dir("statsdrift")
    Bm25Index.indexBatch(docs, d)
    val overcounted = Bm25Index.readStats(spark, d).get
    val victim = docs.select("doc_id").collect().head.getLong(0)
    assert(Retract.retract(spark, d, Seq(victim)) > 0)
    val healed = Bm25Index.readStats(spark, d).get
    assert(healed._1 == overcounted._1 - 1)
    // manufacture the crash: docs/ rewrite committed, stats write lost —
    // the totals read as if the doc were still indexed
    val fs = new org.apache.hadoop.fs.Path(d)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new org.apache.hadoop.fs.Path(d, "_bm25_stats"), true)
    out.write((s"""{"n_docs":${overcounted._1},"n_text":${overcounted._2},""" +
      s""""total_dl":${overcounted._3}}""").getBytes("UTF-8"))
    out.close()
    // the retry removes ZERO rows (already gone) — under the old delta
    // decrement that never healed; the exact recompute does
    assert(Retract.retract(spark, d, Seq(victim)) == 0L)
    assert(Bm25Index.readStats(spark, d).contains(healed))
  }

  test("idf clamps at zero on a postings-crash-shaped index") {
    val d = dir("clamp")
    Bm25Index.indexBatch(docs, d)
    // manufacture the crash shape: stats recomputed from a docs/ table
    // missing a batch whose postings landed — n_docs below common df
    val fs = new org.apache.hadoop.fs.Path(d)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new org.apache.hadoop.fs.Path(d, "_bm25_stats"), true)
    out.write("""{"n_docs":1,"n_text":1,"total_dl":40.0}""".getBytes("UTF-8"))
    out.close()
    val scores = Bm25Index.search(spark, d, queries, k = 10)
      .select("bm25").collect().map(_.getDouble(0))
    assert(scores.nonEmpty && scores.forall(_ >= 0.0),
      s"negative idf leaked through the clamp: ${scores.filter(_ < 0).toSeq}")
  }

  test("recomputeStats heals a missing stats file; search demands it") {
    val d = dir("stats")
    Bm25Index.indexBatch(docs, d)
    val before = Bm25Index.readStats(spark, d)
    val fs = new org.apache.hadoop.fs.Path(d)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(d, "_bm25_stats"), false)
    val e = intercept[IllegalArgumentException] {
      Bm25Index.search(spark, d, queries, k = 5).count()
    }
    assert(e.getMessage.contains("recomputeStats"))
    Bm25Index.recomputeStats(spark, d)
    assert(Bm25Index.readStats(spark, d) == before)
  }

  test("term bloom: absent-term queries read ZERO posting rows") {
    val d = dir("bloom")
    Bm25Index.indexBatch(docs, d, storeParts = 64)
    val m = IncrementalDedup.storeManifest(spark, d)
    assert(m.contains("term_bloom_cap") && m.contains("term_bloom_bits"))
    val absent = Seq((0L, "zzznevertokena zzznevertokenb"))
      .toDF("query_id", "query")
    val ioWith = recordsReadDuring {
      assert(Bm25Index.search(spark, d, absent, k = 5).count() == 0)
    }
    // the only records read are the 2-row qterms checkpoint's own
    // read-backs (query-side constant) — NO posting partition opens
    assert(ioWith <= 8,
      s"absent-term search read $ioWith records — bloom prune lost")
    // the counterfactual: without the sidecar the same query opens the
    // absent terms' hashed partitions to find nothing
    val fs = new org.apache.hadoop.fs.Path(d)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(d, "_term_bloom"), false)
    val ioWithout = recordsReadDuring {
      assert(Bm25Index.search(spark, d, absent, k = 5).count() == 0)
    }
    assert(ioWithout > ioWith,
      s"bloom bought nothing: $ioWith with vs $ioWithout without")
    // present terms still find their docs (prune never changes results)
    assert(rows(Bm25Index.search(spark, d, queries, k = 5)) ==
      rows(Bm25.search(docs, queries, k = 5)))
  }

  test("term bloom merges across appends; self-heals a missing sidecar") {
    val d = dir("bloommerge")
    val half = docs.count() / 2
    Bm25Index.indexBatch(docs.filter(col("doc_id") < half), d)
    Bm25Index.indexBatch(
      Seq((777777L, "zzzlateterm arrives here")).toDF("doc_id", "text"), d)
    // a term only the SECOND batch carries must survive the merge
    val q = Seq((0L, "zzzlateterm")).toDF("query_id", "query")
    assert(Bm25Index.search(spark, d, q, k = 5)
      .collect().map(_.getLong(1)).toSeq == Seq(777777L))
    // crash the sidecar away: search skips the prune (still correct,
    // both absent and present terms), the next locked cycle heals it
    val fs = new org.apache.hadoop.fs.Path(d)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(d, "_term_bloom"), false)
    assert(Bm25Index.search(spark, d,
      Seq((0L, "zzznever")).toDF("query_id", "query"), k = 5).count() == 0)
    assert(Bm25Index.search(spark, d, q, k = 5)
      .collect().map(_.getLong(1)).toSeq == Seq(777777L))
    Bm25Index.indexBatch(
      Seq((777778L, "another doc lands")).toDF("doc_id", "text"), d)
    assert(fs.exists(new org.apache.hadoop.fs.Path(d, "_term_bloom")))
    // healed bloom still covers batch-1 AND batch-2 terms
    assert(Bm25Index.search(spark, d, q, k = 5).count() == 1)
  }

  test("a replay-only cycle heals a lost term bloom (dN==0 path)") {
    val d = dir("bloomreplay")
    Bm25Index.indexBatch(docs, d, storeParts = 64)
    val fs = new org.apache.hadoop.fs.Path(d)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(d, "_term_bloom"), false)
    // the retry workload: the SAME batch replays, zero novel docs — the
    // heal must still run (indexStream retries are exactly this shape)
    assert(Bm25Index.indexBatch(docs, d, storeParts = 64) == 0L)
    assert(fs.exists(new org.apache.hadoop.fs.Path(d, "_term_bloom")))
    // and the healed sidecar prunes absent terms again
    val absent = Seq((0L, "zzznevertoken")).toDF("query_id", "query")
    val io = recordsReadDuring {
      assert(Bm25Index.search(spark, d, absent, k = 5).count() == 0)
    }
    assert(io <= 8, s"healed bloom lost the prune: $io records read")
    // present terms unaffected
    assert(rows(Bm25Index.search(spark, d, queries, k = 5)) ==
      rows(Bm25.search(docs, queries, k = 5)))
  }

  test("rebuild regenerates the term bloom with fresh sizing") {
    val src = dir("bloomrebuild")
    Bm25Index.indexBatch(docs, src)
    val dst = dir("bloomrebuild_dst")
    IncrementalDedup.rebuildStore(spark, src, dst, 16)
    val m = IncrementalDedup.storeManifest(spark, dst)
    assert(m.contains("term_bloom_cap") && m.contains("term_bloom_bits"))
    val absent = Seq((0L, "zzznevertoken")).toDF("query_id", "query")
    val io = recordsReadDuring {
      assert(Bm25Index.search(spark, dst, absent, k = 5).count() == 0)
    }
    // query-side checkpoint read-backs only — no posting partition opens
    assert(io <= 8, s"rebuilt index read $io records for an absent term")
    assert(rows(Bm25Index.search(spark, dst, queries, k = 5)) ==
      rows(Bm25Index.search(spark, src, queries, k = 5)))
  }

  test("fully-indexed hybrid equals the brute-force hybrid") {
    val d = dir("hybrid")
    Bm25Index.indexBatch(docs, d)
    val embs = spark.read.parquet(s"$sf/embeddings.parquet")
    val ivf = Files.createTempDirectory("bm25idx_ivf").toString + "/ivf"
    IvfIndex.build(embs, ivf, nlist = 8, kmeansIters = 2)
    val hq = queries.join(embs.select(col("vec_id").as("query_id"),
      col("embedding").as("qvec")), Seq("query_id"))
    val brute = HybridSearch.search(docs, embs, hq, k = 5)
      .select("query_id", "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val indexed = HybridSearch.searchFullyIndexed(spark, d, ivf, hq,
      k = 5, nprobe = 8)
      .select("query_id", "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (indexed intersect brute).size.toDouble / brute.size
    assert(recall >= 0.95, s"recall $recall: $indexed vs $brute")
  }

  test("rebuild + compact handle the two-table layout; search unchanged") {
    val src = dir("rebuild")
    Bm25Index.indexBatch(docs, src)
    val want = rows(Bm25Index.search(spark, src, queries, k = 5))
    val dst = dir("rebuild_dst")
    val parts = IncrementalDedup.rebuildStore(spark, src, dst, 16)
    assert(parts == 16)
    assert(IncrementalDedup.storeManifest(spark, dst).get("store_parts").contains("16"))
    assert(rows(Bm25Index.search(spark, dst, queries, k = 5)) == want)
    assert(Bm25Index.readStats(spark, dst) == Bm25Index.readStats(spark, src))
    // fragment the rebuilt store with a second batch, then compact both
    // halves under the one root lock; search is unchanged after
    import spark.implicits.newProductEncoder
    import spark.implicits.localSeqToDatasetHolder
    Bm25Index.indexBatch(
      Seq((888888L, "hash join merge extra")).toDF("doc_id", "text"), dst)
    assert(IncrementalDedup.compactStore(spark, dst) > 0)
    assert(IncrementalDedup.compactStore(spark, dst) == 0)
    val after = rows(Bm25Index.search(spark, dst, queries, k = 5))
    assert(after == rows(Bm25Index.search(spark, dst, queries, k = 5)))
  }

  test("concurrent reader: searches race retraction swaps without loss (r15 #6)") {
    // The rename-fence keeps each partition whole-old-or-whole-new, and
    // the r16 seqlock (pending marker + swap epoch) closes the residual
    // listing window: a search bracketing its racy read with the epoch
    // retries any attempt a swap overlapped. Prove it under a real
    // race: a churn thread retracts/re-appends docs that SHARE the
    // anchor term's partition (every swap rewrites the partition the
    // searcher needs) while the reader runs >=100 searches — the
    // stable doc must appear in EVERY result, with no exception.
    val d = dir("race")
    val stable = (1L, "anchor alpha beta gamma delta")
    val churn = (100L until 120L).map(i =>
      (i, s"anchor filler$i words$i more$i")) // same term -> same bp
    Bm25Index.indexBatch((stable +: churn).toDF("doc_id", "text"), d)
    val q = Seq((0L, "anchor")).toDF("query_id", "query")
    @volatile var stop = false
    // every churn throwable, with whether it came after `stop`
    @volatile var churnError: Option[(Throwable, Boolean)] = None
    val churner = new Thread(() => {
      try {
        // job group (thread-local): lets teardown cancel exactly this
        // thread's in-flight jobs if a cycle outlives the join window
        spark.sparkContext.setJobGroup("bm25-churn", "bm25 churn race",
          interruptOnCancel = true)
        val df = churn.toDF("doc_id", "text")
        while (!stop) {
          Retract.retract(spark, d, churn.map(_._1))
          Bm25Index.indexBatch(df, d)
        }
      } catch {
        case t: Throwable => churnError = Some((t, stop))
      }
    }, "bm25-churner")
    churner.start()
    var outlived = false
    try {
      var misses = 0
      for (i <- 1 to 110) {
        val got = Bm25Index.search(spark, d, q, k = 30)
          .select("doc_id").collect().map(_.getLong(0)).toSet
        if (!got.contains(1L)) misses += 1
      }
      assert(misses == 0, s"stable doc dropped from $misses results")
    } finally {
      // on a contended host one locked cycle can outlive the first join
      outlived = quiesce(churner, "bm25-churn") { stop = true }
    }
    assert(!outlived, "churner thread did not terminate")
    // after `stop`, only the teardown's own cancellation is orderly: a
    // SparkException from cancelJobGroup("bm25-churn") or an interrupt
    def cancellation(t: Throwable): Boolean =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).exists {
        case _: InterruptedException => true
        case e: org.apache.spark.SparkException =>
          String.valueOf(e.getMessage).contains("cancelled job group bm25-churn")
        case _ => false
      }
    assert(churnError.forall { case (t, afterStop) => afterStop && cancellation(t) },
      s"churner failed: $churnError")
    // settled state is consistent: the stable doc still searches
    val fin = Bm25Index.search(spark, d, q, k = 30)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(fin.contains(1L))
  }

  test("streaming twin: epoch-split index equals the one-shot build") {
    import spark.implicits._
    val work = Files.createTempDirectory("bm25stream").toString
    val e1 = Seq((1L, "spark runs fast fast"), (2L, "spark runs slow"))
    val e2 = Seq((3L, "ducks swim in ponds"), (4L, "spark ducks pond"))
    e1.toDF("doc_id", "text").coalesce(1).write.parquet(s"$work/in/f1")
    e2.toDF("doc_id", "text").coalesce(1).write.parquet(s"$work/in/f2")
    val stream = spark.readStream
      .schema("doc_id BIGINT, text STRING")
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$work/in/*")
    val q = Bm25Index.indexStream(
      stream, s"$work/idx", s"$work/out", s"$work/ckpt")
    try q.processAllAvailable() finally q.stop()
    assert(spark.read.parquet(s"$work/out")
      .agg(sum("novel_docs")).collect().head.getLong(0) == 4L)
    val oneShot = dir("streamref")
    Bm25Index.indexBatch((e1 ++ e2).toDF("doc_id", "text"), oneShot)
    val qs = Seq((0L, "spark fast")).toDF("query_id", "query")
    assert(rows(Bm25Index.search(spark, s"$work/idx", qs, k = 5)) ==
      rows(Bm25Index.search(spark, oneShot, qs, k = 5)))
  }

  test("arm sentinel: a LIVE mid-arm retraction blocks seqlock readers until the final bump") {
    // r16 ADVICE (medium): retractLocked's postings swap used to finish
    // (epoch bumped, marker gone) BEFORE the docs/stats phase, so a
    // search whose whole read-and-validate cycle fell inside that window
    // accepted new postings + stale stats. The arm sentinel spans the
    // whole arm: while it is up, no search may snapshot.
    val d = dir("armlive")
    Bm25Index.indexBatch(docs, d)
    val clean = rows(Bm25Index.search(spark, d, queries, k = 5))
    val got = new java.util.concurrent.atomic.AtomicReference[Seq[String]](null)
    graft.fs.StoreLock.withLock(d, spark.sparkContext.hadoopConfiguration,
      owner = "live-retractor") {
      Retract.armRaise(spark, s"$d/postings")
      val t = new Thread(() =>
        got.set(rows(Bm25Index.search(spark, d, queries, k = 5))))
      t.start()
      // the searcher must NOT complete while the arm is open (it would
      // have read whatever half-finished state the arm was mid-way
      // through); its entry-heal can't fire either — we hold the lock,
      // exactly like a live retractor
      Thread.sleep(1500)
      assert(got.get == null,
        "search accepted a snapshot inside an open retraction arm")
      // retractor finishes its arm: final bump THEN clear (the ordering
      // a validating reader relies on)
      Retract.bumpEpochAt(spark, s"$d/postings")
      Retract.armClear(spark, s"$d/postings")
      t.join(60000)
    }
    assert(got.get != null, "search never completed after the arm closed")
    assert(got.get == clean)
  }

  test("arm sentinel: a CRASHED mid-arm retraction heals on search entry (stats recomputed)") {
    val d = dir("armheal")
    Bm25Index.indexBatch(docs, d)
    val clean = rows(Bm25Index.search(spark, d, queries, k = 5))
    // simulate the retractor dying between the postings swap and the
    // stats rewrite: sentinel up, stats stale (inflated n_docs would
    // mis-score every idf if a reader trusted it)
    val sp = java.nio.file.Paths.get(s"$d/_bm25_stats")
    val good = new String(java.nio.file.Files.readAllBytes(sp))
    java.nio.file.Files.write(sp, good
      .replaceFirst("\"n_docs\":\\d+", "\"n_docs\":999999").getBytes)
    Retract.armRaise(spark, s"$d/postings")
    // entry-heal: the lock is FREE (holder crashed), so ensureReadable
    // finishes the arm's idempotent tail — recompute stats exactly from
    // docs/, bump, clear — and the search proceeds with true totals
    val healed = rows(Bm25Index.search(spark, d, queries, k = 5))
    assert(healed == clean,
      "search scored with the crashed arm's stale stats")
    assert(!Retract.armBusy(spark, s"$d/postings"), "sentinel not cleared")
    val after = new String(java.nio.file.Files.readAllBytes(sp))
    assert(!after.contains("999999"), s"stats not recomputed: $after")
  }

  private def recordsReadDuring(body: => Unit): Long = {
    val recs = new java.util.concurrent.atomic.AtomicLong
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null)
          recs.addAndGet(te.taskMetrics.inputMetrics.recordsRead)
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      var last = -1L
      var stable = 0
      while (stable < 3) {
        Thread.sleep(200)
        val now = recs.get()
        if (now == last) stable += 1 else { stable = 0; last = now }
      }
      recs.get()
    } finally spark.sparkContext.removeSparkListener(l)
  }
}
