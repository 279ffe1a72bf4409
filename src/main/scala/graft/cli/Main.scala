package graft.cli

import org.apache.spark.sql.SparkSession

import graft.core.{DatasetCatalog, GlobalPath}
import graft.fs.{CdlFs, Ingest}

/** CLI with the reference's surface: `cp <from> <to>` and
  * `query <target> <sql>` (reference: crates/cdl/src/command/mod.rs:10-16).
  * `mount` is intentionally omitted — it is an unimplemented stub in the
  * reference (crates/cdl-fuse, SURVEY §2.9). Catalog flags arrive as
  * `--key value` pairs matching the reference's env/flag names.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val (flags, positional) = parseArgs(args.toList)
    val catalog = DatasetCatalog.fromMap(flags) match {
      case Right(c) => c
      case Left(e)  => sys.error(e)
    }
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .withExtensions(new graft.GraftExtensions)
      .appName("graft-cdl")
      .config("spark.sql.shuffle.partitions",
        math.max(Runtime.getRuntime.availableProcessors(), 8))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, catalog, positional)
    finally spark.stop()
  }

  def run(spark: SparkSession, catalog: DatasetCatalog, cmd: List[String]): Unit =
    cmd match {
      case "cp" :: from :: to :: Nil =>
        val src = GlobalPath.parse(from).fold(sys.error, identity)
        val dst = GlobalPath.parse(to).fold(sys.error, identity)
        if (src.isLocal && !new java.io.File(
            s"${src.localPath}/${GlobalPath.DirRootfs}").isDirectory) {
          // plain local tree → ingest into destination table
          Ingest.run(CdlFs.open(spark, catalog, dst), src.localPath)
        } else CdlFs.open(spark, catalog, src).copyTo(dst)
      case "query" :: target :: sql :: Nil =>
        // reference prints first 10 rows (`show_limit(10)`,
        // crates/cdl/src/command/query.rs:20)
        CdlFs.open(spark, catalog, target).sql(sql).show(10, truncate = false)
      case "query" :: target :: sql :: "--at-version" :: v :: Nil =>
        // time travel: bind `rootfs` to the requested snapshot
        val fs = CdlFs.open(spark, catalog, target)
        fs.tableAt(v.toInt).createOrReplaceTempView(graft.core.RootFs.TableName)
        spark.sql(sql).show(10, truncate = false)
      case "versions" :: target :: Nil =>
        CdlFs.open(spark, catalog, target).versions.foreach(println)
      case "compact" :: target :: rest =>
        // OPTIMIZE-style rewrite (CdlFs.compact): fewer, stats-tight files;
        // optional [--zorder x,y] clusters them by the Morton code of two
        // numeric columns instead of the row_id stamp.
        // Strict args: compaction deletes the old layout (not undoable),
        // so a malformed byte target must fail, not fall back silently.
        val (zorder, sized) = rest match {
          case "--zorder" :: cols :: more => (cols.split(",").toSeq, more)
          case more                       => (Nil, more)
        }
        if (zorder.nonEmpty && zorder.size != 2)
          sys.error(s"--zorder takes exactly two columns, got $zorder")
        val targetBytes = sized match {
          case Nil      => 128L * 1024 * 1024
          case b :: Nil => b.toLong
          case other    => sys.error(
            s"usage: compact <target> [--zorder x,y] [bytes]; unexpected args: $other")
        }
        val n = CdlFs.open(spark, catalog, target)
          .compact(targetBytes, zorderBy = zorder)
        println(s"compacted to $n data files")
      case "delete" :: target :: condition :: rest if rest.size <= 1 =>
        // copy-on-write takedown (CdlFs.deleteWhere): rows matching the
        // SQL condition are physically removed; only files containing a
        // match are rewritten. Not undoable by design. `--cascade` also
        // retracts the retired row ids from every ATTACHED derived store
        // (`stores attach`) — the one-command right-to-be-forgotten path
        val cascade = rest match {
          case Nil               => false
          case "--cascade" :: _  => true
          case other             => sys.error(s"usage: delete <target> <cond> [--cascade]; got $other")
        }
        val n = CdlFs.open(spark, catalog, target)
          .deleteWhere(condition, cascade = cascade)
        println(s"deleted $n rows" + (if (cascade) " (cascaded)" else ""))
      // derived-store registry + cascade resume (the takedown loop's
      // orchestration half; see CdlFs.attachStore/runCascadePending)
      case "stores" :: "attach" :: target :: store :: rest if rest.size <= 1 =>
        CdlFs.open(spark, catalog, target)
          .attachStore(store, idCol = rest.headOption.getOrElse("row_id"))
        println(s"attached $store")
      case "stores" :: "detach" :: target :: store :: Nil =>
        val was = CdlFs.open(spark, catalog, target).detachStore(store)
        println(if (was) s"detached $store" else s"$store was not attached")
      case "stores" :: "list" :: target :: Nil =>
        val fs = CdlFs.open(spark, catalog, target)
        fs.attachedStores.foreach { case (d, c) => println(s"$d (id_col=$c)") }
        val owed = fs.cascadePendingStores
        if (owed.nonEmpty)
          println(s"PENDING cascade owes ${owed.size} store(s): ${owed.mkString(", ")}")
      case "cascade" :: "resume" :: target :: Nil =>
        val done = CdlFs.open(spark, catalog, target).runCascadePending()
        if (done.isEmpty) println("no pending cascade")
        else done.foreach { case (d, n) => println(s"retracted $n rows from $d") }
      case "vacuum" :: target :: Nil =>
        // drop commit-log versions a compact/delete made unreadable
        val dropped = CdlFs.open(spark, catalog, target).vacuumLog()
        println(s"vacuumed ${dropped.size} unreadable versions" +
          (if (dropped.nonEmpty) dropped.mkString(": ", ", ", "") else ""))
      case "take" :: target :: indices :: rest =>
        // the reference's Lance take(indices, columns) surface
        // (python/cdlake/filesystem.py:58-63) exposed on the CLI
        val cols = rest match {
          case c :: Nil => c.split(",").toSeq
          case _        => Seq("parent", "name", "size")
        }
        CdlFs.open(spark, catalog, target)
          .take(indices.split(",").toSeq.map(_.trim.toLong), cols)
          .orderBy("row_id").show(100, truncate = false)
      // training-pipeline extension (not in the reference CLI): one
      // incremental dedup cycle of a parquet batch against a persisted
      // store — the cron-able shape of SURVEY §2.10's incremental family
      case "dedup" :: mode :: input :: store :: out :: rest if rest.size <= 1 =>
        val batch = spark.read.parquet(input)
        // optional trailing arg: embedding layout (inline|split|adopt)
        // or span window width
        val layout = rest.headOption.getOrElse("adopt")
        val spanW = if (mode == "span") rest.headOption.map(_.toInt).getOrElse(10) else 10
        require(rest.isEmpty || mode == "embedding" || mode == "span",
          s"trailing argument only applies to embedding (layout) or span (w): $rest")
        val res = mode match {
          case "exact"     => graft.ops.IncrementalDedup.exactBatch(batch, store)
          case "minhash"   => graft.ops.IncrementalDedup.minhashBatch(batch, store)
          case "simhash"   => graft.ops.IncrementalDedup.simhashBatch(batch, store)
          case "ngram"     => graft.ops.IncrementalDedup.ngramBatch(batch, store)
          case "embedding" => graft.ops.IncrementalDedup.embeddingBatch(batch, store, layout = layout)
          case "span"      => graft.ops.IncrementalSpanDedup.spanBatch(batch, store, w = spanW)
          case m           => sys.error(s"unknown dedup mode: $m (exact|minhash|simhash|ngram|embedding|span)")
        }
        res.write.mode("overwrite").parquet(out)
        println(s"dedup $mode: ${spark.read.parquet(out).count()} result rows -> $out")

      // store health at a glance, from ONE listing (no Spark scan):
      // geometry manifest, partitions/files/bytes, and the per-partition
      // file max — the fragmentation signal compact-store resets
      // store consistency audit (r17): verify the invariants the crash
      // contracts promise — light = metadata/debris, --deep = content
      // scans (bucketing, doc-index superset, bloom supersets, bm25
      // stats + referential, keeper uniqueness). Read-only; exits 1 on
      // any error-level finding.
      case "store-fsck" :: rest0 =>
        val (flags, rest) = rest0.partition(_.startsWith("--"))
        val deep = flags.contains("--deep")
        val doRepair = flags.contains("--repair")
        val unknown = flags.filterNot(Set("--deep", "--repair"))
        val store = rest match {
          case s :: Nil if unknown.isEmpty => s
          case other => sys.error(
            s"usage: store-fsck <storeDir> [--deep] [--repair]; got $other" +
              (if (unknown.nonEmpty) s" (unknown flags: ${unknown.mkString(",")})"
               else ""))
        }
        if (doRepair) {
          // locked repair: apply each finding's named heal, then re-audit
          val acts = graft.ops.StoreFsck.repair(spark, store, deep = deep)
          acts.foreach(a => println(
            s"[${a.finding.level}] ${a.finding.check}: ${a.finding.detail}\n" +
              s"  -> ${if (a.applied) "repaired" else "skipped"}: ${a.action}"))
          val after = graft.ops.StoreFsck.fsck(spark, store, deep = deep)
          if (after.isEmpty)
            println(s"$store: clean after repair " +
              s"(${if (deep) "deep" else "light"} fsck)")
          else after.foreach(f =>
            println(s"[still ${f.level}] ${f.check}: ${f.detail}"))
          if (after.exists(_.level == "error")) sys.exit(1)
        } else {
          val findings = graft.ops.StoreFsck.fsck(spark, store, deep = deep)
          if (findings.isEmpty)
            println(s"$store: clean (${if (deep) "deep" else "light"} fsck)")
          else findings.foreach(f =>
            println(s"[${f.level}] ${f.check}: ${f.detail}"))
          if (findings.exists(_.level == "error")) sys.exit(1)
        }

      case "store-info" :: store :: Nil =>
        graft.ops.StoreFsck.info(spark, store).foreach(println)

      // geometry migration: re-bucket a store into a fresh dir at a new
      // partition count (omit parts -> auto-size from the store's rows);
      // repoint the pipeline at <dst> when it prints
      case "rebuild-store" :: src :: dst :: rest if rest.size <= 1 =>
        val parts = rest.headOption.map(_.toInt)
          .getOrElse(graft.ops.IncrementalDedup.AutoStoreParts)
        val n = graft.ops.IncrementalDedup.rebuildStore(spark, src, dst, parts)
        println(s"rebuilt $src -> $dst at $n partitions")

      case "compact-store" :: store :: Nil =>
        val n = graft.ops.IncrementalDedup.compactStore(spark, store)
        println(s"compacted $n fragmented partition(s) in $store")

      // store retraction (takedown path for DERIVED data): erase the
      // given docs' signature/posting/keeper/label rows from a dedup-
      // family store — pair with `delete` on the table itself
      case "retract" :: store :: idsArg :: Nil =>
        val ids = idsArg.split(",").toSeq.map(_.trim.toLong)
        val n = graft.ops.Retract.retract(spark, store, ids)
        println(s"retracted $n store row(s) for ${ids.size} id(s)")

      // incremental clustering (training-pipeline extension): absorb
      // dedup pair batches into the persisted union-find
      case "clusters" :: "add" :: input :: store :: Nil =>
        val view = graft.ops.IncrementalComponents.addPairs(
          spark.read.parquet(input), store)
        println(s"clusters add: ${view.count()} labeled vertices in batch")
      case "clusters" :: "labels" :: store :: Nil =>
        graft.ops.IncrementalComponents.labels(spark, store)
          .orderBy("v").show(100, truncate = false)
      case "clusters" :: "keepers" :: store :: Nil =>
        graft.ops.IncrementalComponents.keepers(spark, store)
          .orderBy("v").show(100, truncate = false)
      case "clusters" :: "compact" :: store :: Nil =>
        val n = graft.ops.IncrementalComponents.compact(spark, store)
        println(s"clusters compact: folded $n relabeled rows")

      // BM25 keyword retrieval (training-pipeline extension): ad-hoc
      // lexical search of a (doc_id, text) parquet table
      case "search" :: input :: queryText :: rest =>
        val k = rest match {
          case Nil      => 10
          case n :: Nil => n.toInt
          case other    => sys.error(
            s"usage: search <docs.parquet> <query text> [k]; got $other")
        }
        import spark.implicits._
        graft.ops.Bm25.search(spark.read.parquet(input),
          Seq((0L, queryText)).toDF("query_id", "query"), k)
          .select("doc_id", "bm25", "rank")
          .orderBy("rank").show(k, truncate = false)

      // persisted BM25 inverted index (training-pipeline extension):
      // build/append once, search as a term-partition-pruned read
      case "bm25" :: "build" :: input :: index :: Nil =>
        val n = graft.ops.Bm25Index.indexBatch(spark.read.parquet(input), index)
        println(s"bm25 index: $n novel doc(s) added at $index")
      case "bm25" :: "search" :: index :: queryText :: rest =>
        val k = rest match {
          case Nil      => 10
          case n :: Nil => n.toInt
          case other    => sys.error(
            s"usage: bm25 search <indexDir> <query text> [k]; got $other")
        }
        import spark.implicits._
        graft.ops.Bm25Index.search(spark, index,
          Seq((0L, queryText)).toDF("query_id", "query"), k)
          .select("doc_id", "bm25", "rank")
          .orderBy("rank").show(k, truncate = false)

      // fully-indexed hybrid: BOTH arms are pruned index reads — zero
      // corpus passes per search; the query vector is looked up from
      // the embeddings table by id
      case "hybrid-indexed" :: bm25Dir :: ivfDir :: embsPath :: queryText :: qvecId :: rest =>
        val (k, nprobe, rerank) = rest match {
          case Nil                 => (5, 4, 0)
          case a :: Nil            => (a.toInt, 4, 0)
          case a :: b :: Nil       => (a.toInt, b.toInt, 0)
          case a :: b :: c :: Nil  => (a.toInt, b.toInt, c.toInt)
          case other               => sys.error(
            s"usage: hybrid-indexed <bm25Idx> <ivfIdx> <embs.parquet> " +
              s"<query text> <qvecId> [k [nprobe [rerank]]]; got $other")
        }
        import spark.implicits._
        val queries = Seq((0L, queryText)).toDF("query_id", "query")
          .crossJoin(spark.read.parquet(embsPath)
            .filter(org.apache.spark.sql.functions.col("vec_id") === qvecId.toLong)
            .select(org.apache.spark.sql.functions.col("embedding").as("qvec")))
        graft.ops.HybridSearch.searchFullyIndexed(spark, bm25Dir, ivfDir,
          queries, k, nprobe = nprobe, rerank = rerank)
          .orderBy("rank").show(k, truncate = false)

      // token-budget selection (training-pipeline extension): the
      // maximal priority-ordered prefix within a token budget; priority
      // columns are comma-separated, ":desc" suffix flips direction
      case "budget" :: input :: outPath :: budgetArg :: ordArg :: Nil =>
        val ord = graft.ops.BudgetSample.parseOrd(ordArg.split(",").toSeq)
        val sel = graft.ops.BudgetSample.takeUntilWithRelease(
          spark.read.parquet(input), budgetArg.toLong, ord)
        sel.df.write.mode("overwrite").parquet(outPath)
        sel.release()
        println(s"selected ${spark.read.parquet(outPath).count()} docs within $budgetArg tokens")

      // hybrid retrieval (training-pipeline extension): RRF fusion of
      // BM25 over (doc_id, text) and exact cosine over (vec_id,
      // embedding); the query vector is looked up from the embeddings
      // table by id
      case "hybrid" :: docsPath :: embsPath :: queryText :: qvecId :: rest =>
        // --index <dir> [nprobe [rerank]]: probe the persisted IVF(-PQ)
        // index for the semantic arm instead of brute-force cosine
        val (k, indexOpt) = rest match {
          case Nil      => (5, None)
          case n :: Nil => (n.toInt, None)
          case n :: "--index" :: dir :: more =>
            val (np, rr) = more match {
              case Nil                 => (4, 0)
              case a :: Nil            => (a.toInt, 0)
              case a :: b :: Nil       => (a.toInt, b.toInt)
              case other               => sys.error(
                s"usage: … --index <dir> [nprobe [rerank]]; got $other")
            }
            (n.toInt, Some((dir, np, rr)))
          case other    => sys.error(
            s"usage: hybrid <docs.parquet> <embs.parquet> <query text> <qvecId> " +
              s"[k [--index <dir> [nprobe [rerank]]]]; got $other")
        }
        import spark.implicits._
        val embs = spark.read.parquet(embsPath)
        val queries = Seq((0L, queryText)).toDF("query_id", "query")
          .crossJoin(embs
            .filter(org.apache.spark.sql.functions.col("vec_id") === qvecId.toLong)
            .select(org.apache.spark.sql.functions.col("embedding").as("qvec")))
        val docsDf = spark.read.parquet(docsPath)
        val fused = indexOpt match {
          case Some((dir, np, rr)) =>
            graft.ops.HybridSearch.searchIndexed(docsDf, dir, queries, k,
              nprobe = np, rerank = rr)
          case None =>
            graft.ops.HybridSearch.search(docsDf, embs, queries, k)
        }
        fused.orderBy("rank").show(k, truncate = false)

      // DSIR importance selection (training-pipeline extension): score
      // a (doc_id, text) table against a SQL target condition, keep the
      // deterministic top-k (or a seeded Gumbel resample with
      // --resample T salt)
      case "dsir" :: input :: cond :: kArg :: rest =>
        val docs = spark.read.parquet(input)
        val k = kArg.toInt
        val out = rest match {
          case Nil =>
            graft.ops.ImportanceSampling.selectTopK(
              docs, org.apache.spark.sql.functions.expr(cond), k)
          case "--resample" :: t :: salt :: Nil =>
            graft.ops.ImportanceSampling.resampleGumbel(
              docs, org.apache.spark.sql.functions.expr(cond), k,
              temperature = t.toDouble, salt = salt)
          case other => sys.error(
            s"usage: dsir <docs.parquet> <condition> <k> [--resample T salt]; got $other")
        }
        out.show(k, truncate = false)

      // SemDeDup semantic dedup (training-pipeline extension): k-means
      // cells + within-cell exact-cosine keep-one over a
      // (vec_id, embedding) parquet table
      case "semdedup" :: input :: outPath :: rest =>
        // r16 verdict #4: band/maxProbe (the straddler-recovery knobs)
        // and --tune (the recall-targeted auto-tuner) reachable from the
        // CLI — operators tuning recall at scale no longer drop to Scala
        val (probe, rest2) = rest.partition(_ == "--probe")
        val (tuneFlags, args2) = rest2.partition(_.startsWith("--tune"))
        val tune = tuneFlags.headOption.map {
          case "--tune" => 0.95
          case s if s.startsWith("--tune=") => s.stripPrefix("--tune=").toDouble
          case other => sys.error(s"bad flag $other; use --tune[=recall]")
        }
        val (kClusters, tau, band0, mp0) = args2 match {
          case Nil                  => (16, 0.95,
            graft.ops.SemDedup.DefaultBand, graft.ops.SemDedup.DefaultMaxProbe)
          case c :: Nil             => (c.toInt, 0.95,
            graft.ops.SemDedup.DefaultBand, graft.ops.SemDedup.DefaultMaxProbe)
          case c :: t :: Nil        => (c.toInt, t.toDouble,
            graft.ops.SemDedup.DefaultBand, graft.ops.SemDedup.DefaultMaxProbe)
          case c :: t :: b :: Nil   => (c.toInt, t.toDouble, b.toDouble,
            graft.ops.SemDedup.DefaultMaxProbe)
          case c :: t :: b :: m :: Nil =>
            (c.toInt, t.toDouble, b.toDouble, m.toInt)
          case other => sys.error(
            "usage: semdedup <in.parquet> <out.parquet> " +
              s"[nClusters [tau [band [maxProbe]]]] [--probe] [--tune[=recall]]; got $other")
        }
        val embs = spark.read.parquet(input)
        val (band, mp) = tune match {
          case None => (band0, mp0)
          case Some(target) =>
            val t = graft.ops.SemDedup.tuneSoft(embs, kClusters, tau,
              targetRecall = target)
            println(f"tuned: band=${t.band}%.4f max_probe=${t.maxProbe} " +
              f"recall=${t.recall}%.4f rungs_probed=${t.rungsProbed}")
            (t.band, t.maxProbe)
        }
        val kept = graft.ops.SemDedup.dedup(embs, kClusters, tau,
          band = band, maxProbe = mp)
        kept.write.mode("overwrite").parquet(outPath)
        println(s"semdedup: kept ${spark.read.parquet(outPath).count()} rows")
        if (probe.nonEmpty) {
          // banded pair-sampled cell-fence recall (r15): the telemetry
          // an operator logs per run — a falling non-clone band is
          // cell-straddle drift before it is surviving duplicates
          val assigned = graft.ops.SemDedup.assignSoft(embs, kClusters,
              band = band, maxProbe = mp)
            .localCheckpoint() // soft probe set — the fence pairs() uses
          val bands = graft.ops.SemDedup.recallBands(assigned, tau)
          bands.foreach(b => println(
            f"recall_band[${b.lo}%.4f,${b.hi}%.4f${if (b.isClone) ",clone" else ""}]: " +
              f"${b.recall}%.4f (pairs=${b.pairs} co=${b.coCelled})"))
          println(f"near_dup_recall: ${graft.ops.SemDedup.nearDupRecall(bands)}%.4f")
        }

      // span (ExactSubstr-style) dedup (training-pipeline extension):
      // cut every non-keeper duplicated w-token window out of a
      // (doc_id, text) parquet table
      case "spandedup" :: input :: outPath :: rest =>
        val w = rest match {
          case Nil      => 10
          case x :: Nil => x.toInt
          case other => sys.error(
            s"usage: spandedup <in.parquet> <out.parquet> [w]; got $other")
        }
        val docs = spark.read.parquet(input)
        graft.ops.SpanDedup.removeSpans(docs, w)
          .write.mode("overwrite").parquet(outPath)
        println(s"spandedup: rewrote ${spark.read.parquet(outPath).count()} docs (w=$w)")

      // end-to-end curation funnel (training-pipeline extension):
      // quality → exact dedup → optional decontamination → optional
      // token budget; writes the curated corpus and prints the funnel
      case "curate" :: input :: outPath :: rest =>
        var cfg = graft.ops.Curation.Config()
        var r = rest
        while (r.nonEmpty) r = r match {
          case "--min-quality" :: q :: t =>
            cfg = cfg.copy(minQuality = q.toDouble); t
          case "--benchmark" :: p :: t =>
            cfg = cfg.copy(benchmark = Some(spark.read.parquet(p))); t
          case "--decontam-n" :: n :: t =>
            cfg = cfg.copy(decontamN = n.toInt); t
          case "--budget" :: b :: t =>
            cfg = cfg.copy(budget = Some(b.toLong)); t
          case "--budget-fraction" :: f :: t =>
            cfg = cfg.copy(budgetFraction = Some(f.toDouble)); t
          case "--near-dup" :: thr :: t =>
            cfg = cfg.copy(nearDup = Some(thr.toDouble)); t
          case other => sys.error(
            "usage: curate <in.parquet> <out.parquet> [--min-quality q] " +
              s"[--benchmark bm.parquet] [--decontam-n n] [--near-dup jaccard] " +
              s"[--budget N | --budget-fraction f]; got $other")
        }
        val res = graft.ops.Curation.run(spark.read.parquet(input), cfg)
        res.docs.write.mode("overwrite").parquet(outPath)
        res.funnel.orderBy("stage_idx").show(10, truncate = false)
        res.release()
        println(s"curate: kept ${spark.read.parquet(outPath).count()} docs")

      // rebuild half of span dedup alone: cut previously-detected
      // (doc_id, pos) spans out of a batch — pairs with `dedup span`
      // to complete the incremental substring-dedup flow
      case "cutspans" :: input :: spansPath :: outPath :: rest =>
        val w = rest match {
          case Nil      => 10
          case x :: Nil => x.toInt
          case other => sys.error(
            s"usage: cutspans <in.parquet> <spans.parquet> <out.parquet> [w]; got $other")
        }
        graft.ops.SpanDedup.cutSpans(
          spark.read.parquet(input), spark.read.parquet(spansPath), w)
          .write.mode("overwrite").parquet(outPath)
        println(s"cutspans: rewrote ${spark.read.parquet(outPath).count()} docs (w=$w)")

      // persisted IVF ANN index (training-pipeline extension): the
      // cron-able build / append / search / health shapes
      case "ivf" :: "build" :: input :: index :: rest =>
        val nlist = rest match {
          case Nil      => 16
          case n :: Nil => n.toInt
          case other    => sys.error(s"usage: ivf build <in.parquet> <indexDir> [nlist]; got $other")
        }
        graft.ops.IvfIndex.build(spark.read.parquet(input), index, nlist)
        println(s"ivf index built at $index (nlist=$nlist)")
      case "ivf" :: "append" :: input :: index :: rest =>
        val thresh = rest match {
          case Nil      => 0.0
          case t :: Nil => t.toDouble
          case other    => sys.error(
            s"usage: ivf append <in.parquet> <indexDir> [rebuildImbalance]; got $other")
        }
        val rebuilt = graft.ops.IvfIndex.append(
          spark.read.parquet(input), index, rebuildImbalance = thresh)
        println(s"ivf append done" +
          (if (rebuilt) " (cell-health trigger fired: index re-clustered)" else ""))
      case "ivf" :: "search" :: queries :: index :: k :: rest =>
        val (nprobe, rerank) = rest match {
          case Nil           => (4, 0)
          case n :: Nil      => (n.toInt, 0)
          case n :: r :: Nil => (n.toInt, r.toInt)
          case other         => sys.error(
            s"usage: ivf search <queries.parquet> <indexDir> <k> [nprobe [rerank]]; got $other")
        }
        graft.ops.IvfIndex.search(spark, index,
          spark.read.parquet(queries), k.toInt, nprobe, rerank = rerank)
          .orderBy("query_id", "rank").show(100, truncate = false)
      case "ivf" :: "retract" :: index :: idsArg :: Nil =>
        val ids = idsArg.split(",").toSeq.map(_.trim.toLong)
        val n = graft.ops.IvfIndex.retract(spark, index, ids)
        println(s"ivf retract: removed $n assignment row(s)")
      case "ivf" :: "health" :: index :: Nil =>
        val imb = graft.ops.IvfIndex.imbalance(spark, index)
        println(f"imbalance (max/mean occupancy): $imb%.2f")
        graft.ops.IvfIndex.cellOccupancy(spark, index)
          .orderBy(org.apache.spark.sql.functions.col("n").desc)
          .show(100, truncate = false)

      case other =>
        sys.error(s"usage: [--catalog-flag value]... {cp <from> <to> | query <target> <sql> " +
          s"[--at-version N] | versions <target> | compact <target> [--zorder x,y] [bytes] | " +
          s"delete <target> <condition> | vacuum <target> | " +
          s"take <target> <i,j,...> [col,col] | dedup <exact|minhash|simhash|ngram|embedding|span> <in.parquet> " +
          s"<storeDir> <out.parquet> [inline|split] (embedding) / [w] (span) | compact-store <storeDir> | " +
          s"store-info <storeDir> | store-fsck <storeDir> [--deep] [--repair] | " +
          s"rebuild-store <src> <dst> [parts] | " +
          s"retract <storeDir> <id,id,...> | ivf retract <indexDir> <id,id,...> | " +
          s"clusters {add|labels|keepers|compact} ... | " +
          s"ivf {build|append|search [nprobe [rerank]]|health} ... | " +
          s"search <docs.parquet> <query text> [k] | " +
          s"dsir <docs.parquet> <condition> <k> [--resample T salt] | " +
          s"hybrid <docs.parquet> <embs.parquet> <query text> <qvecId> [k] | " +
          s"budget <docs.parquet> <out.parquet> <tokenBudget> <col[:desc],...> | " +
          s"semdedup <in.parquet> <out.parquet> [nClusters [tau [band [maxProbe]]]] [--probe] [--tune[=recall]] | " +
          s"spandedup <in.parquet> <out.parquet> [w] | cutspans <in.parquet> <spans.parquet> <out.parquet> [w] | " +
          s"curate <in.parquet> <out.parquet> [--min-quality q] [--benchmark bm.parquet] " +
          s"[--budget N | --budget-fraction f]}; got $other")
    }

  private def parseArgs(args: List[String]): (Map[String, String], List[String]) =
    args match {
      case key :: value :: rest if key.startsWith("--") =>
        val (f, p) = parseArgs(rest)
        (f + (key.stripPrefix("--").replace('-', '_') -> value), p)
      case rest => (Map.empty, rest)
    }
}
