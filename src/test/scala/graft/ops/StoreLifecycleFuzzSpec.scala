package graft.ops

import java.nio.file.Files

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Seeded lifecycle fuzzer for the persisted-store family (r17): the
  * directed takedown tests each pin ONE interleaving; this drives a
  * random-but-replayable SEQUENCE of operations — append a batch,
  * retract a random live subset, compact — against three store
  * variants, and after EVERY step checks
  *   1. the store's content against a plain-Scala model of the
  *      documented contract (exact: first-arrival keeper per digest,
  *      drop-the-row retraction, next arrival re-keeps; ngram/bm25:
  *      rows = exactly the LIVE docs' derived rows), and
  *   2. the full deep-fsck invariant set (bucketing, doc-index
  *      superset, blooms, stats, uniqueness).
  * Interleaving bugs — a retraction racing a compaction's bookkeeping,
  * an index row surviving its store row, stats drifting off by a
  * replay — show up as a model mismatch or a named fsck finding at the
  * exact step that broke, with the seed to replay it. */
class StoreLifecycleFuzzSpec extends SparkSuite {

  import spark.implicits.newProductEncoder
  import spark.implicits.localSeqToDatasetHolder

  // a tiny text pool: ids arrive in ascending order (the family's
  // streaming precondition), texts repeat so dup/re-keep paths fire
  private def textOf(i: Long): String = {
    val base = (i % 7) match {
      case 0 => "alpha beta gamma delta"
      case 1 => "epsilon zeta eta theta"
      case 2 => "iota kappa lambda mu"
      case 3 => "alpha beta gamma delta" // clone of case 0
      case 4 => "nu xi omicron pi"
      case 5 => "rho sigma tau upsilon"
      case _ => "phi chi psi omega"
    }
    base
  }

  private final case class Step(kind: String, detail: String)

  /** Drive `steps` random operations; `append` runs the variant's batch
    * cycle, `check` compares store content to the model's live state. */
  private def drive(
      seed: Int, steps: Int, dir: String,
      append: org.apache.spark.sql.DataFrame => Unit,
      retractIds: Seq[Long] => Unit,
      compact: () => Unit,
      check: (Map[Long, String], List[Step]) => Unit): Unit = {
    val rnd = new scala.util.Random(seed)
    var nextId = 0L
    var live = Map.empty[Long, String] // the model: live doc -> text
    var hist = List.empty[Step]
    for (step <- 1 to steps) {
      // the store exists only after the first append — force it
      (if (step == 1) 0 else rnd.nextInt(4)) match {
        case 0 | 1 => // append 2-4 fresh ascending ids
          val n = 2 + rnd.nextInt(3)
          val batch = (0 until n).map { _ =>
            val id = nextId; nextId += 1; (id, textOf(id))
          }
          hist ::= Step("append", batch.map(_._1).mkString(","))
          append(batch.toDF("doc_id", "text"))
          live ++= batch
        case 2 if live.nonEmpty => // retract a random live subset
          val ids = rnd.shuffle(live.keys.toList)
            .take(1 + rnd.nextInt(math.min(3, live.size)))
          hist ::= Step("retract", ids.mkString(","))
          retractIds(ids)
          live --= ids
        case 2 => // nothing live to retract: append instead
          val id = nextId; nextId += 1
          hist ::= Step("append", id.toString)
          append(Seq((id, textOf(id))).toDF("doc_id", "text"))
          live += id -> textOf(id)
        case 3 =>
          hist ::= Step("compact", "")
          compact()
      }
      val f = StoreFsck.fsck(spark, dir, deep = true)
      assert(f.isEmpty,
        s"seed=$seed step=$step fsck dirty: $f\nhistory=${hist.reverse}")
      check(live, hist.reverse)
    }
  }

  test("exact store: model parity + fsck-clean across seeded lifecycles") {
    for (seed <- Seq(101, 202)) {
      val dir = Files.createTempDirectory(s"lfz_ex_$seed").toString + "/s"
      // model: keeper per digest = the contract's first-arrival rule;
      // retraction drops the row; the next arrival of that content
      // re-keeps. Replayed inside `check` from the live map is NOT
      // possible (keeper identity depends on arrival order), so track
      // keepers alongside the drive.
      var keepers = Map.empty[String, Long] // text -> keeper id
      drive(seed, 14, dir,
        append = b => {
          val rows = b.collect().map(r => (r.getLong(0), r.getString(1)))
            .sortBy(_._1)
          rows.foreach { case (id, t) =>
            if (!keepers.contains(t)) keepers += t -> id
          }
          IncrementalDedup.exactBatch(b, dir).collect(); ()
        },
        retractIds = ids => {
          Retract.retract(spark, dir, ids)
          keepers = keepers.filterNot { case (_, k) => ids.contains(k) }
        },
        compact = () => { IncrementalDedup.compactStore(spark, dir); () },
        check = (_, hist) => {
          val got = StoreRows(spark, dir)._1
            .select("keep_doc_id").collect().map(_.getLong(0)).toSet
          assert(got == keepers.values.toSet,
            s"store keepers $got != model ${keepers.values.toSet}\n$hist")
        })
    }
  }

  test("ngram store: live-doc posting parity + fsck-clean across seeded lifecycles") {
    for (seed <- Seq(303, 404)) {
      val dir = Files.createTempDirectory(s"lfz_ng_$seed").toString + "/s"
      drive(seed, 12, dir,
        append = b => { IncrementalDedup.ngramBatch(b, dir, n = 3).collect(); () },
        retractIds = ids => { Retract.retract(spark, dir, ids); () },
        compact = () => { IncrementalDedup.compactStore(spark, dir); () },
        check = (live, hist) => {
          // postings must be EXACTLY the live docs' distinct 3-grams —
          // novelty anti-joins must not lose rows, retraction must not
          // leave them (docs with dup'd text still post: the ngram
          // store is per-doc, not keeper'd). StoreRows handles the
          // fully-retracted store (no parquet files left — schema given)
          val got = StoreRows(spark, dir)._1
            .select("doc_id", "shingle").distinct().count()
          val want =
            if (live.isEmpty) 0L
            else live.toSeq.toDF("doc_id", "text")
              .select(col("doc_id"), explode(graft.functions.SketchExprs
                .gramHashes(col("text"), 3, distinct = true)).as("shingle"))
              .distinct().count()
          assert(got == want, s"postings $got != live-doc grams $want\n$hist")
        })
    }
  }

  test("minhash store: live-doc signature parity + fsck-clean across seeded lifecycles") {
    for (seed <- Seq(707, 808)) {
      val dir = Files.createTempDirectory(s"lfz_mh_$seed").toString + "/s"
      drive(seed, 12, dir,
        append = b => { IncrementalDedup.minhashBatch(b, dir).collect(); () },
        retractIds = ids => { Retract.retract(spark, dir, ids); () },
        compact = () => { IncrementalDedup.compactStore(spark, dir); () },
        check = (live, hist) => {
          // doc membership: signature rows for exactly the live docs
          val got = StoreRows(spark, dir)._1
            .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
          assert(got == live.keySet, s"minhash docs $got != ${live.keySet}\n$hist")
        })
    }
  }

  test("embedding split store: live-vector parity in BOTH halves across seeded lifecycles") {
    for (seed <- Seq(909)) {
      val dir = Files.createTempDirectory(s"lfz_em_$seed").toString + "/s"
      // vectors derived from the id: clones every 7 ids like the texts
      def vecOf(i: Long): Seq[Double] = {
        val a = Array.fill(6)(0.01); a(((i % 7) % 6).toInt) = 1.0; a.toSeq
      }
      val rnd = new scala.util.Random(seed)
      var nextId = 0L
      var live = Set.empty[Long]
      for (step <- 1 to 10) {
        (if (step == 1) 0 else rnd.nextInt(3)) match {
          case 0 | 1 =>
            val n = 2 + rnd.nextInt(3)
            val batch = (0 until n).map { _ =>
              val id = nextId; nextId += 1; (id, vecOf(id))
            }
            IncrementalDedup.embeddingBatch(
              batch.toDF("vec_id", "embedding"), dir, layout = "split")
              .collect()
            live ++= batch.map(_._1)
          case _ if live.nonEmpty =>
            val ids = rnd.shuffle(live.toList)
              .take(1 + rnd.nextInt(math.min(3, live.size)))
            Retract.retract(spark, dir, ids)
            live --= ids
          case _ => ()
        }
        if (live.nonEmpty || step > 1) {
          val f = StoreFsck.fsck(spark, dir, deep = true)
          assert(f.isEmpty, s"seed=$seed step=$step fsck dirty: $f")
          val posts = StoreRows(spark, dir, "postings")._1
            .select("vec_id").distinct().collect().map(_.getLong(0)).toSet
          val vecs = StoreRows(spark, dir, "vectors")._1
            .select("vec_id").distinct().collect().map(_.getLong(0)).toSet
          assert(posts == live && vecs == live,
            s"seed=$seed step=$step postings=$posts vectors=$vecs live=$live")
        }
      }
    }
  }

  test("bm25 index: live-doc parity + stats exactness across seeded lifecycles") {
    for (seed <- Seq(505, 606)) {
      val dir = Files.createTempDirectory(s"lfz_bm_$seed").toString + "/s"
      drive(seed, 12, dir,
        append = b => { Bm25Index.indexBatch(b, dir); () },
        retractIds = ids => { Retract.retract(spark, dir, ids); () },
        compact = () => (), // bm25 compaction rides rebuildStore; out of scope
        check = (live, hist) => {
          val gotDocs = StoreRows(spark, dir, "docs")._1
            .select("doc_id").collect().map(_.getLong(0)).toSet
          assert(gotDocs == live.keySet,
            s"docs/ $gotDocs != live ${live.keySet}\n$hist")
          // stats exactness rides the fsck deep check (bm25_stats); the
          // membership above pins the doc-granular contract
        })
    }
  }

  test("pointer store (rename-less scheme): exact-store parity + fsck-clean across seeded lifecycles") {
    // the r18 swap-by-pointer layer under the same seeded interleavings
    // as the file:// exact store: every retraction/compaction commits
    // by pointer flip, appends route through file moves into live
    // generations, tombstones resurrect safely — and after EVERY step
    // the model and the (pointer-aware) deep fsck must both hold
    spark.sparkContext.hadoopConfiguration.set(
      "fs.mock.impl", classOf[graft.fs.MockRemoteFileSystem].getName)
    for (seed <- Seq(1101, 2202)) {
      val local = Files.createTempDirectory(s"lfz_ptr_$seed").toString
      val dir = s"mock://$local/s"
      var keepers = Map.empty[String, Long]
      drive(seed, 14, dir,
        append = b => {
          val rows = b.collect().map(r => (r.getLong(0), r.getString(1)))
            .sortBy(_._1)
          rows.foreach { case (id, t) =>
            if (!keepers.contains(t)) keepers += t -> id
          }
          IncrementalDedup.exactBatch(b, dir).collect(); ()
        },
        retractIds = ids => {
          Retract.retract(spark, dir, ids)
          keepers = keepers.filterNot { case (_, k) => ids.contains(k) }
        },
        compact = () => { IncrementalDedup.compactStore(spark, dir); () },
        check = (_, hist) => {
          val got = StoreRows(spark, dir)._1
            .select("keep_doc_id").collect().map(_.getLong(0)).toSet
          assert(got == keepers.values.toSet,
            s"pointer store keepers $got != model ${keepers.values.toSet}\n$hist")
        })
      // the lifecycle actually engaged the pointer layer (any seed that
      // retracted or compacted at least once created it)
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(graft.fs.PartitionPointer.active(fs,
        new org.apache.hadoop.fs.Path(dir)),
        s"seed $seed never engaged the pointer layer — widen the step mix")
    }
  }

  test("pointer ivf index (rename-less scheme): live-vector parity + probe exactness across seeded lifecycles") {
    // r19 — the IVF pointer arm: append/retract/recluster on mock://
    // all commit by pointer flip (the recluster's single PUT covers the
    // cell partitions AND the centroids table); after every step the
    // live-vector set, a self-probe, and the pointer-aware deep fsck
    // must all hold
    spark.sparkContext.hadoopConfiguration.set(
      "fs.mock.impl", classOf[graft.fs.MockRemoteFileSystem].getName)
    def vecOf(i: Long): Seq[Double] = {
      val r = new scala.util.Random(i); Seq.fill(6)(r.nextDouble() + 0.05)
    }
    for (seed <- Seq(3301, 3402)) {
      val local = Files.createTempDirectory(s"lfz_ivfptr_$seed").toString
      val dir = s"mock://$local/idx"
      val rnd = new scala.util.Random(seed)
      var nextId = 0L
      var live = Set.empty[Long]
      var hist = List.empty[Step]
      for (step <- 1 to 10) {
        (if (step == 1) 0 else rnd.nextInt(4)) match {
          case 0 | 1 =>
            val n = 2 + rnd.nextInt(3)
            val batch = (0 until n).map { _ =>
              val id = nextId; nextId += 1; (id, vecOf(id))
            }
            hist ::= Step("append", batch.map(_._1).mkString(","))
            val df = batch.toDF("vec_id", "embedding")
            if (step == 1) IvfIndex.build(df, dir, nlist = 4)
            else IvfIndex.append(df, dir)
            live ++= batch.map(_._1)
          case 2 if live.size > 1 => // keep >= 1 live (an emptied index
            // has no schema to read — same contract as the legacy layout)
            val ids = rnd.shuffle(live.toList)
              .take(1 + rnd.nextInt(math.min(3, live.size - 1)))
            hist ::= Step("retract", ids.mkString(","))
            IvfIndex.retract(spark, dir, ids)
            live --= ids
          case 2 =>
            val id = nextId; nextId += 1
            hist ::= Step("append", id.toString)
            IvfIndex.append(Seq((id, vecOf(id))).toDF("vec_id", "embedding"), dir)
            live += id
          case 3 =>
            hist ::= Step("rebuild", "")
            IvfIndex.rebuild(spark, dir, kmeansIters = 1)
        }
        val f = StoreFsck.fsck(spark, dir, deep = true)
        assert(f.isEmpty,
          s"seed=$seed step=$step fsck dirty: $f\nhistory=${hist.reverse}")
        val got = IvfIndex.assignmentsDf(spark, dir)
          .select("id").collect().map(_.getLong(0)).toSet
        assert(got == live,
          s"seed=$seed step=$step vectors $got != live $live\n${hist.reverse}")
        // probe exactness: a live vector's own direction returns itself
        val probe = live.min
        val q = Seq((0L, vecOf(probe))).toDF("vec_id", "embedding")
        val top = IvfIndex.search(spark, dir, q, k = 1, nprobe = 4)
          .collect().head
        assert(top.getAs[Long]("neighbor_id") == probe &&
          top.getAs[Double]("cosine") == 1.0,
          s"seed=$seed step=$step self-probe $probe got $top\n${hist.reverse}")
      }
      val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      assert(graft.fs.PartitionPointer.active(fs,
        new org.apache.hadoop.fs.Path(s"$dir/assignments")),
        s"seed $seed never engaged the pointer layer — widen the step mix")
    }
  }

  test("pointer clusters store (rename-less scheme): resolved-label parity across seeded lifecycles") {
    // r19 — the clusters pointer arm: every fold and retraction commits
    // by pointer flip. Model: connected components over the FULL pair
    // history (edges a retired doc contributed stay merged — the
    // documented graph semantics), projected to surviving vertices and
    // renamed to each cluster's min surviving member.
    spark.sparkContext.hadoopConfiguration.set(
      "fs.mock.impl", classOf[graft.fs.MockRemoteFileSystem].getName)
    def model(pairs: Seq[(Long, Long)], retired: Set[Long]): Map[Long, Long] = {
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val verts = pairs.flatMap(p => Seq(p._1, p._2)).distinct
      val byRoot = verts.groupBy(find)
      byRoot.values.flatMap { members =>
        val surviving = members.filterNot(retired)
        if (surviving.isEmpty) Nil
        else surviving.map(_ -> surviving.min)
      }.toMap
    }
    for (seed <- Seq(4401, 4502)) {
      val local = Files.createTempDirectory(s"lfz_ccptr_$seed").toString
      val dir = s"mock://$local/store"
      val rnd = new scala.util.Random(seed)
      var nextId = 0L
      var pairs = Vector.empty[(Long, Long)]
      var retired = Set.empty[Long]
      var hist = List.empty[Step]
      def freshId(): Long = { val id = nextId; nextId += 1; id }
      def liveVerts: Seq[Long] =
        (pairs.flatMap(p => Seq(p._1, p._2)).toSet -- retired).toSeq.sorted
      for (step <- 1 to 12) {
        (if (step == 1) 0 else rnd.nextInt(4)) match {
          case 0 | 1 =>
            val n = 1 + rnd.nextInt(2)
            val batch = (0 until n).map { _ =>
              val vs = liveVerts
              val a =
                if (vs.nonEmpty && rnd.nextBoolean()) vs(rnd.nextInt(vs.size))
                else freshId()
              (a, freshId())
            }
            hist ::= Step("pairs", batch.mkString(","))
            IncrementalComponents.addPairs(
              batch.toDF("doc_a", "doc_b"), dir)
            pairs ++= batch
          case 2 if liveVerts.nonEmpty =>
            val vs = liveVerts
            val v = vs(rnd.nextInt(vs.size))
            hist ::= Step("retract", v.toString)
            Retract.retract(spark, dir, Seq(v))
            retired += v
          case 2 => ()
          case 3 =>
            hist ::= Step("compact", "")
            IncrementalComponents.compact(spark, dir)
        }
        val f = StoreFsck.fsck(spark, dir, deep = true)
        assert(f.isEmpty,
          s"seed=$seed step=$step fsck dirty: $f\nhistory=${hist.reverse}")
        val got = IncrementalComponents.labels(spark, dir)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val want = model(pairs, retired)
        assert(got == want,
          s"seed=$seed step=$step labels $got != model $want\n${hist.reverse}")
      }
      // deterministic tail: a guaranteed cluster merge + fold, so every
      // seed exercises the pointer commit at least once (a seed may
      // legitimately draw neither a merging batch nor a retraction)
      val (a, b, c, d) = (freshId(), freshId(), freshId(), freshId())
      IncrementalComponents.addPairs(
        Seq((a, b), (c, d)).toDF("doc_a", "doc_b"), dir)
      IncrementalComponents.addPairs(
        Seq((b, c)).toDF("doc_a", "doc_b"), dir)
      pairs ++= Seq((a, b), (c, d), (b, c))
      assert(IncrementalComponents.compact(spark, dir) > 0L)
      val gotT = IncrementalComponents.labels(spark, dir)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(gotT == model(pairs, retired), s"seed=$seed tail parity")
      val fT = StoreFsck.fsck(spark, dir, deep = true)
      assert(fT.isEmpty, s"seed=$seed tail fsck dirty: $fT")
      val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      assert(graft.fs.PartitionPointer.active(fs,
        new org.apache.hadoop.fs.Path(s"$dir/labels")),
        s"seed $seed never engaged the pointer layer — widen the step mix")
    }
  }

  test("pointer store: fsck --repair racing GC churn phantom-heals " +
      "nothing and loses nothing (r19 verdict #7)") {
    // repair takes the store lock, mutations take the store lock, and
    // every locked cycle's sweep runs the pointer GC over the grace
    // generations the PREVIOUS cycle left — so a repair interleaved
    // with continuous churn lists generations the very next sweep
    // collects. The contract under test: between any two locked
    // cycles the store is consistent, so a repair that wins the lock
    // must find NOTHING to heal (no phantom orphans from a listing
    // taken while generations turn over), and a repair that loses the
    // lock must surface as lock-busy, never as a half-heal.
    spark.sparkContext.hadoopConfiguration.set(
      "fs.mock.impl", classOf[graft.fs.MockRemoteFileSystem].getName)
    val local = Files.createTempDirectory("lfz_repairrace").toString
    val dir = s"mock://$local/s"
    var nextId = 0L
    var keepers = Map.empty[String, Long] // churn-thread-only model
    // mutations fail-fast on a held lock (waitMs=0) — when the racing
    // repair wins the lock, the churn's move is EXPECTED to bounce;
    // retrying it models a writer rescheduled around an admin pass,
    // and the retry wrapper guards ONLY the locked store call (never
    // the model/id bookkeeping, which must run once)
    def withLockRetry[T](body: => T): T = {
      var out: Option[T] = None
      while (out.isEmpty) {
        try out = Some(body)
        catch {
          case _: graft.fs.StoreLockBusyException => Thread.sleep(10L)
        }
      }
      out.get
    }
    def appendBatch(n: Int): Unit = {
      val b = (0 until n).map { _ =>
        val id = nextId; nextId += 1; (id, textOf(id))
      }
      b.sortBy(_._1).foreach { case (id, t) =>
        if (!keepers.contains(t)) keepers += t -> id
      }
      val df = b.toDF("doc_id", "text")
      withLockRetry { IncrementalDedup.exactBatch(df, dir).collect() }
      ()
    }
    appendBatch(6)
    // engage the pointer layer before the race starts
    val first = keepers.values.min
    withLockRetry { Retract.retract(spark, dir, Seq(first)) }
    keepers = keepers.filterNot(_._2 == first)
    val fsP = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(graft.fs.PartitionPointer.active(fsP,
      new org.apache.hadoop.fs.Path(dir)))
    val churnErr =
      new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val churnDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val churn = new Thread(() =>
      try {
        val rnd = new scala.util.Random(7501)
        for (cycle <- 1 to 8) {
          val victim = keepers.values.toSeq
            .sorted.apply(rnd.nextInt(keepers.size))
          withLockRetry { Retract.retract(spark, dir, Seq(victim)) }
          keepers = keepers.filterNot(_._2 == victim)
          appendBatch(2 + rnd.nextInt(2))
          if (cycle % 3 == 0)
            withLockRetry { IncrementalDedup.compactStore(spark, dir) }
        }
      } catch { case t: Throwable => churnErr.set(t) }
      finally churnDone.set(true))
    churn.start()
    var cleanRepairs = 0
    var busy = 0
    // admin cadence: pause between repair passes — a back-to-back
    // repair loop re-acquires the lock microseconds after releasing
    // it and STARVES the churn (the first render of this test
    // livelocked exactly there); the deadline bounds a wedged race
    val raceDeadline = System.currentTimeMillis() + 180000L
    while ((!churnDone.get() || cleanRepairs == 0) &&
        System.currentTimeMillis() < raceDeadline) {
      try {
        val acts = StoreFsck.repair(spark, dir, deep = true)
        assert(acts.isEmpty,
          s"repair racing GC churn phantom-healed: $acts")
        cleanRepairs += 1
      } catch {
        case _: graft.fs.StoreLockBusyException => busy += 1
      }
      Thread.sleep(400L)
    }
    churn.join(120000)
    assert(churnDone.get(), "churn starved behind the repair cadence")
    assert(churnErr.get() == null, s"churn died: ${churnErr.get()}")
    assert(cleanRepairs >= 1,
      s"race never exercised a repair pass ($busy lock-busy)")
    // post-race: store content intact, deep fsck clean, one more
    // repair still a no-op
    assert(StoreFsck.fsck(spark, dir, deep = true).isEmpty)
    assert(StoreFsck.repair(spark, dir, deep = true).isEmpty)
    val got = StoreRows(spark, dir)._1
      .select("keep_doc_id").collect().map(_.getLong(0)).toSet
    assert(got == keepers.values.toSet,
      s"post-race keepers $got != model ${keepers.values.toSet}")
    // deterministic crashed-swap tail: an unreferenced staged pv dir
    // (the state a crash between a commitSwap's PUT and its deferred
    // outgoing-prev deletes leaves behind) is exactly what the next
    // locked cycle's GC must collect — the RIGHT generation: the
    // orphan goes, every live generation stays
    val orphan = new org.apache.hadoop.fs.Path(dir, "_parts/bp=0/pv=999")
    fsP.mkdirs(orphan)
    fsP.create(new org.apache.hadoop.fs.Path(orphan, "junk.parquet"), true)
      .close()
    graft.fs.StoreLock.withLock(dir,
      spark.sparkContext.hadoopConfiguration) {
      graft.fs.PartitionPointer.sweepGarbage(spark, dir)
    }
    assert(!fsP.exists(orphan), "orphan pv dir survived the GC sweep")
    val got2 = StoreRows(spark, dir)._1
      .select("keep_doc_id").collect().map(_.getLong(0)).toSet
    assert(got2 == keepers.values.toSet,
      "the orphan sweep touched a live generation")
  }
}
