package graft.ops

import java.nio.file.Files

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Incremental dedup: batch-sequence results must equal full-corpus
  * results — the contract that makes the store trustworthy. */
class IncrementalDedupSpec extends SparkSuite {

  import spark.implicits._

  test("exact: duplicates found across batches and within a batch; store grows by novel only") {
    val dir = Files.createTempDirectory("incdedup_exact").toString + "/store"
    val b1 = Seq((1L, "aaa"), (2L, "bbb"), (3L, "aaa")).toDF("doc_id", "text")
    val r1 = IncrementalDedup.exactBatch(b1, dir)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        Option(r.getAs[java.lang.Long]("dup_of")).map(_.toLong)).toMap
    // batch-internal: 3 dups 1; 1 and 2 novel
    assert(r1 == Map(1L -> None, 2L -> None, 3L -> Some(1L)))
    val b2 = Seq((10L, "bbb"), (11L, "ccc"), (12L, "ccc")).toDF("doc_id", "text")
    val r2 = IncrementalDedup.exactBatch(b2, dir)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        Option(r.getAs[java.lang.Long]("dup_of")).map(_.toLong)).toMap
    // 10 dups the STORE keeper 2; 12 dups batch keeper 11
    assert(r2 == Map(10L -> Some(2L), 11L -> None, 12L -> Some(11L)))
    // store holds exactly one keeper per distinct content
    val store = spark.read.parquet(dir)
    assert(store.count() == 3)
    assert(store.select("keep_doc_id").as[Long].collect().toSet == Set(1L, 2L, 11L))
    // retried batch: same verdicts, store unchanged (idempotent re-run)
    val r2again = IncrementalDedup.exactBatch(b2, dir)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        Option(r.getAs[java.lang.Long]("dup_of")).map(_.toLong)).toMap
    assert(r2again == r2)
    assert(spark.read.parquet(dir).count() == 3)
  }

  test("geometry manifest: mismatched constants fail loudly, matching ones pass") {
    val dir = Files.createTempDirectory("incdedup_meta").toString + "/store"
    val b1 = Seq((1L, "some text here"), (2L, "other text there")).toDF("doc_id", "text")
    IncrementalDedup.minhashBatch(b1, dir, numHashes = 64, bands = 16)
    // same geometry: fine
    IncrementalDedup.minhashBatch(b1, dir, numHashes = 64, bands = 16)
    // different banding would bucket-join garbage — must fail loudly
    val e = intercept[IllegalArgumentException] {
      IncrementalDedup.minhashBatch(b1, dir, numHashes = 64, bands = 8)
    }
    assert(e.getMessage.contains("bands=8"), e.getMessage)
    // a store of the wrong VARIANT entirely
    val e2 = intercept[IllegalArgumentException] {
      IncrementalDedup.exactBatch(b1, dir)
    }
    assert(e2.getMessage.contains("variant=exact"), e2.getMessage)
    // a truncated/corrupt manifest (crash mid-write predating the atomic
    // rename, or a hand-edit): actionable message, not a Jackson trace
    val mp = new org.apache.hadoop.fs.Path(dir, "_graft_store.json")
    val fs = mp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(mp, true)
    out.write("""{"variant":"minh""".getBytes("UTF-8"))
    out.close()
    val e3 = intercept[IllegalArgumentException] {
      IncrementalDedup.minhashBatch(b1, dir, numHashes = 64, bands = 16)
    }
    assert(e3.getMessage.contains("unparseable"), e3.getMessage)
    assert(e3.getMessage.contains(dir), e3.getMessage)
  }

  test("storePartsFor: corpus-driven, power-of-two, clamped") {
    // small stores hit the 32 floor (no file-create tax for pruning a
    // toy store doesn't need), big ones scale at ~4Ki rows/part, the
    // ceiling bounds the driver-side touched-partition collect
    assert(IncrementalDedup.storePartsFor(0L) == 32)
    assert(IncrementalDedup.storePartsFor(2500L) == 32)
    assert(IncrementalDedup.storePartsFor(200L * 16) == 32)
    assert(IncrementalDedup.storePartsFor(1300000L) == 512)
    assert(IncrementalDedup.storePartsFor(4096L * 1024) == 1024)
    assert(IncrementalDedup.storePartsFor(10000000000L) == 65536)
    // exact powers of two are not doubled
    assert(IncrementalDedup.storePartsFor(4096L * 64) == 64)
  }

  test("auto geometry: first batch sizes the store, later batches adopt the manifest") {
    val dir = Files.createTempDirectory("incdedup_auto").toString + "/store"
    val b1 = (0L until 100L).map(i => (i, s"text-$i")).toDF("doc_id", "text")
    IncrementalDedup.minhashBatch(b1, dir) // auto: 100 docs × 16 bands → 32
    val mp = new org.apache.hadoop.fs.Path(dir, "_graft_store.json")
    val fs = mp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(mp)
    val body = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    assert(body.contains(""""store_parts":"32""""), body)
    // a later auto batch of a very different size adopts 32 — no
    // geometry error, verdicts computed against the store as laid out
    val b2 = (1000L until 3000L).map(i => (i, s"text-${i % 120}"))
      .toDF("doc_id", "text")
    val r2 = IncrementalDedup.minhashBatch(b2, dir)
    assert(r2.count() > 0)
    // but an EXPLICIT mismatching count still fails loudly
    val e = intercept[IllegalArgumentException] {
      IncrementalDedup.minhashBatch(b1, dir, storeParts = 64)
    }
    assert(e.getMessage.contains("store_parts"), e.getMessage)
  }

  test("manifest write sweeps tmp orphans from writers that crashed pre-rename") {
    val dir = Files.createTempDirectory("incdedup_tmporphan").toString + "/store"
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(root)
    // two corpses from different pids, killed between tmp create and rename
    Seq("12345", "67890").foreach { pid =>
      val out = fs.create(
        new org.apache.hadoop.fs.Path(root, s"_graft_store.json.tmp-$pid"), true)
      out.write("""{"variant":"exa""".getBytes("UTF-8"))
      out.close()
    }
    val b1 = Seq((1L, "aaa"), (2L, "bbb")).toDF("doc_id", "text")
    IncrementalDedup.exactBatch(b1, dir)
    val leftovers = fs.listStatus(root)
      .map(_.getPath.getName).filter(_.startsWith("_graft_store.json.tmp-"))
    assert(leftovers.isEmpty, leftovers.mkString(", "))
    assert(fs.exists(new org.apache.hadoop.fs.Path(root, "_graft_store.json")))
  }

  test("compactStore: one file per partition after many appends; verdicts unchanged") {
    val dir = Files.createTempDirectory("incdedup_compact").toString + "/store"
    def text(i: Long): String =
      (0 until 12).map(j => s"w${(i * 17 + j * 11) % 997}").mkString(" ")
    // several appends fragment the partitions the batches share
    for (b <- 0 until 4) {
      val batch = (b * 50L until (b + 1) * 50L).map(i => (i, text(i % 60)))
        .toDF("doc_id", "text")
      IncrementalDedup.minhashBatch(batch, dir)
    }
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def filesPerPart(): Seq[Int] = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("bp="))
      .map(p => fs.listStatus(p.getPath)
        .count(f => f.getPath.getName.endsWith(".parquet"))).toIndexedSeq
    assert(filesPerPart().exists(_ > 1), "appends should have fragmented the store")
    val before = spark.read.parquet(dir).select("doc_id", "band", "bh")
      .collect().map(_.toString).sorted
    val rewritten = IncrementalDedup.compactStore(spark, dir)
    assert(rewritten > 0)
    assert(filesPerPart().forall(_ == 1), "every partition should be one file")
    // content is byte-for-byte the same store
    val after = spark.read.parquet(dir).select("doc_id", "band", "bh")
      .collect().map(_.toString).sorted
    assert(after.sameElements(before))
    // idempotent: nothing left to rewrite
    assert(IncrementalDedup.compactStore(spark, dir) == 0)
    // and the store still works: a dup of doc 0's text is found
    val r = IncrementalDedup.minhashBatch(
      Seq((9999L, text(0))).toDF("doc_id", "text"), dir)
    assert(r.filter(col("doc_a") === 0L && col("doc_b") === 9999L).count() == 1)
  }

  test("compactStore crash recovery: committed place drops stale trash; mid-swap crash merges") {
    // The three crash states a killed compact can leave, each recovered by
    // the NEXT compact's sweep. The commit witness is tmp/<name>: the place
    // step renames tmp/<name> → root/<name>, so tmp ABSENT + dst present
    // means the place committed and trash is a stale copy (merging it back
    // would double every row); tmp PRESENT means the crash landed between
    // the two renames and the trash rows are the store's only copy.
    val dir = Files.createTempDirectory("incdedup_crash").toString + "/store"
    val seed = spark.range(300)
      .selectExpr("id AS doc_id", "concat('crash-text-', id) AS text")
    IncrementalDedup.exactBatch(seed, dir)
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(conf)
    def parts() = fs.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("bp="))
    val trash = new org.apache.hadoop.fs.Path(root, "_compact_trash")
    val tmp = new org.apache.hadoop.fs.Path(root, "_compact_tmp")
    def rowsSorted() = spark.read.parquet(dir)
      // digest rests as BINARY since the key-encoding change; hex it for
      // a value comparison (Row.toString on byte arrays is identity-based)
      .select(lower(hex(col("digest"))).as("digest"), col("keep_doc_id"))
      .collect().map(_.toString).sorted.toSeq
    val before = rowsSorted()

    // Case A — crash AFTER a partition's place rename committed but before
    // its trash copy was dropped: dst live (compacted), tmp/<name> absent,
    // trash/<name> a byte-identical stale copy. Recovery must DELETE the
    // trash copy; a merge would silently double every row in the partition.
    val pA = parts().head.getPath
    fs.mkdirs(new org.apache.hadoop.fs.Path(trash, pA.getName))
    fs.listStatus(pA).filter(_.getPath.getName.endsWith(".parquet")).foreach { f =>
      org.apache.hadoop.fs.FileUtil.copy(fs, f.getPath, fs,
        new org.apache.hadoop.fs.Path(trash, s"${pA.getName}/${f.getPath.getName}"),
        false, conf)
    }
    IncrementalDedup.compactStore(spark, dir)
    assert(rowsSorted() == before,
      "committed-place recovery merged the stale trash copy back: rows doubled")
    assert(!fs.exists(trash) && !fs.exists(tmp))

    // Case B — crash BETWEEN the renames with no later append: the
    // partition sits in trash, absent from the store. Recovery restores it.
    val pB = parts().head.getPath
    fs.mkdirs(trash)
    require(fs.rename(pB, new org.apache.hadoop.fs.Path(trash, pB.getName)))
    IncrementalDedup.compactStore(spark, dir)
    assert(rowsSorted() == before,
      "mid-swap recovery lost the trashed partition's rows")

    // Case C — crash between the renames AND a later append recreated the
    // partition (new rows only): tmp/<name> still exists (the witness), so
    // recovery must MERGE the trash files into the live dir — they hold the
    // store's original rows; a skip would hand them to the trash delete.
    val pC = parts().head.getPath
    val donor = parts().map(_.getPath).find(_ != pC).get
    val donorFile = fs.listStatus(donor)
      .map(_.getPath).find(_.getName.endsWith(".parquet")).get
    val donorRows = spark.read.parquet(donorFile.toString).count()
    fs.mkdirs(trash)
    require(fs.rename(pC, new org.apache.hadoop.fs.Path(trash, pC.getName)))
    fs.mkdirs(new org.apache.hadoop.fs.Path(tmp, pC.getName)) // un-placed tmp
    fs.mkdirs(pC) // "recreated" partition with new rows (borrowed from a donor)
    org.apache.hadoop.fs.FileUtil.copy(fs, donorFile, fs,
      new org.apache.hadoop.fs.Path(pC, s"recreated-${donorFile.getName}"),
      false, conf)
    IncrementalDedup.compactStore(spark, dir)
    assert(spark.read.parquet(dir).count() == before.size + donorRows,
      "recreated-partition recovery dropped either the trash or the new rows")
    assert(!fs.exists(trash) && !fs.exists(tmp))
  }

  test("a second writer fails loudly while the store lock is held, succeeds after") {
    val dir = Files.createTempDirectory("incdedup_lock").toString + "/store"
    val b1 = Seq((1L, "aaa"), (2L, "bbb")).toDF("doc_id", "text")
    val conf = spark.sparkContext.hadoopConfiguration
    // writer A mid-cycle: lock held -> writer B must detect-and-fail with
    // the holder's identity, never observe-and-append
    graft.fs.StoreLock.withLock(dir, conf, owner = "writer-a") {
      val e = intercept[IllegalStateException] {
        IncrementalDedup.exactBatch(b1, dir)
      }
      assert(e.getMessage.contains("writer-a"), e.getMessage)
      assert(e.getMessage.contains(dir))
    }
    // lock released: the same batch now commits normally
    val r = IncrementalDedup.exactBatch(b1, dir)
    assert(r.count() == 2)
    assert(spark.read.parquet(dir).count() == 2)
    // and the operator released its own lock (store is writable again)
    assert(graft.fs.StoreLock.holder(dir, conf).isEmpty)
  }

  test("waitMs: a contended writer succeeds once the holder releases within budget") {
    // default waitMs=0 is detect-and-fail (previous test); a positive
    // budget retries with backoff — the streaming-micro-batch path where
    // failing the whole trigger over a brief compaction hold is wrong
    val dir = Files.createTempDirectory("incdedup_wait").toString + "/store"
    val conf = spark.sparkContext.hadoopConfiguration
    val holderDone = new java.util.concurrent.CountDownLatch(1)
    val a = new Thread(() => {
      graft.fs.StoreLock.withLock(dir, conf, owner = "brief-holder") {
        Thread.sleep(800)
      }
      holderDone.countDown()
    })
    a.start()
    Thread.sleep(150) // let A acquire first
    var ran = false
    graft.fs.StoreLock.withLock(dir, conf, owner = "patient-b",
      waitMs = 10000L) { ran = true }
    assert(ran)
    a.join(5000)
    assert(holderDone.getCount == 0, "holder thread never finished")
    // and an exhausted budget still fails loudly, naming the wait
    val b = new Thread(() =>
      graft.fs.StoreLock.withLock(dir, conf, owner = "long-holder") {
        Thread.sleep(3000)
      })
    b.start()
    Thread.sleep(150)
    val e = intercept[IllegalStateException] {
      graft.fs.StoreLock.withLock(dir, conf, owner = "impatient",
        waitMs = 300L) { fail("must not acquire") }
    }
    assert(e.getMessage.contains("waited 300ms"), e.getMessage)
    b.join(10000)
  }

  test("an owner with JSON metacharacters still releases its lock") {
    // an unescaped quote/backslash would make the holder file
    // unparseable: the release's owner compare never matches, the lock
    // is never deleted, and the NEXT writer here would fail loudly
    val dir = Files.createTempDirectory("lock_meta").toString
    val conf = spark.sparkContext.hadoopConfiguration
    graft.fs.StoreLock.withLock(dir, conf,
      owner = "job \"nightly\" \\ batch") { () }
    graft.fs.StoreLock.withLock(dir, conf, owner = "second") { () }
  }

  test("release deletes only our own lock, never a usurper's fresh one") {
    // The double-break hazard: A's cycle outlives staleMs, B breaks the
    // stale lock and claims a fresh one. A's release must then NOT delete
    // B's lock (an unconditional delete would let a third writer start
    // while B is still mid-cycle). Simulate the break inside A's body.
    val dir = Files.createTempDirectory("incdedup_usurp").toString + "/store"
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    val lock = new org.apache.hadoop.fs.Path(dir, "_graft_lock.json")
    val bSince = System.currentTimeMillis()
    graft.fs.StoreLock.withLock(dir, conf, owner = "slow-a") {
      // B breaks A's "stale" lock and claims a fresh one
      fs.delete(lock, false)
      val out = fs.create(lock, false)
      out.write(s"""{"owner":"fast-b","since_ms":$bSince}""".getBytes("UTF-8"))
      out.close()
    }
    // A's finally ran: B's lock must still be in place
    val h = graft.fs.StoreLock.holder(dir, conf)
    assert(h.contains(graft.fs.StoreLock.Holder("fast-b", bSince)),
      s"A's release clobbered B's lock: $h")
    fs.delete(lock, false)
  }

  test("heartbeat keeps a long live cycle's lock fresh — never broken as stale") {
    // a cycle outliving staleMs used to look crashed; with the heartbeat
    // rewriting since_ms every staleMs/3, a second writer keeps failing
    // loudly for as long as the first is genuinely alive
    val dir = Files.createTempDirectory("incdedup_beat").toString + "/store"
    val conf = spark.sparkContext.hadoopConfiguration
    graft.fs.StoreLock.withLock(dir, conf, owner = "slow-live", staleMs = 3000L) {
      Thread.sleep(4500) // > staleMs: without the beat this lock is stale
      val h = graft.fs.StoreLock.holder(dir, conf)
      assert(h.exists(_.owner == "slow-live"), h.toString)
      // age must have been refreshed below the stale threshold
      assert(h.exists(x => System.currentTimeMillis() - x.sinceMs < 3000L),
        h.toString)
      // a second writer still detects-and-fails (no stale takeover)
      val e = intercept[IllegalStateException] {
        graft.fs.StoreLock.withLock(dir, conf, owner = "thief",
          staleMs = 3000L) { fail("must not acquire") }
      }
      assert(e.getMessage.contains("slow-live"), e.getMessage)
    }
    // and release still works after heartbeating
    assert(graft.fs.StoreLock.holder(dir, conf).isEmpty)
  }

  test("a stale lock from a crashed writer is broken, not honored forever") {
    val dir = Files.createTempDirectory("incdedup_stale").toString + "/store"
    val conf = spark.sparkContext.hadoopConfiguration
    // simulate a crash: take the lock and never release it
    intercept[RuntimeException] {
      graft.fs.StoreLock.withLock(dir, conf, owner = "crashed") {
        throw new RuntimeException("boom")
      }
    }
    assert(graft.fs.StoreLock.holder(dir, conf).isEmpty) // released on failure
    // a truly orphaned lock file (writer died without the finally): plant
    // one with an old timestamp and check it is broken on acquisition
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    val lock = new org.apache.hadoop.fs.Path(dir, "_graft_lock.json")
    val out = fs.create(lock, true)
    out.write(s"""{"owner":"orphan","since_ms":1}""".getBytes("UTF-8"))
    out.close()
    val b = Seq((5L, "zzz")).toDF("doc_id", "text")
    assert(IncrementalDedup.exactBatch(b, dir).count() == 1) // stale -> broken
    // but a FRESH foreign lock is honored
    val out2 = fs.create(lock, true)
    out2.write(
      s"""{"owner":"live","since_ms":${System.currentTimeMillis()}}"""
        .getBytes("UTF-8"))
    out2.close()
    intercept[IllegalStateException] { IncrementalDedup.exactBatch(b, dir) }
    fs.delete(lock, false)
  }

  test("an unreadable lock ages by file mtime: fresh race honored, stale corpse broken") {
    // a writer killed between lock create and JSON write (or a torn
    // rewrite on a rename-less scheme) leaves a lock with no readable
    // body. It must act like any other holder: honored while fresh,
    // breakable once its mtime is older than staleMs — NOT unbreakable
    // forever because every read restamps it "now".
    val dir = Files.createTempDirectory("incdedup_unread").toString + "/store"
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(conf)
    fs.mkdirs(root)
    val lock = new org.apache.hadoop.fs.Path(dir, "_graft_lock.json")
    val out = fs.create(lock, true)
    out.write("{\"owner\":\"torn".getBytes("UTF-8")) // truncated mid-write
    out.close()
    // fresh mtime: held-and-fresh — a second writer fails loudly
    val e = intercept[IllegalStateException] {
      graft.fs.StoreLock.withLock(dir, conf, staleMs = 60000L) {
        fail("must not acquire under a fresh (if unreadable) lock")
      }
    }
    assert(e.getMessage.contains("<unreadable-holder>"), e.getMessage)
    // backdate the corpse past staleMs: the normal break path reclaims it
    java.nio.file.Files.setLastModifiedTime(
      java.nio.file.Paths.get(lock.toUri.getPath),
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 120000L))
    var ran = false
    graft.fs.StoreLock.withLock(dir, conf, staleMs = 60000L) { ran = true }
    assert(ran)
    assert(graft.fs.StoreLock.holder(dir, conf).isEmpty)
  }

  test("heartbeat rewrites atomically: concurrent reads never see a torn body") {
    // the beat lands every ~staleMs/3; with temp-write + rename a reader
    // polling the lock must observe a complete holder JSON on EVERY read
    // (the old truncate-then-write rewrite had an unreadable window)
    val dir = Files.createTempDirectory("incdedup_atomic").toString + "/store"
    val conf = spark.sparkContext.hadoopConfiguration
    graft.fs.StoreLock.withLock(dir, conf, owner = "beater", staleMs = 3000L) {
      val deadline = System.currentTimeMillis() + 4000L // spans 3-4 beats
      while (System.currentTimeMillis() < deadline) {
        val h = graft.fs.StoreLock.holder(dir, conf)
        assert(h.exists(_.owner == "beater"), s"torn or missing holder: $h")
      }
    }
    assert(graft.fs.StoreLock.holder(dir, conf).isEmpty)
  }

  test("rename-less scheme: the lock file is immutable while beats ride the sidecar") {
    // the r9 finding: on schemes without an atomic rename (object
    // stores, the cached-* family) the heartbeat used to overwrite the
    // lock IN PLACE, leaving a torn-read window. The r12 contract: the
    // lock body NEVER changes after its atomic create (a torn read is
    // impossible), freshness rides the owner-keyed sidecar's mtime, and
    // a long cycle still never goes stale.
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.mock.impl", classOf[graft.fs.MockRemoteFileSystem].getName)
    val local = Files.createTempDirectory("incdedup_sidecar").toString
    val dir = s"mock://$local/store"
    val lockPath = java.nio.file.Paths.get(s"$local/store/_graft_lock.json")
    graft.fs.StoreLock.withLock(dir, conf, owner = "remote-writer",
      staleMs = 3000L) {
      val initial = java.nio.file.Files.readAllBytes(lockPath).toSeq
      val deadline = System.currentTimeMillis() + 4500L // spans 3-4 beats
      while (System.currentTimeMillis() < deadline) {
        assert(java.nio.file.Files.readAllBytes(lockPath).toSeq == initial,
          "lock body changed on a rename-less scheme — torn-read window reopened")
        Thread.sleep(50)
      }
      // the sidecar carried the freshness: past staleMs, still not stale
      val h = graft.fs.StoreLock.holder(dir, conf)
      assert(h.exists(_.owner == "remote-writer"), h.toString)
      assert(h.exists(x => System.currentTimeMillis() - x.sinceMs < 3000L),
        s"sidecar mtime did not refresh freshness: $h")
      // and a second writer still detects-and-fails
      val e = intercept[IllegalStateException] {
        graft.fs.StoreLock.withLock(dir, conf, owner = "thief",
          staleMs = 3000L) { fail("must not acquire") }
      }
      assert(e.getMessage.contains("remote-writer"), e.getMessage)
    }
    // release removed lock AND sidecar
    assert(graft.fs.StoreLock.holder(dir, conf).isEmpty)
    val leftovers = java.nio.file.Files.list(
      java.nio.file.Paths.get(s"$local/store")).toArray.map(_.toString)
      .filter(_.contains("_graft_lock"))
    assert(leftovers.isEmpty, leftovers.mkString(", "))
  }

  test("two racing writers: at least one commits, store never corrupts") {
    // real concurrency: both threads target one store with overlapping
    // content. The lock serializes whoever wins; the loser either waits
    // its turn (ran after release) or fails with the loud lock error.
    // Either way the store invariant — ONE keeper per digest — holds.
    val dir = Files.createTempDirectory("incdedup_race").toString + "/store"
    val b1 = Seq((1L, "shared"), (2L, "only-a")).toDF("doc_id", "text")
    val b2 = Seq((10L, "shared"), (11L, "only-b")).toDF("doc_id", "text")
    val outcomes = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val threads = Seq(b1, b2).zipWithIndex.map { case (b, i) =>
      new Thread(() => {
        try {
          IncrementalDedup.exactBatch(b, dir).collect()
          outcomes.add(s"ok$i")
        } catch {
          case e: IllegalStateException if e.getMessage.contains("locked") =>
            outcomes.add(s"locked$i")
        }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join(120000))
    import scala.jdk.CollectionConverters._
    val res = outcomes.asScala.toSet
    assert(res.exists(_.startsWith("ok")), s"no writer committed: $res")
    // invariant: each digest has exactly one keeper row
    val dup = spark.read.parquet(dir).groupBy("digest").count()
      .filter(col("count") > 1).count()
    assert(dup == 0, "store corrupted: duplicate digests")
    // and the lock is free afterwards
    assert(graft.fs.StoreLock.holder(dir,
      spark.sparkContext.hadoopConfiguration).isEmpty)
  }

  private def recordsReadDuring(body: => Unit): Long = {
    // sum of file-source input records across every task the body runs —
    // the witness for partition pruning (an unpruned store scan reads
    // every store row; a pruned one reads only touched bp directories)
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
      // listener bus is async: wait for the metrics to drain
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

  test("a 1-doc append scans < 10% of a populated store (partition pruning)") {
    // the O(|batch| + touched buckets) claim, measured: the stores are
    // hive-partitioned by bucket prefix, so an append's store reads
    // (candidate join + idempotency anti-join) open only the partitions
    // the batch's own rows hash into — never the whole corpus.
    // explicit 256-part geometry: this test pins the pruning MECHANISM
    // at a fixed partition count; the auto-sizing POLICY (storePartsFor)
    // has its own tests
    val exactDir = Files.createTempDirectory("incdedup_prune_e").toString + "/store"
    val seed = spark.range(2000)
      .selectExpr("id AS doc_id", "concat('unique-text-', id) AS text")
    IncrementalDedup.exactBatch(seed, exactDir, storeParts = 256)
    val one = Seq((9999L, "unique-text-7")).toDF("doc_id", "text")
    var verdict: Map[Long, Option[Long]] = Map.empty
    val exactRecs = recordsReadDuring {
      verdict = IncrementalDedup.exactBatch(one, exactDir)
        .collect().map(r => r.getAs[Long]("doc_id") ->
          Option(r.getAs[java.lang.Long]("dup_of")).map(_.toLong)).toMap
    }
    // correctness across the pruned scan: the store keeper is still found
    assert(verdict == Map(9999L -> Some(7L)))
    assert(exactRecs < 200,
      s"1-doc exact append read $exactRecs records of a 2000-digest store")

    // minhash: 200-doc store = 3200 banded rows; a 1-doc append touches
    // ≤ 16 of 256 partitions per scan — well under the 10% line. Texts
    // are pseudo-random and DISTINCT so signatures (hence band buckets,
    // hence bp partitions) spread uniformly, like a real corpus.
    val mhDir = Files.createTempDirectory("incdedup_prune_m").toString + "/store"
    def text(i: Long): String =
      (0 until 12).map(j => s"w${(i * 13 + j * 7) % 997}").mkString(" ")
    val mhSeed = (0L until 200L).map(i => (i, text(i)))
      .toDF("doc_id", "text")
    IncrementalDedup.minhashBatch(mhSeed, mhDir, storeParts = 256)
    val storeRows = spark.read.parquet(mhDir).count()
    val mhOne = Seq((9999L, text(42L))).toDF("doc_id", "text")
    val mhRecs = recordsReadDuring {
      IncrementalDedup.minhashBatch(mhOne, mhDir).collect()
    }
    // r16: the warm cycle also maintains the doc→bp retraction index —
    // its idempotency anti-join reads the batch's dp partitions only
    // (1 of doc_index_parts for a 1-doc batch); the bound carries that
    // pruned slice explicitly so the store-scan pin stays 10%/scan
    val idxRows = spark.read.parquet(s"$mhDir/_doc_index").count()
    val dpParts =
      IncrementalDedup.storeManifest(spark, mhDir)("doc_index_parts").toInt
    val idxAllowance = 2 * (idxRows / dpParts)
    assert(mhRecs < (storeRows * 2) / 10 + idxAllowance,
      s"1-doc minhash append read $mhRecs of a $storeRows-row store " +
        s"(2 scans + $idxAllowance index slice)")

    // ngram posting store: every distinct gram is its own bucket key, so
    // a 12-token doc (8 5-grams) touches ≤ 8 of 256 partitions per scan.
    // A warm posting cycle runs THREE pruned store scans (idempotency
    // anti-join, df aggregate, posting semi-join) where the sketch
    // stores run two — the bound encodes <10% per scan; a single
    // UNpruned scan alone would already exceed it
    val ngDir = Files.createTempDirectory("incdedup_prune_n").toString + "/store"
    IncrementalDedup.ngramBatch(mhSeed, ngDir, storeParts = 256)
    val ngStoreRows = spark.read.parquet(ngDir).count()
    val ngOne = Seq((9999L, text(42L))).toDF("doc_id", "text")
    val ngRecs = recordsReadDuring {
      IncrementalDedup.ngramBatch(ngOne, ngDir).collect()
    }
    assert(ngRecs < (ngStoreRows * 3) / 10,
      s"1-doc ngram append read $ngRecs of a $ngStoreRows-row store (3 scans)")
  }

  test("minhash: union over batches equals full-corpus pairs") {
    val dir = Files.createTempDirectory("incdedup_mh").toString + "/store"
    val base = "the quick brown fox jumps over the lazy dog and runs far away " +
      "into the deep green forest while birds sing songs above the tall trees"
    val near = base.replace("lazy dog", "sleepy dog")
    val far = "completely different text about spark shuffles partitions " +
      "joins aggregates windows and the catalyst optimizer pipeline stages"
    val b1 = Seq((0L, base), (1L, base), (3L, far)).toDF("doc_id", "text")
    val b2 = Seq((2L, near), (4L, "the " + base)).toDF("doc_id", "text")
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Double]("est_jaccard"))).toSet
    val inc = pairsOf(IncrementalDedup.minhashBatch(b1, dir, threshold = 0.5)) ++
      pairsOf(IncrementalDedup.minhashBatch(b2, dir, threshold = 0.5))
    val full = pairsOf(Dedup.minhashLshPairs(
      b1.unionByName(b2), threshold = 0.5))
    assert(inc == full)
    assert(full.exists(p => p._1 == 0L && p._2 == 1L)) // non-vacuous
    // retried batch: same pairs, store signature count unchanged (the
    // store holds BANDED rows — count docs, not rows)
    val again = pairsOf(IncrementalDedup.minhashBatch(b2, dir, threshold = 0.5))
    assert(again.subsetOf(full))
    assert(spark.read.parquet(dir).select("doc_id").distinct().count() == 5)
  }

  test("ngram gram-bloom: all-novel appends skip the store scan (r13)") {
    // 200-doc seed like the pruning pin; the append doc's tokens live
    // OUTSIDE the seed's token space, so every gram is a bloom miss and
    // the three pruned store scans collapse to (near) nothing — only
    // bloom false positives (3% at cap, ~0 here: cap has 4× headroom)
    // may pull a partition back in
    val dir = Files.createTempDirectory("incdedup_bloom").toString + "/store"
    def text(i: Long): String =
      (0 until 12).map(j => s"w${(i * 13 + j * 7) % 997}").mkString(" ")
    val seed = (0L until 200L).map(i => (i, text(i))).toDF("doc_id", "text")
    IncrementalDedup.ngramBatch(seed, dir, storeParts = 256)
    assert(new java.io.File(s"$dir/_gram_bloom").exists(),
      "creation must write the bloom sidecar")
    val storeRows = spark.read.parquet(dir).count()
    val novel = Seq((9999L, (0 until 12).map(j => s"zz$j").mkString(" ")))
      .toDF("doc_id", "text")
    val recs = recordsReadDuring {
      IncrementalDedup.ngramBatch(novel, dir).collect()
    }
    // the append's own checkpointed rows are re-read by its jobs; the
    // bound says the STORE was not — 8 grams × a handful of fp
    // partitions at ~13 rows each stays far under one store scan
    assert(recs < storeRows / 4,
      s"all-novel 1-doc append read $recs of a $storeRows-row store")

    // overlap append still finds its pairs THROUGH the bloom-pruned scan
    val dup = Seq((10000L, text(42L))).toDF("doc_id", "text")
    val pairs = IncrementalDedup.ngramBatch(dup, dir, threshold = 0.5)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    assert(pairs.contains((42L, 10000L)))
  }

  test("ngram gram-bloom: missing sidecar self-heals; legacy store stays legacy") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("incdedup_bloomheal").toString + "/store"
    val b1 = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "iota kappa lambda mu nu xi omicron pi")).toDF("doc_id", "text")
    IncrementalDedup.ngramBatch(b1, dir, threshold = 0.5)
    // crash window: sidecar deleted, manifest still bloom-keyed
    assert(new java.io.File(s"$dir/_gram_bloom").delete())
    val b2 = Seq((3L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val pairs = IncrementalDedup.ngramBatch(b2, dir, threshold = 0.5)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    assert(pairs.contains((1L, 3L)), "heal path must still find the dup")
    assert(new java.io.File(s"$dir/_gram_bloom").exists(),
      "the healed cycle rewrites the sidecar")

    // legacy store: strip the bloom keys + sidecar; cycles must run the
    // pre-bloom path (no sidecar reappears, no manifest mutation) and a
    // rebuild is the migration that grants one
    val mf = new java.io.File(s"$dir/_graft_store.json")
    val body = new String(java.nio.file.Files.readAllBytes(mf.toPath), "UTF-8")
    // keys are sorted, so bloom_bits/bloom_cap lead and each carries a
    // trailing comma — stripping key+comma leaves valid JSON
    val legacy = body.replaceAll("\"bloom_(bits|cap)\":\"[0-9]+\",?", "")
    java.nio.file.Files.write(mf.toPath, legacy.getBytes("UTF-8"))
    // the out-of-band rewrite invalidates LocalFileSystem's crc sidecar
    new java.io.File(s"$dir/._graft_store.json.crc").delete()
    assert(new java.io.File(s"$dir/_gram_bloom").delete())
    val pairs2 = IncrementalDedup.ngramBatch(
      Seq((4L, "iota kappa lambda mu nu xi omicron pi")).toDF("doc_id", "text"),
      dir, threshold = 0.5)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    assert(pairs2.contains((2L, 4L)))
    assert(!new java.io.File(s"$dir/_gram_bloom").exists(),
      "a pre-bloom manifest must not sprout a sidecar mid-life")
    val dst = Files.createTempDirectory("incdedup_bloomheal2").toString + "/re"
    IncrementalDedup.rebuildStore(spark, dir, dst)
    assert(new java.io.File(s"$dst/_gram_bloom").exists(),
      "rebuild migrates a legacy store to the bloom sidecar")
    val pairs3 = IncrementalDedup.ngramBatch(
      Seq((5L, "alpha beta gamma delta epsilon zeta eta theta"))
        .toDF("doc_id", "text"), dst, threshold = 0.5)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    assert(pairs3.contains((1L, 5L)) && pairs3.contains((3L, 5L)))
  }

  test("ngram: union over batches equals full-corpus pairs, counts exact") {
    val dir = Files.createTempDirectory("incdedup_ng").toString + "/store"
    val base = "the quick brown fox jumps over the lazy dog and runs far away " +
      "into the deep green forest while birds sing songs above the tall trees"
    val near = base.replace("lazy dog", "sleepy dog")
    val far = "completely different text about spark shuffles partitions " +
      "joins aggregates windows and the catalyst optimizer pipeline stages"
    val b1 = Seq((0L, base), (1L, base), (3L, far)).toDF("doc_id", "text")
    val b2 = Seq((2L, near), (4L, "the " + base)).toDF("doc_id", "text")
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Long]("n_common"), r.getAs[Double]("jaccard"))).toSet
    val inc = pairsOf(IncrementalDedup.ngramBatch(b1, dir, threshold = 0.5)) ++
      pairsOf(IncrementalDedup.ngramBatch(b2, dir, threshold = 0.5))
    val full = pairsOf(Dedup.ngramJaccardPairs(
      b1.unionByName(b2), threshold = 0.5))
    // n_common and jaccard match VALUE-exactly, not just the pair set —
    // the flag discipline must count each unordered pair's shared grams
    // exactly once whichever sides they arrive from
    assert(inc == full)
    // non-vacuous: within-batch (0,1) at jaccard 1.0 and cross-batch
    // pairs through the store
    assert(full.exists(p => p._1 == 0L && p._2 == 1L && p._4 == 1.0))
    assert(full.exists(p => p._1 == 0L && p._2 == 4L))
    assert(full.exists(p => p._1 == 2L && p._2 == 4L)) // batch-internal
    // retried batch: pairs re-emitted from the store side (subset of
    // full), store posting count unchanged
    val storeCount = spark.read.parquet(dir).count()
    val again = pairsOf(IncrementalDedup.ngramBatch(b2, dir, threshold = 0.5))
    assert(again.nonEmpty && again.subsetOf(full))
    assert(spark.read.parquet(dir).count() == storeCount)
    assert(spark.read.parquet(dir).select("doc_id").distinct().count() == 5)
  }

  test("ngram: dfCap drops stop-grams identically to the one-shot") {
    val dir = Files.createTempDirectory("incdedup_ngcap").toString + "/store"
    // batch 1 carries ALL the stop-phrase docs, so its grams hit df=4 >
    // cap=3 immediately — dropped by the creation cycle AND the
    // one-shot; batch 2's doc shares grams only with doc 3 (df=2, under
    // the cap, and nothing later pushes them over). That satisfies the
    // documented parity condition: no gram's df crosses the cap AFTER a
    // pair that counted it was emitted.
    val stop = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"
    val b1 = Seq(
      (0L, s"alpha beta gamma delta epsilon zeta eta theta $stop"),
      (1L, s"alpha beta gamma delta epsilon zeta eta iota $stop"),
      (2L, s"alpha beta gamma delta epsilon zeta eta theta $stop"),
      (3L, s"totally unrelated words nothing shared here at all everywhere $stop"))
      .toDF("doc_id", "text")
    val b2 = Seq(
      (4L, "totally unrelated words nothing shared here at all indeed"))
      .toDF("doc_id", "text")
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Long]("n_common"))).toSet
    val inc =
      pairsOf(IncrementalDedup.ngramBatch(b1, dir, threshold = 0.1, dfCap = 3)) ++
        pairsOf(IncrementalDedup.ngramBatch(b2, dir, threshold = 0.1, dfCap = 3))
    val full = pairsOf(Dedup.ngramJaccardPairs(
      b1.unionByName(b2), threshold = 0.1, dfCap = 3))
    assert(inc == full)
    // the cap is ACTIVE: identical docs (0,2) lose their df=4 stop
    // grams, so the uncapped one-shot counts strictly more shared grams
    val uncapped = pairsOf(Dedup.ngramJaccardPairs(
      b1.unionByName(b2), threshold = 0.1, dfCap = 1000))
    val c02 = full.find(p => p._1 == 0L && p._2 == 2L).get._3
    val u02 = uncapped.find(p => p._1 == 0L && p._2 == 2L).get._3
    assert(c02 < u02, s"capped $c02 vs uncapped $u02")
    // cross-batch pair through the store under the cap
    assert(full.exists(p => p._1 == 3L && p._2 == 4L))
  }

  test("simhash: union over batches equals full-corpus pairs") {
    val dir = Files.createTempDirectory("incdedup_sh").toString + "/store"
    val base = "the quick brown fox jumps over the lazy dog and runs far away " +
      "into the deep green forest while birds sing songs above the tall trees"
    val near = base.replace("lazy dog", "sleepy dog")
    val far = "completely different text about spark shuffles partitions " +
      "joins aggregates windows and the catalyst optimizer pipeline stages"
    // doc 4 repeats doc 0/1's exact text in the SECOND batch, so a
    // hamming-0 cross-batch pair is guaranteed (the near/far docs keep
    // the verify non-trivial — their hamming is corpus-dependent, and
    // the set-equality assertion holds whichever side of the radius
    // they land on)
    val b1 = Seq((0L, base), (1L, base), (3L, far)).toDF("doc_id", "text")
    val b2 = Seq((2L, near), (4L, base)).toDF("doc_id", "text")
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Long]("hamming"))).toSet
    val inc = pairsOf(IncrementalDedup.simhashBatch(b1, dir)) ++
      pairsOf(IncrementalDedup.simhashBatch(b2, dir))
    val full = pairsOf(Dedup.simhashPairs(b1.unionByName(b2)))
    assert(inc == full)
    // non-vacuous: within-batch (0,1) and cross-batch (0,4)/(1,4)
    // identical-text pairs at hamming 0
    assert(Set((0L, 1L, 0L), (0L, 4L, 0L), (1L, 4L, 0L)).subsetOf(full))
    // retried batch: same pairs, store doc count unchanged (the store
    // holds radius+1 banded rows per doc — count docs, not rows)
    val again = pairsOf(IncrementalDedup.simhashBatch(b2, dir))
    assert(again.subsetOf(full))
    assert(spark.read.parquet(dir).select("doc_id").distinct().count() == 5)
    assert(spark.read.parquet(dir).count() == 5 * 4) // radius 3 → 4 bands/doc
  }

  test("embedding: union over batches equals full-corpus pairs") {
    val dir = Files.createTempDirectory("incdedup_emb").toString + "/store"
    // deterministic corpus: 20 random dim-16 vectors + near-dups of
    // vectors from DIFFERENT batches, so pairs span the store boundary
    val rnd = new scala.util.Random(19)
    def vec(): Seq[Double] = Seq.fill(16)(rnd.nextDouble() - 0.5)
    def near(v: Seq[Double]): Seq[Double] =
      v.updated(0, v.head + 0.02) // tiny perturbation: cosine ≈ 1
    val base = (0L until 20L).map(i => (i, vec())).toMap
    val b1 = (0L until 10L).map(i => (i, base(i))).toSeq
      .toDF("vec_id", "embedding")
    //   batch 2: rest of the base + near-dups of batch-1 vectors 0 and 7
    val b2 = ((10L until 20L).map(i => (i, base(i))) ++
      Seq((100L, near(base(0L))), (107L, near(base(7L)))))
      .toDF("vec_id", "embedding")
    //   batch 3: near-dup of a batch-2 vector + a novel unique vector
    val b3 = Seq((115L, near(base(15L))), (200L, vec()))
      .toDF("vec_id", "embedding")
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Double]("cosine"))).toSet
    val inc =
      pairsOf(IncrementalDedup.embeddingBatch(b1, dir, threshold = 0.95)) ++
        pairsOf(IncrementalDedup.embeddingBatch(b2, dir, threshold = 0.95)) ++
        pairsOf(IncrementalDedup.embeddingBatch(b3, dir, threshold = 0.95))
    val full = pairsOf(Dedup.embeddingNearDupPairs(
      b1.unionByName(b2).unionByName(b3), threshold = 0.95))
    assert(inc == full)
    // non-vacuous: all three planted cross-batch pairs found
    assert(Set((0L, 100L), (7L, 107L), (15L, 115L))
      .subsetOf(full.map(p => (p._1, p._2))))
    // retried batch: same verdicts, store vector count unchanged (the
    // store holds per-table bucket rows — count vectors, not rows)
    val again = pairsOf(IncrementalDedup.embeddingBatch(b3, dir, threshold = 0.95))
    assert(again.subsetOf(full))
    assert(spark.read.parquet(dir).select("vec_id").distinct().count() == 24)
  }

  test("rebuildStore: new geometry, same verdicts, pruning intact") {
    val base = Files.createTempDirectory("incdedup_rebuild")
    // minhash store seeded at explicit 256 parts, rebuilt to 8 — the
    // outgrown-gate-store migration in miniature (direction is
    // irrelevant to the mechanism; 256->8 keeps the test corpus tiny)
    val src = base.toString + "/src"
    def text(i: Long): String =
      (0 until 12).map(j => s"w${(i * 13 + j * 7) % 997}").mkString(" ")
    val seed = (0L until 200L).map(i => (i, text(i))).toDF("doc_id", "text")
    IncrementalDedup.minhashBatch(seed, src, storeParts = 256)
    val dst = base.toString + "/dst"
    assert(IncrementalDedup.rebuildStore(spark, src, dst, 8) == 8)
    // same rows, new manifest geometry, every bucket key rehashed into
    // the new partition space
    assert(spark.read.parquet(dst).count() == spark.read.parquet(src).count())
    assert(IncrementalDedup.storeManifest(spark, dst)("store_parts") == "8")
    assert(IncrementalDedup.storeManifest(spark, dst)("bands") ==
      IncrementalDedup.storeManifest(spark, src)("bands"))
    // a batch against the rebuilt store: identical pairs to the source
    val one = Seq((9999L, text(42L))).toDF("doc_id", "text")
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    val viaDst = pairsOf(IncrementalDedup.minhashBatch(one, dst))
    val viaSrc = pairsOf(IncrementalDedup.minhashBatch(one, src))
    assert(viaDst == viaSrc && viaDst.contains((42L, 9999L)))
    // auto sizing: tiny store -> the 32-part floor
    val dstAuto = base.toString + "/dst_auto"
    assert(IncrementalDedup.rebuildStore(spark, src, dstAuto) == 32)
    // split embedding store: both halves re-bucketed, pairs preserved
    val esrc = base.toString + "/esrc"
    val vecs = (0L until 20L).map(i =>
      (i, Seq.tabulate(8)(d => math.sin((i * 8 + d + 1).toDouble).abs)))
      .toDF("vec_id", "embedding")
    IncrementalDedup.embeddingBatch(vecs, esrc, layout = "split")
    val edst = base.toString + "/edst"
    assert(IncrementalDedup.rebuildStore(spark, esrc, edst, 4) == 4)
    assert(IncrementalDedup.storeManifest(spark, edst)("store_layout") == "split")
    assert(spark.read.parquet(s"$edst/vectors").count() == 20)
    val probe = Seq((500L, Seq.tabulate(8)(d => math.sin(3 * 8 + d + 1).abs)))
      .toDF("vec_id", "embedding") // clone of vec 3: cosine 1 pair
    val epairs = IncrementalDedup.embeddingBatch(probe, edst)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(epairs.contains((3L, 500L)))
    // a non-empty non-store destination is refused
    val eBad = intercept[IllegalArgumentException] {
      IncrementalDedup.rebuildStore(spark, src, dst, 16)
    }
    assert(eBad.getMessage.contains("not empty"))
    // the remaining variants re-bucket on their own keys: the rebuilt
    // store's next batch must return the same pairs as the source's
    def parity(variant: String,
        seedF: (org.apache.spark.sql.DataFrame, String) => Unit,
        batchF: String => org.apache.spark.sql.DataFrame): Unit = {
      val s = base.toString + s"/${variant}_src"
      val d = base.toString + s"/${variant}_dst"
      seedF(seed, s)
      assert(IncrementalDedup.rebuildStore(spark, s, d, 8) == 8)
      val got = batchF(d).collect().map(_.toSeq).toSet
      val want = batchF(s).collect().map(_.toSeq).toSet
      assert(got == want && got.nonEmpty, s"$variant rebuild parity")
    }
    parity("ngram",
      (b, s) => { IncrementalDedup.ngramBatch(b, s, storeParts = 256); () },
      d => IncrementalDedup.ngramBatch(
        Seq((9999L, text(42L))).toDF("doc_id", "text"), d))
    parity("simhash",
      (b, s) => { IncrementalDedup.simhashBatch(b, s, storeParts = 256); () },
      d => IncrementalDedup.simhashBatch(
        Seq((9998L, text(7L))).toDF("doc_id", "text"), d))
  }

  private def writeLegacyManifest(dir: String, json: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir, "_graft_store.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    out.write(json.getBytes("UTF-8")); out.close()
  }

  test("key encoding: legacy hex adopts, new stores binary, rebuild migrates") {
    import org.apache.spark.sql.types.{BinaryType, StringType}
    val base = Files.createTempDirectory("incdedup_keyenc")
    val b1 = Seq((1L, "aaa"), (2L, "bbb")).toDF("doc_id", "text")
    val b2 = Seq((10L, "aaa"), (11L, "ccc")).toDF("doc_id", "text")

    // LEGACY store: a pre-key_encoding manifest (keyless) must keep HEX
    val legacy = base.toString + "/legacy"
    writeLegacyManifest(legacy,
      """{"store_parts":"32","variant":"exact"}""")
    IncrementalDedup.exactBatch(b1, legacy)
    assert(spark.read.parquet(legacy).schema("digest").dataType == StringType)
    val legacyVerdicts = IncrementalDedup.exactBatch(b2, legacy)
      .collect().map(r => r.getLong(0) -> Option(r.get(2))).toMap
    assert(legacyVerdicts == Map(10L -> Some(1L), 11L -> None))
    // deep fsck reads the hex store with its STRING digest, and its
    // bucketing check hashes that digest as the batches did
    assert(StoreFsck.fsck(spark, legacy, deep = true).isEmpty)

    // retraction through the hex schema, on one-partition twins so the
    // rewritten partition keeps other rows: it must keep its STRING key
    // (a reader pinning BINARY would rewrite it binary, and the
    // merged-schema read would say so), and deep fsck must read it clean
    def retractHex(tag: String, key: String, json: String, removed: Long)(
        seed: String => Unit): String = {
      val d = base.toString + s"/${tag}_one"
      writeLegacyManifest(d, json)
      seed(d)
      assert(Retract.retract(spark, d, Seq(2L)) == removed)
      assert(spark.read.option("mergeSchema", "true").parquet(d)
        .schema(key).dataType == StringType)
      assert(StoreFsck.fsck(spark, d, deep = true).isEmpty)
      d
    }
    val legacyOne = retractHex("legacy", "digest",
      """{"store_parts":"1","variant":"exact"}""", 1L)(
      d => Seq(b1, b2).foreach(IncrementalDedup.exactBatch(_, d)))
    assert(StoreRows(spark, legacyOne)._1.select("keep_doc_id").collect()
      .map(_.getLong(0)).toSet == Set(1L, 11L))
    retractHex("span_legacy", "wh",
      """{"store_parts":"1","variant":"span","w":"3"}""", 3L)(
      d => IncrementalSpanDedup.spanBatch(
        Seq((1L, "a b c d e f"), (2L, "p q r s t")).toDF("doc_id", "text"), d, w = 3))

    // NEW store: binary at rest, hex-identical verdict digests out
    val fresh = base.toString + "/fresh"
    val out1 = IncrementalDedup.exactBatch(b1, fresh)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(spark.read.parquet(fresh).schema("digest").dataType == BinaryType)
    assert(spark.read.parquet(fresh).count() == 2)
    assert(out1(1L) ==
      java.security.MessageDigest.getInstance("MD5").digest("aaa".getBytes)
        .map("%02x".format(_)).mkString)

    // REBUILD migrates legacy hex → binary; verdicts unchanged through it
    val migrated = base.toString + "/migrated"
    IncrementalDedup.rebuildStore(spark, legacy, migrated)
    assert(IncrementalDedup.storeManifest(spark, migrated)
      .get("key_encoding").contains("binary"))
    assert(spark.read.parquet(migrated).schema("digest").dataType == BinaryType)
    val migVerdicts = IncrementalDedup.exactBatch(
      Seq((20L, "aaa"), (21L, "ccc"), (22L, "ddd")).toDF("doc_id", "text"),
      migrated)
      .collect().map(r => r.getLong(0) -> Option(r.get(2))).toMap
    // keepers survived the conversion: aaa→1 and ccc→11 were both in the
    // legacy snapshot the rebuild migrated; ddd is novel
    assert(migVerdicts == Map(20L -> Some(1L), 21L -> Some(11L), 22L -> None))

    // SPAN: legacy hex adopts; rebuild migrates; stored keepers still found
    val spanLegacy = base.toString + "/span_legacy"
    writeLegacyManifest(spanLegacy,
      """{"store_parts":"32","variant":"span","w":"3"}""")
    IncrementalSpanDedup.spanBatch(
      Seq((1L, "a b c d e f")).toDF("doc_id", "text"), spanLegacy, w = 3)
    assert(spark.read.parquet(spanLegacy).schema("wh").dataType == StringType)
    assert(StoreFsck.fsck(spark, spanLegacy, deep = true).isEmpty)
    val spanMigrated = base.toString + "/span_migrated"
    IncrementalDedup.rebuildStore(spark, spanLegacy, spanMigrated)
    assert(spark.read.parquet(spanMigrated).schema("wh").dataType == BinaryType)
    val spans = IncrementalSpanDedup.spanBatch(
      Seq((9L, "x a b c z")).toDF("doc_id", "text"), spanMigrated, w = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(spans == Set((9L, 1L, 1L, 0L)),
      "migrated span store lost its keepers through the hex->binary rebuild")

    // the at-rest cut is real: same corpus, hex vs binary span store
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text")
    val hexDir = base.toString + "/span_hex"
    writeLegacyManifest(hexDir,
      """{"store_parts":"32","variant":"span","w":"10"}""")
    IncrementalSpanDedup.spanBatch(docs, hexDir, w = 10)
    val binDir = base.toString + "/span_bin"
    IncrementalSpanDedup.spanBatch(docs, binDir, w = 10, storeParts = 32)
    def bytes(d: String): Long = {
      val p = new org.apache.hadoop.fs.Path(d)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.getContentSummary(p).getLength
    }
    val (hexB, binB) = (bytes(hexDir), bytes(binDir))
    assert(binB < (hexB * 0.85).toLong,
      s"binary span store $binB B should be well under hex $hexB B")
  }

  test("a split store that lost its manifest is refused, not re-initialized") {
    val dir = Files.createTempDirectory("incdedup_lostman").toString + "/store"
    val vecs = Seq((1L, Seq(1.0, 0.2, 0.0, 0.1)), (2L, Seq(0.0, 1.0, 0.3, 0.0)))
      .toDF("vec_id", "embedding")
    IncrementalDedup.embeddingBatch(vecs, dir, layout = "split")
    // simulate a copy that dropped underscore-prefixed files
    assert(new java.io.File(dir, "_graft_store.json").delete())
    val e = intercept[IllegalArgumentException] {
      IncrementalDedup.embeddingBatch(vecs, dir)
    }
    assert(e.getMessage.contains("refusing to adopt"), e.getMessage)
    // the components store keeps its labels one level down as well
    val cdir = Files.createTempDirectory("incdedup_lostman_cc").toString + "/store"
    val pairs = Seq((1L, 2L), (3L, 4L)).toDF("doc_a", "doc_b")
    IncrementalComponents.addPairs(pairs, cdir, storeParts = 64)
    assert(new java.io.File(cdir, "_graft_store.json").delete())
    val ec = intercept[IllegalArgumentException] {
      IncrementalComponents.addPairs(pairs, cdir)
    }
    assert(ec.getMessage.contains("refusing to adopt"), ec.getMessage)
  }

  test("rebuildStore finishes a crashed compaction sweep before snapshotting") {
    val base = Files.createTempDirectory("incdedup_rbtrash")
    val src = base.toString + "/src"
    val seed = (0L until 50L)
      .map(i => (i, s"unique-text-$i")).toDF("doc_id", "text")
    IncrementalDedup.exactBatch(seed, src, storeParts = 8)
    val rows = spark.read.parquet(src).count()
    // simulate a compact crash: one live partition stranded in trash
    val srcDir = new java.io.File(src)
    val aPart = srcDir.listFiles.filter(_.getName.startsWith("bp=")).head
    val trash = new java.io.File(srcDir, "_compact_trash")
    assert(trash.mkdir())
    assert(aPart.renameTo(new java.io.File(trash, aPart.getName)))
    assert(spark.read.parquet(src).count() < rows) // snapshot WOULD drop rows
    val dst = base.toString + "/dst"
    IncrementalDedup.rebuildStore(spark, src, dst, 4)
    assert(spark.read.parquet(dst).count() == rows) // sweep restored them
  }

  test("embedding split layout: parity with inline, 1x vector footprint") {
    val base = Files.createTempDirectory("incdedup_split")
    val splitDir = base.toString + "/split"
    val inlineDir = base.toString + "/inline"
    val rnd = new scala.util.Random(19)
    def vec(): Seq[Double] = Seq.fill(16)(rnd.nextDouble() - 0.5)
    def near(v: Seq[Double]): Seq[Double] = v.updated(0, v.head + 0.02)
    val baseV = (0L until 20L).map(i => (i, vec())).toMap
    val b1 = (0L until 10L).map(i => (i, baseV(i))).toSeq
      .toDF("vec_id", "embedding")
    val b2 = ((10L until 20L).map(i => (i, baseV(i))) ++
      Seq((100L, near(baseV(0L))), (107L, near(baseV(7L)))))
      .toDF("vec_id", "embedding")
    val b3 = Seq((115L, near(baseV(15L))), (200L, vec()))
      .toDF("vec_id", "embedding")
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Double]("cosine"))).toSet
    val split =
      pairsOf(IncrementalDedup.embeddingBatch(b1, splitDir,
        threshold = 0.95, layout = "split")) ++
        pairsOf(IncrementalDedup.embeddingBatch(b2, splitDir,
          threshold = 0.95, layout = "split")) ++
        // adopt default: a later caller needs no layout foreknowledge
        pairsOf(IncrementalDedup.embeddingBatch(b3, splitDir,
          threshold = 0.95))
    Seq(b1, b2, b3).foreach(b =>
      IncrementalDedup.embeddingBatch(b, inlineDir, threshold = 0.95))
    val full = pairsOf(Dedup.embeddingNearDupPairs(
      b1.unionByName(b2).unionByName(b3), threshold = 0.95))
    assert(split == full)
    assert(Set((0L, 100L), (7L, 107L), (15L, 115L))
      .subsetOf(full.map(p => (p._1, p._2))))
    // structure: postings carry no vectors; each vector stored ONCE
    val postings = spark.read.parquet(s"$splitDir/postings")
    assert(!postings.columns.contains("vec"))
    val vectors = spark.read.parquet(s"$splitDir/vectors")
    assert(vectors.count() == 24 &&
      vectors.select("vec_id").distinct().count() == 24)
    // footprint: the split store's vector bytes are a small fraction of
    // the inline store's (which duplicates every vector 16x)
    def bytesUnder(p: String): Long = {
      val f = new java.io.File(p)
      if (f.isDirectory) f.listFiles.map(x => bytesUnder(x.getPath)).sum
      else if (f.getName.endsWith(".parquet")) f.length else 0L
    }
    val vecBytes = bytesUnder(s"$splitDir/vectors")
    val inlineBytes = bytesUnder(inlineDir)
    assert(vecBytes * 4 < inlineBytes,
      s"split vectors $vecBytes vs inline $inlineBytes")
    // retried batch: verdicts re-emitted, nothing re-appended
    val before = postings.count() -> vectors.count()
    val again = pairsOf(IncrementalDedup.embeddingBatch(b3, splitDir,
      threshold = 0.95, layout = "split"))
    assert(again.subsetOf(full))
    assert(spark.read.parquet(s"$splitDir/postings").count() == before._1 &&
      spark.read.parquet(s"$splitDir/vectors").count() == before._2)
    // explicit layout mismatch fails loudly in both directions
    val e1 = intercept[IllegalArgumentException] {
      IncrementalDedup.embeddingBatch(b3, splitDir, layout = "inline")
    }
    assert(e1.getMessage.contains("layout"))
    val e2 = intercept[IllegalArgumentException] {
      IncrementalDedup.embeddingBatch(b3, inlineDir, layout = "split")
    }
    assert(e2.getMessage.contains("layout"))
    // compactStore reaches both halves of the split store
    assert(IncrementalDedup.compactStore(spark, splitDir) > 0)
    assert(IncrementalDedup.compactStore(spark, splitDir) == 0)
    val afterCompact = pairsOf(IncrementalDedup.embeddingBatch(
      Seq((300L, near(baseV(3L)))).toDF("vec_id", "embedding"), splitDir))
    assert(afterCompact.map(p => (p._1, p._2)) == Set((3L, 300L)))
  }

  test("AdoptOrDefaultStoreParts: streams restart against ANY existing geometry, create at the fixed default") {
    // the streaming default must adopt a manifest (a fixed default
    // would hard-fail every micro-batch on restart against a store
    // created under other geometry) and create at DefaultStoreParts
    // (auto-sizing from a tiny batch 0 would freeze the floor)
    val adopted = Files.createTempDirectory("incdedup_adopt").toString + "/store"
    val b = Seq((1L, "aaa"), (2L, "bbb")).toDF("doc_id", "text")
    // store created under auto geometry -> 32-part floor in the manifest
    IncrementalDedup.exactBatch(b, adopted)
    def parts(dir: String): String = {
      val s = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(dir, "_graft_store.json")), "UTF-8")
      "\"store_parts\":\"(\\d+)\"".r.findFirstMatchIn(s).get.group(1)
    }
    assert(parts(adopted) == "32")
    // a "restarted stream" cycle with the sentinel adopts 32, no throw
    val again = IncrementalDedup.exactBatch(
      Seq((3L, "aaa")).toDF("doc_id", "text"), adopted,
      storeParts = IncrementalDedup.AdoptOrDefaultStoreParts)
    assert(again.collect().map(r =>
      Option(r.getAs[java.lang.Long]("dup_of")).map(_.toLong)).toSeq ==
      Seq(Some(1L)))
    assert(parts(adopted) == "32")
    // against a FRESH dir the sentinel creates at the fixed default
    val fresh = Files.createTempDirectory("incdedup_adopt2").toString + "/store"
    IncrementalDedup.exactBatch(b, fresh,
      storeParts = IncrementalDedup.AdoptOrDefaultStoreParts)
    assert(parts(fresh) == IncrementalDedup.DefaultStoreParts.toString)
  }

  test("embedding: a non-fp array batch is cast to double, store stays readable") {
    // ARRAY<BIGINT> input must not write raw long-element files into a
    // store whose schema says ARRAY<DOUBLE> (the next batch would throw
    // reading them)
    val dir = Files.createTempDirectory("incemb_int").toString + "/store"
    val ints = Seq((1L, Seq(1L, 0L, 0L, 0L)), (2L, Seq(0L, 1L, 0L, 0L)))
      .toDF("vec_id", "embedding")
    IncrementalDedup.embeddingBatch(ints, dir, threshold = 0.95).count()
    assert(spark.read.parquet(dir).schema("vec").dataType ==
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType, true))
    // warm cycle against the store parses and scores fine: an exact
    // clone of vector 1 pairs with it at cosine 1.0
    val clone = Seq((10L, Seq(1L, 0L, 0L, 0L))).toDF("vec_id", "embedding")
    val pairs = IncrementalDedup.embeddingBatch(clone, dir, threshold = 0.95)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
    assert(pairs.toSeq == Seq((1L, 10L)))
  }

  test("compactFiles: fragmentation past the threshold auto-compacts; verdicts unchanged") {
    import org.apache.hadoop.fs.Path
    val dir = Files.createTempDirectory("incdedup_autocompact").toString + "/store"
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def maxFilesPerPart(): Int = {
      val root = new Path(dir)
      if (!fs.exists(root)) 0
      else fs.listStatus(root)
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("bp="))
        .map(p => fs.listStatus(p.getPath)
          .count(_.getPath.getName.endsWith(".parquet")))
        .foldLeft(0)(math.max)
    }
    // 8-doc batches of NOVEL content per append (dedup stores keep novel
    // digests only — repeated content would append nothing): each append
    // scatters ~2 files into each of the 4 partitions' hash ranges,
    // fragmenting them — exactly the workload the threshold bounds
    def batch(tag: Long, texts: Long => String) =
      (0L until 8L).map(j => (tag + j, texts(j))).toDF("doc_id", "text")
    (0 until 8).foreach { i =>
      IncrementalDedup.exactBatch(
        batch(100L * i, j => s"novel $i $j"), dir,
        storeParts = 4, compactFiles = 3)
    }
    // without the trigger the hot partitions would hold ~8 files (one
    // per append); the threshold keeps the ceiling at threshold + 1
    // (the append lands before the check runs)
    assert(maxFilesPerPart() <= 4, s"max files = ${maxFilesPerPart()}")
    // and compaction never changed WHAT the store knows: batch-0 keepers
    // still win through every rewrite
    val verdicts = IncrementalDedup.exactBatch(
      batch(9000L, j => s"novel 0 $j"), dir,
      storeParts = 4, compactFiles = 3)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        Option(r.getAs[java.lang.Long]("dup_of")).map(_.toLong)).toMap
    assert(verdicts == (0L until 8L).map(j => (9000L + j) -> Some(j)).toMap)
  }

  test("embedding store width: float source stores float, scores unchanged; narrowing forbidden") {
    val rnd = new scala.util.Random(23)
    def vecF(): Seq[Float] = Seq.fill(16)(rnd.nextFloat() - 0.5f)
    val base = (0L until 10L).map(i => (i, vecF()))
    val nearOf0 = base(0)._2.updated(0, base(0)._2.head + 0.02f)
    val b1f = base.toDF("vec_id", "embedding")
    val b2f = Seq((100L, nearOf0)).toDF("vec_id", "embedding")

    // float store: manifest flags it, parquet holds ARRAY<FLOAT>
    val fDir = Files.createTempDirectory("incemb_f").toString + "/store"
    val r1 = IncrementalDedup.embeddingBatch(b1f, fDir, threshold = 0.95)
    r1.count()
    val manifest = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(fDir, "_graft_store.json")), "UTF-8")
    assert(manifest.contains("\"vec_type\":\"float\""))
    assert(spark.read.parquet(fDir).schema("vec").dataType ==
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, true))

    // identical scores vs a double store fed the upcast batches —
    // float→double is exact and the expressions promote per element
    val dDir = Files.createTempDirectory("incemb_d").toString + "/store"
    def up(df: org.apache.spark.sql.DataFrame) = df.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("embedding"))
    IncrementalDedup.embeddingBatch(up(b1f), dDir, threshold = 0.95).count()
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Double]("cosine"))).toSet
    val fPairs = pairsOf(
      IncrementalDedup.embeddingBatch(b2f, fDir, threshold = 0.95))
    val dPairs = pairsOf(
      IncrementalDedup.embeddingBatch(up(b2f), dDir, threshold = 0.95))
    assert(fPairs == dPairs)
    assert(fPairs.map(p => (p._1, p._2)) == Set((0L, 100L)))

    // double batch into the float store: loud, not lossy
    val e = intercept[IllegalArgumentException] {
      IncrementalDedup.embeddingBatch(up(b2f), fDir, threshold = 0.95)
    }
    assert(e.getMessage.contains("vec_type:float"))

    // float batch into the double store: exact upcast, accepted
    val again = pairsOf(
      IncrementalDedup.embeddingBatch(b2f, dDir, threshold = 0.95))
    assert(again == dPairs)
  }

  test("bloom sidecar rewrites carry strictly monotonic mtimes") {
    // r15 ADVICE: per-JVM caches key the sidecar version on
    // (mtime, length), but the bloom's serialized length is
    // geometry-fixed — two same-geometry rewrites inside one coarse
    // mtime tick (1 s local/HDFS configs, object stores) would alias
    // and serve the stale, smaller bloom to lock-free searches.
    // writeBloomSidecar forces mtime strictly monotonic on rewrite.
    val dir = Files.createTempDirectory("bloom-mono").toString
    val p = new org.apache.hadoop.fs.Path(dir, "_t_bloom")
    val hfs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def bloom(n: Int) = {
      val b = org.apache.spark.util.sketch.BloomFilter.create(1000, 0.01)
      (0 until n).foreach(i => b.putLong(i.toLong))
      b
    }
    IncrementalDedup.writeBloomSidecar(spark, dir, "_t_bloom", bloom(1))
    val t1 = hfs.getFileStatus(p).getModificationTime
    // second rewrite lands as fast as the fs allows — same geometry,
    // same serialized length; only the forced mtime bump distinguishes
    IncrementalDedup.writeBloomSidecar(spark, dir, "_t_bloom", bloom(2))
    val t2 = hfs.getFileStatus(p).getModificationTime
    assert(t2 > t1, s"sidecar rewrite did not advance mtime: $t1 -> $t2")
  }

  test("required_features: creation stamps obligations; an unknown demanded feature refuses mutation") {
    // r16 ADVICE #4: checkOrWriteMeta used to validate only the keys the
    // WRITER passed — a pre-doc-index binary appending to a doc_index=1
    // store succeeded while silently skipping appendDocIndex, breaking
    // the index's superset invariant (a later indexed takedown would
    // prune discovery to the wrong bps and leave retired rows). The
    // manifest now DEMANDS its features; an unrecognizing writer fails
    // loudly before mutating.
    val dir = Files.createTempDirectory("reqfeat").toString + "/store"
    IncrementalDedup.exactBatch(
      Seq((1L, "alpha")).toDF("doc_id", "text"), dir).collect()
    val mp = java.nio.file.Paths.get(s"$dir/_graft_store.json")
    // hand-edits bypass the Hadoop checksum sidecar — drop it so the
    // LocalFileSystem read doesn't fail on the stale .crc
    val crc = java.nio.file.Paths.get(s"$dir/._graft_store.json.crc")
    val body = new String(java.nio.file.Files.readAllBytes(mp))
    assert(body.contains("\"required_features\":\"doc_index\""), body)
    // a feature from the future, demanded by the store, unknown here
    java.nio.file.Files.write(mp, body.replace(
      "\"required_features\":\"doc_index\"",
      "\"required_features\":\"doc_index,quantum_sketch\"").getBytes)
    java.nio.file.Files.deleteIfExists(crc)
    val e = intercept[IllegalArgumentException] {
      IncrementalDedup.exactBatch(
        Seq((2L, "beta")).toDF("doc_id", "text"), dir).collect()
    }
    assert(e.getMessage.contains("quantum_sketch"), e.getMessage)
    assert(e.getMessage.contains("does not implement"), e.getMessage)
    // restore the manifest: the same mutation now succeeds
    java.nio.file.Files.write(mp, body.getBytes)
    java.nio.file.Files.deleteIfExists(crc)
    IncrementalDedup.exactBatch(
      Seq((2L, "beta")).toDF("doc_id", "text"), dir).collect()
    assert(spark.read.parquet(dir).count() == 2L)
  }
}
