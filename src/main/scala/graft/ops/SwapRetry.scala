package graft.ops

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.SparkSession

/** The ONE swap-retry discipline for lock-free store readers (r19
  * verdict #3 unification): bm25 search, IVF search, and the clusters
  * label read each raced live store mutations with a hand-rolled
  * retry loop — three slightly different shapes (two seqlocks with a
  * progress deadline, one fixed 20×25 ms with no deadline at all). A
  * fourth lock-free reader would have copy-pasted a fifth variant.
  * This object holds the shared pieces:
  *
  *  - '''classification''' ([[fileVanished]], [[transientShape]]) by
  *    STRUCTURED Spark error conditions (`SparkThrowable.getCondition`,
  *    e.g. `FAILED_READ_FILE.FILE_NOT_EXIST`, `PATH_NOT_FOUND`) walked
  *    through the cause chain, with free-text matching demoted to a
  *    last-resort arm that only matches Spark's own bracketed
  *    error-class tokens (r19 verdict #2: an unrelated exception whose
  *    message merely CONTAINS "does not exist" — a UDF's own error, a
  *    missing-column analysis message — must NOT be retried).
  *  - '''the seqlock loop''' ([[seqlockRead]]): snapshot the store's
  *    (pending-marker, arm-sentinel, epoch, swap-marker) signature,
  *    attempt the read, accept only on an unmoved signature; wait
  *    politely while a live mutation holds the markers, escalate to the
  *    store's locked read-heal only after sustained stillness; a
  *    transient-shaped failure retries ONLY when signature movement
  *    explains it — anything unexplained rethrows.
  *  - '''bounds''': a progress deadline that resets whenever the
  *    signature MOVES (live churn gets a fresh window per swap, a
  *    wedged mutator still trips after `deadlineMs` of stillness) and
  *    an absolute starvation cap against a pathological continuous
  *    churner. Both injectable via session conf (r19 verdict #4 — the
  *    30-min cap was untestable while hard-wired):
  *    `spark.graft.seqlock.deadlineMs` (default 120 s) and
  *    `spark.graft.seqlock.absoluteCapMs` (default 30 min).
  *  - '''the vanished-file retry''' ([[retryVanished]]) for reads
  *    whose race is narrower — a listing that a concurrent COMMITTED
  *    fold's post-commit delete invalidates (the clusters merge log):
  *    re-read on a vanished file, now with a deadline instead of a
  *    bare attempt counter, and NEVER under the store lock (a file
  *    that vanishes while the caller holds the lock is real damage —
  *    r19 ADVICE: delaying that loud failure by silent retries made
  *    diagnosis worse).
  */
object SwapRetry {

  /** Conf key: progress deadline (ms) — trips when the store's
    * marker/arm/epoch signature has not moved for this long while the
    * read keeps failing or waiting. */
  val DeadlineConf = "spark.graft.seqlock.deadlineMs"

  /** Conf key: absolute starvation cap (ms) — trips when the read has
    * been retrying for this long TOTAL, even with live (moving)
    * churn. */
  val AbsoluteCapConf = "spark.graft.seqlock.absoluteCapMs"

  val DefaultDeadlineMs: Long = 120000L
  val DefaultAbsoluteCapMs: Long = 30L * 60 * 1000

  /** First structured Spark error condition in the cause chain
    * (`SparkThrowable.getCondition`, the stable identifier Spark 4
    * attaches to every classified error — message TEXT is not a
    * contract, conditions are). */
  @scala.annotation.tailrec
  def conditionOf(e: Throwable): Option[String] = e match {
    case null => None
    case t: SparkThrowable if t.getCondition != null => Some(t.getCondition)
    case t => conditionOf(t.getCause)
  }

  /** Did a file/path VANISH between a listing and the read that used
    * it — the shape every committed-swap race produces? Structured
    * arms first: a `FileNotFoundException` anywhere in the cause chain
    * (Hadoop filesystems, incl. `PathNotFoundException`), or a Spark
    * condition of `PATH_NOT_FOUND` (driver-side path resolution hit
    * the swap instant) / `FAILED_READ_FILE.*` (a task opened a file
    * the swap collected). Last resort: Spark's BRACKETED error-class
    * tokens in the message — emitted only by Spark's error framework,
    * so a user/UDF message containing plain "does not exist" no longer
    * matches (r19 verdict #2). */
  def fileVanished(e: Throwable): Boolean = fileVanishedWalk(e)

  @scala.annotation.tailrec
  private def fileVanishedWalk(e: Throwable): Boolean = e match {
    case null                             => false
    case _: java.io.FileNotFoundException => true
    case t: SparkThrowable if t.getCondition != null &&
        (t.getCondition == "PATH_NOT_FOUND" ||
          t.getCondition.startsWith("FAILED_READ_FILE")) => true
    case t if t.getMessage != null &&
        (t.getMessage.contains("[PATH_NOT_FOUND]") ||
          t.getMessage.contains("[FAILED_READ_FILE")) => true
    case t => fileVanishedWalk(t.getCause)
  }

  /** Is this failure the SHAPE a racing swap produces? The full typed
    * set the pre-unification loops admitted — `SparkException` (task
    * failures in every clothing a kill/retry/abort can wear),
    * `AnalysisException` (driver-side path resolution hitting the swap
    * instant — the r19 race find), `IllegalArgumentException` (the
    * stores' own mid-swap consistency `require`s, e.g. bm25's
    * postings-without-stats check), plus [[fileVanished]] for raw
    * FNF/Hadoop shapes. Deliberately WIDER than [[fileVanished]]'s
    * structured match: the seqlock loops are safe-by-composition
    * (callers must STILL gate on signature movement — shape alone
    * never justifies a retry), and a race shape rejected here turns a
    * survivable swap overlap into a spurious reader failure. The
    * strict structured classifier guards only the UNGATED retry
    * ([[retryVanished]]), where a false positive burns silent
    * retries. */
  private[ops] def transientShape(e: Throwable): Boolean = e match {
    case _: IllegalArgumentException              => true
    case _: org.apache.spark.SparkException       => true
    case _: org.apache.spark.sql.AnalysisException => true
    case _                                        => fileVanished(e)
  }

  /** Bounded re-read for a listing invalidated by a concurrent
    * COMMITTED commit's post-commit delete (the clusters merge-log
    * fold): each [[fileVanished]] failure means the racing writer
    * finished, so a re-read sees the post-commit state. Deadline-bound
    * (not attempt-bound): vanishing can legitimately repeat under
    * continuous folds, but a read that cannot complete within
    * `deadlineMs` means something is deleting faster than it commits —
    * loud beats silent. Anything not [[fileVanished]]-shaped rethrows
    * immediately. */
  def retryVanished[T](
      what: String,
      deadlineMs: Long = 10000L,
      sleepMs: Long = 25L)(body: => T): T = {
    val start = System.currentTimeMillis()
    while (true) {
      try return body
      catch {
        case e: Exception if fileVanished(e) =>
          if (System.currentTimeMillis() - start >= deadlineMs)
            throw new IllegalStateException(
              s"$what kept vanishing for ${deadlineMs / 1000} s — " +
                "concurrent commits are outrunning every re-read", e)
          Thread.sleep(sleepMs)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** The seqlock read loop shared by every lock-free store reader.
    *
    * @param signalDir  directory carrying the store's retraction
    *                   signals (pending marker, arm sentinel, epoch
    *                   counter) — e.g. the bm25 `postings/` dir
    * @param what       error-text subject, e.g. `"bm25 search on <dir>"`
    * @param heal       the store's read-heal ([[StoreLayout.heal]]) —
    *                   run once on entry (a crashed mutator's markers
    *                   heal before the first attempt), then again only
    *                   after the busy state has been still for 5 s; it
    *                   defers by itself while a live writer holds the
    *                   lock, so waiting simply continues
    * @param swapMarker the whole-table swap's ready marker, when the
    *                   store has one ([[TableSwap]]: the IVF rebuild's,
    *                   the clusters fold's): while it exists the read
    *                   WAITS like a pending marker (the rename-mode
    *                   swap's delete→rename window would otherwise fail
    *                   an attempt unexplained), and it joins the
    *                   signature
    * @param refreshPath path whose Spark-side caches (CacheManager
    *                   entries, file-status listings) are invalidated
    *                   via `catalog.refreshByPath` before every retry —
    *                   a reader can fail on a listing One generation
    *                   stale with NO live swap in evidence when a cache
    *                   serves the dead generation's file list (the r19
    *                   full-suite find's true class: Spark's own error
    *                   text says "REFRESH TABLE"); the refresh makes
    *                   the next attempt re-resolve from disk
    * @param attempt    one read attempt; must MATERIALIZE anything the
    *                   caller will consume after return (the epoch
    *                   validation covers only what ran inside it)
    */
  private[ops] def seqlockRead[T](
      spark: SparkSession,
      signalDir: String,
      what: String,
      heal: () => Unit,
      swapMarker: Option[String] = None,
      refreshPath: Option[String] = None)(attempt: () => T): T = {
    val deadlineMs =
      spark.conf.get(DeadlineConf, DefaultDeadlineMs.toString).toLong
    val absoluteCapMs =
      spark.conf.get(AbsoluteCapConf, DefaultAbsoluteCapMs.toString).toLong
    val marker = swapMarker.map(new org.apache.hadoop.fs.Path(_))
    def swapping: Boolean = marker.exists(p =>
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
    heal()
    val startedMs = System.currentTimeMillis()
    var out: Option[T] = None
    var lastSig: (Boolean, Boolean, Long, Boolean) = null
    var lastProgress = System.currentTimeMillis()
    var pendingSince = 0L
    var unexplainedVanishes = 0
    while (out.isEmpty) {
      val sig = (Retract.pending(spark, signalDir),
        Retract.armBusy(spark, signalDir),
        Retract.epoch(spark, signalDir), swapping)
      if (sig != lastSig) {
        lastSig = sig; lastProgress = System.currentTimeMillis()
      }
      require(System.currentTimeMillis() - lastProgress < deadlineMs,
        s"$what waited out retraction swaps that never settled — a " +
          "wedged retractor (no marker/arm/epoch movement for " +
          s"${deadlineMs / 1000} s)")
      require(System.currentTimeMillis() - startedMs < absoluteCapMs,
        s"$what starved for ${absoluteCapMs / 60000} min under " +
          "CONTINUOUS store churn — swaps kept settling-and-restarting " +
          "faster than a clean read; pause the mutation loop or " +
          "schedule reads off its cadence")
      if (sig._1 || sig._2 || sig._4) {
        // an in-flight swap or a mid-arm mutation: the LIVE holder
        // finishes in moments — just wait. Only a marker/sentinel that
        // stays up with no progress (a crashed mutator) escalates to
        // the locked heal, which defers while a writer holds the lock
        // (never loop hot — the sleep below, r16 ADVICE).
        val now = System.currentTimeMillis()
        if (pendingSince == 0L) pendingSince = now
        if (now - pendingSince > 5000L) { heal(); pendingSince = 0L }
        Thread.sleep(20L)
      } else {
        pendingSince = 0L
        val e0 = sig._3
        try {
          val res = attempt()
          if (!Retract.pending(spark, signalDir) &&
              !Retract.armBusy(spark, signalDir) &&
              Retract.epoch(spark, signalDir) == e0 && !swapping) out = Some(res)
          // else: a swap overlapped the read — retry on settled state
        } catch {
          // retry a swap-shaped failure that signature movement
          // EXPLAINS (a marker/sentinel up, or the epoch moved) — plus
          // a BOUNDED allowance for vanished-file failures with NO
          // movement in evidence: a stale Spark-side cache can hand an attempt a
          // dead generation's file list when every real swap settled
          // long ago (the r19→r20 full-suite find; Spark's own error
          // says "REFRESH TABLE"). Those re-resolve after the refresh
          // below; a store that is genuinely MISSING files keeps
          // failing and rethrows once the allowance is spent — loud,
          // just not first-exception loud. Any other unexplained
          // shape still rethrows immediately.
          case e: Exception if transientShape(e) &&
              (Retract.pending(spark, signalDir) ||
                Retract.armBusy(spark, signalDir) ||
                Retract.epoch(spark, signalDir) != e0 || swapping) =>
            refreshPath.foreach(p => spark.catalog.refreshByPath(p))
          case e: Exception
              if fileVanished(e) && unexplainedVanishes < 3 =>
            unexplainedVanishes += 1
            refreshPath.foreach(p => spark.catalog.refreshByPath(p))
          case e: Exception if fileVanished(e) =>
            // the allowance is spent and no swap evidence explains the
            // vanish: surface WITH the gate state — a bare rethrow made
            // the r20 full-suite repro undiagnosable (which leg of the
            // gate failed? how stale was the listing?)
            throw new IllegalStateException(
              s"$what: vanished-file failure with NO swap evidence " +
                s"after $unexplainedVanishes refresh retries " +
                s"(pending=${Retract.pending(spark, signalDir)} " +
                s"arm=${Retract.armBusy(spark, signalDir)} " +
                s"epoch e0=$e0 now=${Retract.epoch(spark, signalDir)} " +
                s"swap=$swapping)", e)
        }
      }
    }
    out.get
  }
}
