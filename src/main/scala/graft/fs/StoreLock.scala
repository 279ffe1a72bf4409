package graft.fs

import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}

/** Mutual exclusion for read-modify-write cycles over a store directory
  * (the incremental-dedup signature/digest stores): a writer must observe
  * the store, compute against it, and append — interleaving two such
  * cycles can double-commit the same key with different keepers, which
  * silently corrupts every future batch. Discipline: hold `_graft_lock`
  * for the whole cycle; a second writer FAILS LOUDLY (detect-and-fail)
  * instead of corrupting.
  *
  * The lock is an atomic create-no-overwrite of a JSON holder file —
  * the kernel's O_CREAT|O_EXCL via NIO on `file:` paths (Hadoop's local
  * create(overwrite=false) is exists-then-create, a race window), and
  * the Hadoop `FileSystem` create elsewhere (atomic on HDFS; S3 with
  * conditional writes); like `CommitLog` it works on any registered
  * scheme. A crashed writer leaves a stale lock: holders
  * carry a timestamp, and a lock older than `staleMs` is broken and
  * re-acquired (one retry — two concurrent breakers still collide on
  * the create and one of them loses, keeping mutual exclusion).
  */
/** The lock is HELD by a live (fresher-than-stale) holder — the one
  * acquisition failure that means "defer, the owner will finish" rather
  * than "something is damaged". Typed (r18 verdict #2) so the stores'
  * lock-free read-heal (`graft.ops.StoreLayout.heal`) can catch
  * exactly this and let every other IllegalStateException — corrupt
  * pointer, corrupt epoch counter, a failed heal inside the lock body —
  * propagate instead of being silently deferred forever. Subclasses
  * IllegalStateException so callers that treat "busy" generically keep
  * working. */
final class StoreLockBusyException(msg: String)
  extends IllegalStateException(msg)

object StoreLock {

  private val LockName = "_graft_lock.json"

  /** Heartbeat sidecar for schemes without an atomic rename (see the
    * heartbeat notes in `withLock`): `_graft_lock.json.beat-<ownerhash>`.
    * Only its MTIME matters — metadata, atomic on every scheme. */
  private def beatPath(dir: String, owner: String): Path =
    new Path(dir, s"$LockName.beat-${math.abs(owner.hashCode)}")

  final case class Holder(owner: String, sinceMs: Long)

  private def defaultOwner: String =
    s"${java.net.InetAddress.getLocalHost.getHostName}:" +
      s"${ProcessHandle.current().pid()}:${Thread.currentThread().getId}"

  /** Same-JVM mutual-exclusion fence (r20 — found by the repair-vs-GC
    * race test): the non-`file:` claim is `fs.create(lock, false)`,
    * whose atomicity is the SCHEME's contract (a conditional PUT).
    * Hadoop's RawLocalFileSystem — and any scheme that implements
    * no-overwrite create as exists-then-create — leaves a window two
    * same-instant writers both pass, and in a single-driver deployment
    * BOTH writers live in this JVM (a locked cycle racing an admin
    * repair raced exactly there). This map makes the same-process claim
    * atomic regardless of scheme; cross-process exclusion still rides
    * the filesystem claim. Keyed by the scheme-qualified lock path,
    * value = owner; released in withLock's finally. */
  private val inJvmClaims =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** First time we saw a given lock both unreadable AND unstat-able —
    * the last-resort aging clock. Without it, a lock whose body read
    * and getFileStatus BOTH keep failing (dir-permission misconfig, a
    * flaky metadata endpoint) would be restamped "fresh" on every read
    * and become unbreakable forever — the exact failure the mtime
    * fallback exists to prevent, one failure layer deeper. Cleared the
    * moment the lock reads normally, goes absent, or stats. */
  private val firstSeenOpaque =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  def holder(dir: String, conf: Configuration = new Configuration()): Option[Holder] = {
    val p = new Path(dir, LockName)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) { firstSeenOpaque.remove(p.toString); None }
    else
      try {
        val in = fs.open(p)
        val body =
          try new String(in.readAllBytes(), StandardCharsets.UTF_8)
          finally in.close()
        val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(body)
        firstSeenOpaque.remove(p.toString)
        val ownerStr = node.get("owner").asText
        val stamped = node.get("since_ms").asLong
        // freshness = max(lock stamp, beat-sidecar mtime): on schemes
        // without an atomic rename the heartbeat never rewrites the
        // lock (a torn holder body must be impossible to observe) — it
        // touches the sidecar, whose MTIME is metadata and atomic. The
        // sidecar is owner-keyed, so a previous holder's leftover can
        // only contribute an OLD mtime, which max() ignores.
        val sinceMs =
          try math.max(stamped,
            fs.getFileStatus(beatPath(dir, ownerStr)).getModificationTime)
          catch { case _: Throwable => stamped }
        Some(Holder(ownerStr, sinceMs))
      } catch {
        // racing a release between exists() and open(): lock is free
        case _: java.io.FileNotFoundException =>
          firstSeenOpaque.remove(p.toString); None
        // racing a heartbeat rewrite mid-write on a scheme without an
        // atomic rename: the lock EXISTS but is momentarily unreadable.
        // Report it held, with since_ms from the FILE's mtime — not
        // "now": a writer that died mid-write (between lock create and
        // JSON body, or mid-heartbeat truncate) leaves a PERMANENTLY
        // unreadable lock, and a fresh-on-every-read fiction would make
        // it unbreakable forever. The mtime ages like a real holder
        // stamp: a transient mid-write race reads as fresh (the file
        // was just touched), a crashed writer's corpse goes stale and
        // the normal break path reclaims it. If the stat ALSO fails,
        // age from the first time THIS process saw the lock opaque —
        // still monotone, still breakable past staleMs.
        case _: Throwable =>
          val since =
            try {
              val m = fs.getFileStatus(p).getModificationTime
              firstSeenOpaque.remove(p.toString)
              m
            } catch {
              case _: Throwable =>
                firstSeenOpaque.computeIfAbsent(p.toString,
                  _ => System.currentTimeMillis()).longValue()
            }
          Some(Holder("<unreadable-holder>", since))
      }
  }

  /** Run `body` holding the store lock; release on every exit path.
    * Throws `IllegalStateException` naming the current holder if the
    * lock is held (and fresher than `staleMs`).
    *
    * `waitMs = 0` (the default) is detect-and-fail — right for the
    * batch gate, where a contended store means a mis-scheduled second
    * writer that should surface immediately. A positive `waitMs` retries
    * acquisition with capped exponential backoff until the deadline —
    * for callers like a streaming micro-batch that would otherwise fail
    * the whole trigger because a compaction briefly held the store. */
  /** Holder JSON with the owner JSON-escaped: a caller-supplied owner
    * carrying a quote, backslash, or control char must not produce an
    * unreadable holder file — that would break BOTH the heartbeat's
    * ownership check (since_ms freezes, a competitor breaks a live
    * lock) and the release's owner compare (the lock is never deleted,
    * stalling every later cycle until staleMs). */
  private def holderJsonOf(owner: String, sinceMs: Long): Array[Byte] = {
    val esc = owner.flatMap {
      case '"'           => "\\\""
      case '\\'          => "\\\\"
      case c if c < ' '  => f"\\u${c.toInt}%04x"
      case c             => c.toString
    }
    s"""{"owner":"$esc","since_ms":$sinceMs}""".getBytes(StandardCharsets.UTF_8)
  }

  def withLock[T](
      dir: String,
      conf: Configuration = new Configuration(),
      owner: String = defaultOwner,
      staleMs: Long = 15 * 60 * 1000L,
      waitMs: Long = 0L)(body: => T): T = {
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    fs.mkdirs(root)
    val lock = new Path(root, LockName)

    val sinceMs = System.currentTimeMillis()
    val self = Holder(owner, sinceMs)
    val holderJson = holderJsonOf(owner, sinceMs)

    val claimKey = lock.toString
    def tryAcquire(): Boolean = {
      // same-JVM fence first: atomic in-process, closes the
      // exists-then-create TOCTOU on schemes without a conditional PUT
      if (inJvmClaims.putIfAbsent(claimKey, owner) != null) return false
      val ok =
        try {
          val scheme = Option(lock.toUri.getScheme).getOrElse("file")
          if (scheme == "file") {
            // Hadoop's RawLocalFileSystem implements create(overwrite=false)
            // as exists-then-create — a race window two same-instant writers
            // can both pass. NIO CREATE_NEW is the kernel's O_CREAT|O_EXCL:
            // truly atomic on a local filesystem.
            val out = java.nio.file.Files.newOutputStream(
              java.nio.file.Paths.get(lock.toUri.getPath),
              java.nio.file.StandardOpenOption.CREATE_NEW,
              java.nio.file.StandardOpenOption.WRITE)
            try out.write(holderJson)
            finally out.close()
          } else {
            // no-overwrite claim: atomicity is the scheme's contract (a
            // conditional PUT); the in-JVM fence above covers the
            // same-process window on schemes that lack it
            val out = fs.create(lock, false)
            try out.write(holderJson)
            finally out.close()
          }
          true
        } catch {
          case _: FileAlreadyExistsException => false
          case _: java.nio.file.FileAlreadyExistsException => false
          case _: java.io.IOException if fs.exists(lock) => false
        }
      // a failed filesystem claim (another PROCESS holds it) must not
      // leave this JVM's fence claimed with nobody holding the lock
      if (!ok) inJvmClaims.remove(claimKey, owner)
      ok
    }

    // Atomic holder rewrite where the scheme can do it: write the fresh
    // JSON to a sibling temp file and RENAME over the lock — atomic on
    // file: (POSIX rename(2) via NIO ATOMIC_MOVE+REPLACE_EXISTING, the
    // same flags ObjectCache's publish uses) and on HDFS (FileContext
    // Rename.OVERWRITE) — so a reader never observes a truncated body.
    // Every OTHER scheme beats through the owner-keyed SIDECAR file
    // instead (r12; closes the r9 torn-read finding): a FileContext
    // rename needs an AbstractFileSystem binding most FileSystem-only
    // schemes (including this repo's cached-*) don't have, a
    // non-atomic rename would make the lock MOMENTARILY ABSENT
    // mid-beat — which holder() reads as "free", breaking mutual
    // exclusion — and the previous in-place overwrite left a window
    // where a reader saw a TORN holder body. The sidecar has none of
    // these: the lock file is IMMUTABLE after its atomic create (no
    // torn read is possible), and freshness rides the sidecar's
    // MTIME — file metadata, atomic on every scheme, exactly the
    // signal holder() already max()es in. Torn sidecar CONTENT is
    // harmless by construction; only its timestamp is read. (An
    // etag-conditional CAS could do this too where a store supports
    // it, but needs per-store APIs; the mtime sidecar is
    // scheme-portable and needs only create().)
    def atomicRewrite(json: Array[Byte]): Unit = {
      val scheme = Option(lock.toUri.getScheme).getOrElse("file")
      if (scheme == "file") {
        val dst = java.nio.file.Paths.get(lock.toUri.getPath)
        val tmp = dst.resolveSibling(
          s"$LockName.tmp-${ProcessHandle.current().pid()}-${Thread.currentThread().getId}")
        // finally-delete: release's beat.interrupt() can land mid-write
        // (ClosedByInterruptException out of Files.write) — without the
        // cleanup the orphan tmp file accumulates in the store dir
        // forever (nothing else sweeps the lock's tmp namespace)
        try {
          java.nio.file.Files.write(tmp, json)
          java.nio.file.Files.move(tmp, dst,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        } finally java.nio.file.Files.deleteIfExists(tmp)
      } else if (scheme == "hdfs") {
        val tmp = new Path(root,
          s"$LockName.tmp-${math.abs(owner.hashCode).toString}")
        try {
          val out = fs.create(tmp, true)
          try out.write(json) finally out.close()
          val fc = org.apache.hadoop.fs.FileContext.getFileContext(lock.toUri, conf)
          fc.rename(tmp, lock, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
        } finally {
          try fs.delete(tmp, false) catch { case _: java.io.IOException => () }
        }
      } else {
        // sidecar touch: content is debug aid only, mtime is the signal
        val out = fs.create(beatPath(dir, owner), true)
        try out.write(json) finally out.close()
      }
    }

    // Heartbeat: a cycle that legitimately outlives staleMs (a large
    // Spark batch) would otherwise look crashed and get its lock broken.
    // A daemon thread rewrites the holder file with a fresh since_ms
    // every staleMs/3 — atomically, and only while we still hold the
    // lock (ownership re-checked as close to the rename as the scheme
    // allows) — so a live writer's lock age never approaches the break
    // threshold; only a truly dead writer's lock goes stale. The release
    // check compares owner only (since_ms advances with each beat).
    // Release is signalled by THIS flag, set before beat.interrupt() —
    // never by exception type or the thread's interrupt status. Both
    // proxies misfire: SocketTimeoutException IS-A InterruptedIOException
    // (a transient read timeout would read as "released" and silently
    // kill the heartbeat — since_ms freezes and a competing writer breaks
    // a LIVE writer's lock past staleMs), and Hadoop RPC can wrap an
    // interrupt inside a plain IOException AFTER clearing the flag (the
    // beat would retry forever, beat.join(5000) times out, and an
    // in-flight rewrite can resurrect the lock just after the release
    // delete). The flag has neither failure mode: transient errors and
    // spurious interrupts retry, release exits the next check.
    val stopping = new java.util.concurrent.atomic.AtomicBoolean(false)

    def startHeartbeat(): Thread = {
      val t = new Thread(() => {
        while (!stopping.get) {
          try {
            Thread.sleep(math.max(staleMs / 3, 1000L))
            if (!stopping.get && holder(dir, conf).exists(_.owner == owner)) {
              atomicRewrite(
                holderJsonOf(owner, System.currentTimeMillis()))
            }
          } catch {
            case _: InterruptedException => // loop re-checks the flag
            case e: Throwable =>
              if (!stopping.get) System.err.println(
                s"[StoreLock] heartbeat for $dir beat failed (retrying): ${e.getMessage}")
          }
        }
      }, s"storelock-heartbeat-$dir")
      t.setDaemon(true)
      t.start()
      t
    }

    // One acquisition round: the atomic create, then — if the current
    // holder is stale — break and re-try. Re-read IMMEDIATELY before
    // breaking and only delete while the same stale holder is still in
    // place: between the first read and here another writer may have
    // broken the stale lock and claimed a FRESH one, which must not be
    // deleted out from under it. (A TOCTOU window remains at filesystem
    // granularity; the recheck shrinks it from lock-hold-length to two
    // metadata reads.)
    def acquireOnce(): Boolean =
      tryAcquire() || {
        val h = holder(dir, conf)
        val ageMs = h.map(System.currentTimeMillis() - _.sinceMs)
        ageMs.exists(_ > staleMs) && {
          if (holder(dir, conf) == h) fs.delete(lock, false)
          tryAcquire()
        }
      }

    var acquired = acquireOnce()
    if (!acquired && waitMs > 0) {
      val deadline = System.currentTimeMillis() + waitMs
      var backoff = 50L
      while (!acquired && System.currentTimeMillis() < deadline) {
        Thread.sleep(math.min(backoff,
          math.max(1L, deadline - System.currentTimeMillis())))
        backoff = math.min(backoff * 2, 1000L)
        acquired = acquireOnce()
      }
    }
    if (!acquired) {
      val h = holder(dir, conf)
      val ageMs = h.map(System.currentTimeMillis() - _.sinceMs)
      throw new StoreLockBusyException(
        s"store $dir is locked by ${h.map(_.owner).getOrElse("<unknown>")} " +
          s"(held ${ageMs.map(a => s"${a}ms").getOrElse("?")}" +
          (if (waitMs > 0) s"; waited ${waitMs}ms" else "") + "); " +
          "a concurrent writer is mid-append — retry after it commits, or " +
          s"delete $LockName if the holder is known dead")
    }
    // Sweep lock-tmp AND beat-sidecar orphans under the held lock: a
    // hard-killed writer leaves _graft_lock.json.tmp-* corpses (SIGKILL
    // between atomicRewrite's create and rename) and its
    // _graft_lock.json.beat-* sidecar behind. Our own heartbeat hasn't
    // started yet, so every such file here is a corpse; without the
    // sweep they accumulate in the store dir forever. (A leftover beat
    // is also freshness-harmless — it's owner-keyed and only max()ed
    // into ITS owner's stamp — this is hygiene.)
    try fs.listStatus(root)
      .filter { s =>
        val n = s.getPath.getName
        n.startsWith(s"$LockName.tmp-") || n.startsWith(s"$LockName.beat-")
      }
      .foreach(s => fs.delete(s.getPath, false))
    catch { case _: java.io.IOException => () }
    val beat = startHeartbeat()
    try body
    finally {
      // stop the heartbeat FIRST and wait it out: a beat landing after
      // the release delete would resurrect a lock nobody holds
      stopping.set(true)
      beat.interrupt()
      beat.join(5000)
      // Delete ONLY our own lock (owner compare — since_ms advances with
      // each heartbeat; owner is host:pid:thread, so two live cycles can
      // never share it). If the cycle somehow still outlived the beat,
      // another writer may have broken this lock and claimed a fresh
      // one — an unconditional delete would free the store under that
      // writer and let a third start mid-cycle (the exact double-commit
      // this lock exists to prevent). Release only when the holder is
      // still us; otherwise warn loudly and leave the usurper's lock.
      holder(dir, conf) match {
        case Some(h) if h.owner == self.owner =>
          fs.delete(lock, false)
          // drop our beat sidecar with the lock (fallback schemes); a
          // crash-left one is swept at the next acquisition anyway
          try fs.delete(beatPath(dir, owner), false)
          catch { case _: java.io.IOException => () }
        case Some(h) =>
          System.err.println(
            s"[StoreLock] NOT releasing $dir/$LockName: held by ${h.owner} " +
              s"(since ${h.sinceMs}), not us ($owner, since $sinceMs) — our " +
              s"lock was broken as stale mid-cycle; this cycle's writes may " +
              s"have raced the new holder")
        case None => // already gone (broken + released); nothing to delete
      }
      // release the same-JVM fence LAST: removing it earlier would let
      // a sibling thread claim in-process while our lock file persists
      // (a transient busy, but noisy); value-checked so a fence entry
      // some future usurper wrote is never removed by us
      inJvmClaims.remove(claimKey, owner)
    }
  }
}
