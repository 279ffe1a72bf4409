package graft.fs

import java.nio.file.{Files, LinkOption, Path => JPath, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core._
import graft.ops.Ordinal

/** Local tree → rootfs table ingest (the reference's `load_all` +
  * `dump_all_to_s3` pipeline, crates/cdl-fs/src/lib.rs:593-770,822-882).
  *
  * Scale design: the DRIVER only walks the directory tree and collects
  * per-file metadata (cheap: one stat per file — same cost the reference
  * pays single-threaded). File BYTES are read on EXECUTORS: the metadata
  * list is parallelized, each task reads its files from shared storage and
  * emits chunk rows via an iterator (never holding more than one chunk in
  * memory), and the parquet writer streams them out. Chunking bounds row
  * size (`maxChunkSize`), so a 100 GiB file becomes N bounded rows instead
  * of one unwritable row — the reference's chunk semantics
  * (crates/cdl-fs/src/lib.rs:666-697) double as our executor-memory bound.
  *
  * Every append also stamps a persistent `row_id` (dense, append-monotonic;
  * base ordinal carried in the CommitLog manifest) so random access is a
  * stats-pruned filter, never a global window.
  */
object Ingest {

  /** Per-file metadata captured on the driver walk (reference captures
    * atime/ctime/mtime/mode/size at crates/cdl-fs/src/lib.rs:628-664). */
  final case class FileMeta(
      absPath: String,
      name: String,
      parent: String,
      atimeMicros: Long,
      ctimeMicros: Long,
      mtimeMicros: Long,
      mode: Int,
      size: Long)

  /** Walk a local tree. Regular files only: symlinks and special files are
    * skipped (reference: crates/cdl-fs/src/lib.rs:611-613). `parent` is the
    * directory relative to `root`, `/`-rooted (reference: lib.rs:619-626).
    * Timestamps are µs where the filesystem provides them (FileTime
    * carries ns; we keep µs — the parquet TIMESTAMP column is µs). */
  def walk(root: String): Seq[FileMeta] = {
    val rootPath = Paths.get(root).toAbsolutePath.normalize
    def micros(ft: java.nio.file.attribute.FileTime): Long =
      ft.to(java.util.concurrent.TimeUnit.MICROSECONDS)
    val stream = Files.walk(rootPath)
    try stream.iterator().asScala
      .filter(p => Files.isRegularFile(p, LinkOption.NOFOLLOW_LINKS))
      .map { p =>
        val rel = rootPath.relativize(p)
        val parent = Option(rel.getParent)
          .map(pp => "/" + pp.toString).getOrElse("/")
        val attrs = Files.readAttributes(
          p, classOf[java.nio.file.attribute.PosixFileAttributes],
          LinkOption.NOFOLLOW_LINKS)
        val mode = posixMode(p)
        FileMeta(
          p.toString, rel.getFileName.toString, parent,
          micros(attrs.lastAccessTime), micros(attrs.creationTime),
          micros(attrs.lastModifiedTime), mode, attrs.size)
      }
      .toSeq.sortBy(m => (m.parent, m.name))
    finally stream.close()
  }

  private def posixMode(p: JPath): Int = {
    import java.nio.file.attribute.PosixFilePermission._
    val perms = Files.getPosixFilePermissions(p, LinkOption.NOFOLLOW_LINKS).asScala
    val bits = Seq(
      OWNER_READ -> 0x100, OWNER_WRITE -> 0x80, OWNER_EXECUTE -> 0x40,
      GROUP_READ -> 0x20, GROUP_WRITE -> 0x10, GROUP_EXECUTE -> 0x8,
      OTHERS_READ -> 0x4, OTHERS_WRITE -> 0x2, OTHERS_EXECUTE -> 0x1)
    bits.collect { case (perm, bit) if perms.contains(perm) => bit }
      .foldLeft(0x8000)(_ | _) // S_IFREG
  }

  /** Hard ceiling applied when chunking is disabled: a single rootfs row
    * cannot exceed JVM array limits (and shouldn't approach executor
    * memory), so files larger than this are chunked regardless. The
    * reference leaves chunking off and would build an unbounded row
    * (SURVEY §7.4.1 documents this divergence). */
  val SafetyChunkSize: Long = 256L << 20 // 256 MiB

  /** Build the rootfs rows DataFrame for a walked tree. Bytes are read on
    * executors; metadata rides only on chunk 0 (reference `metadata.take()`,
    * crates/cdl-fs/src/lib.rs:687). `baseOrdinal` is the table's committed
    * row count; row_id = base + file's cumulative chunk offset + chunk_id,
    * computed driver-side from the (already walked) metadata — no extra
    * Spark pass. */
  def rootfsRows(
      spark: SparkSession,
      files: Seq[FileMeta],
      maxChunkSize0: Long,
      baseOrdinal: Long = 0L): DataFrame = {
    import spark.implicits._
    val maxChunkSize =
      if (maxChunkSize0 > 0) maxChunkSize0 else SafetyChunkSize
    val bases = files.map(m => RootFs.chunkCount(m.size, maxChunkSize))
      .scanLeft(baseOrdinal)(_ + _)
    val parallelism = math.max(1, math.min(files.size, spark.sparkContext.defaultParallelism))
    val rows = spark.sparkContext
      .parallelize(files.zip(bases), parallelism)
      .flatMap { case (m, fileBase) =>
        val layout = RootFs.chunkLayout(m.size, maxChunkSize)
        val ch = java.nio.channels.FileChannel.open(Paths.get(m.absPath))
        // the exhaustion close below never runs when a task dies (or a
        // downstream operator stops early) mid-iteration — without the
        // completion listener every such task leaks one fd per in-flight
        // file, and stage retries over a large tree exhaust the limit
        Option(org.apache.spark.TaskContext.get()).foreach(
          _.addTaskCompletionListener[Unit](_ => if (ch.isOpen) ch.close()))
        val it = layout.iterator.map { case (id, off, len) =>
          val buf = java.nio.ByteBuffer.allocate(len.toInt)
          ch.position(off)
          var read = 0
          while (read < len && ch.read(buf) >= 0) read = buf.position()
          val first = id == 0L
          RootFs.FileRecord(
            m.name, m.parent,
            if (first) Some(tsFromMicros(m.atimeMicros)) else None,
            if (first) Some(tsFromMicros(m.ctimeMicros)) else None,
            if (first) Some(tsFromMicros(m.mtimeMicros)) else None,
            if (first) Some(m.mode) else None,
            if (first) Some(m.size) else None,
            id, off, len, buf.array(),
            Some(fileBase + id))
        }
        // close the channel after the last chunk is consumed
        new Iterator[RootFs.FileRecord] {
          def hasNext: Boolean = { val h = it.hasNext; if (!h) ch.close(); h }
          def next(): RootFs.FileRecord = it.next()
        }
      }
    spark.createDataset(rows).toDF()
  }

  /** µs-precision java.sql.Timestamp (the plain ms ctor would silently
    * drop sub-millisecond metadata the walk captured). */
  private def tsFromMicros(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** Total chunk-row count for a walked tree under a chunk size. */
  def rowCount(files: Seq[FileMeta], maxChunkSize0: Long): Long = {
    val cs = if (maxChunkSize0 > 0) maxChunkSize0 else SafetyChunkSize
    files.iterator.map(m => RootFs.chunkCount(m.size, cs)).sum
  }

  /** Top-level directory segment of `parent` — the rootfs partition key.
    * Partitioning by the first path segment keeps partition cardinality
    * bounded (top-level dirs, not full paths) while letting `read_dir`
    * and prefix queries prune entire partitions at 100 TB. */
  def topSegment(parent: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    val seg = split(parent, "/").getItem(1)
    when(seg.isNull || seg === "", lit("_root")).otherwise(seg)
  }

  /** Append rootfs rows to a table location, hive-partitioned by `p0`
    * (append-only — the reference write path is WriteMode::Append at
    * crates/cdl-fs/src/lib.rs:831). Data files land first, then the
    * snapshot manifest — readers of a committed version never observe a
    * partial append. The Hadoop FS-backed CommitLog makes this hold on
    * `file:` and object-store schemes alike.
    *
    * `rowsAdded >= 0` asserts the rows already carry a correct `row_id`
    * stamp (driver-walk ingest). Otherwise rows are (re-)stamped here via
    * the distributed two-pass ordinal, offset by the committed row count —
    * the path taken by table→table copies and distributed ingest. */
  def writeRootfs(rows: DataFrame, location: String, rowsAdded: Long = -1L): Unit = {
    import org.apache.spark.sql.functions._
    val conf = rows.sparkSession.sparkContext.hadoopConfiguration
    val (out, n, release) =
      if (rowsAdded >= 0L && rows.columns.contains("row_id"))
        (rows, rowsAdded, () => ())
      else {
        val base = CommitLog.latest(location, conf).map(_.rowCount).getOrElse(0L)
        // (parent, name, chunk_id) alone is NOT total when the source
        // holds several generations of the same path — interleaving their
        // chunks would break the row_id-contiguity invariant that
        // Export.dumpAll's generation key relies on (row_id - chunk_id
        // constant per append). The source's own generation key joins
        // the ordering so each generation re-stamps contiguously.
        // sentinel −1 for unstamped rows: genuine generation keys are
        // ≥ 0, so unstamped rows can never interleave with a stamped
        // generation of the same path (several unstamped generations of
        // one path remain inherently unordered — no ordering info exists)
        val genExpr =
          if (rows.columns.contains("row_id"))
            coalesce(col("row_id") - col("chunk_id"), lit(-1L))
          else lit(-1L)
        val withGen = rows.withColumn("__gen0", genExpr)
        val st = Ordinal.stampWithCount(
          withGen.drop("row_id"),
          Seq(col("parent"), col("name"), col("__gen0"), col("chunk_id")))
        (st.df.withColumn("row_id", col("row_id") + base).drop("__gen0"),
          st.total, st.release)
      }
    try {
      out.withColumn("p0", topSegment(col("parent")))
        .write.mode("append").partitionBy("p0").parquet(location)
      CommitLog.commit(location, n, conf)
    } finally release()
  }

  /** Ingest a local tree into a dataset's rootfs table. */
  def run(fs: CdlFs, localRoot: String): Unit = {
    val files = walk(localRoot)
    val conf = fs.spark.sparkContext.hadoopConfiguration
    val base = CommitLog.latest(fs.tableLocation, conf).map(_.rowCount).getOrElse(0L)
    val n = rowCount(files, fs.catalog.maxChunkSize)
    writeRootfs(
      rootfsRows(fs.spark, files, fs.catalog.maxChunkSize, base),
      fs.tableLocation, rowsAdded = n)
    fs.refresh()
  }

  /** Fully-distributed ingest: executors do BOTH the listing and the
    * reading, so no driver walk bounds the job — the path for 100 M-file
    * trees on shared storage.
    *
    * The `binaryFile` source is used for METADATA ONLY (its `content`
    * column is never selected, so column pruning means no byte is read by
    * the listing scan — and the source's 2 GiB content cap never applies).
    * Chunk payloads are then read per-chunk through the Hadoop FileSystem
    * API keyed by (path, offset, length): an N-chunk file streams N
    * bounded rows, never N copies of the whole file. Works against any
    * Hadoop scheme (file:, s3a:) since both listing and reads go through
    * the FS connector.
    *
    * Fidelity trade-offs vs `run()`: metadata is (mtime, size) only —
    * the source exposes no atime/ctime/mode; symlinks are filtered
    * executor-side; ZERO-BYTE files, which the binaryFile index skips,
    * are recovered by a streaming driver-side listing (status entries
    * only — memory O(#empty files), no per-file stat RPCs). */
  def runDistributed(fs: CdlFs, sourceRoot: String): Unit = {
    import org.apache.spark.sql.functions._
    val spark = fs.spark
    // source may be a plain local dir OR any Hadoop URI (s3a://, mock://):
    // listing AND reads go through the FS connector either way
    val rootAbs =
      if (sourceRoot.contains("://")) sourceRoot
      else Paths.get(sourceRoot).toAbsolutePath.normalize.toString
    val rootPathPart =
      new org.apache.hadoop.fs.Path(rootAbs).toUri.getPath.stripSuffix("/")
    val cs = if (fs.catalog.maxChunkSize > 0) fs.catalog.maxChunkSize
      else SafetyChunkSize
    val hadoopConfMap = confMap(spark)
    val notSymlink = udf { (p: String) =>
      // hadoop path strings are not URI-encoded — never java.net.URI them.
      // symlinks only exist on the local scheme; remote objects pass.
      val u = new org.apache.hadoop.fs.Path(p).toUri
      u.getScheme != null && u.getScheme != "file" ||
        !Files.isSymbolicLink(Paths.get(u.getPath))
    }
    val meta = spark.read.format("binaryFile")
      .option("recursiveFileLookup", "true").load(rootAbs)
      .select(col("path"), col("modificationTime"), col("length"))
      .filter(notSymlink(col("path")))
    val all = meta.unionByName(listingGapEntries(spark, rootAbs))

    // name/parent from the path string, relative to the ingest root
    // (scheme + optional authority stripped, then the root's path part)
    val rel = regexp_replace(col("path"), "^[a-zA-Z0-9+.-]+:(//[^/]*)?" +
      java.util.regex.Pattern.quote(rootPathPart), "")
    val name = substring_index(rel, "/", -1)
    val parentLen = length(rel) - length(name) - 1
    val parent = when(parentLen <= 0, lit("/"))
      .otherwise(expr("substring(__rel, 1, __plen)"))

    val readChunk = udf { (p: String, off: Long, len: Long) =>
      HadoopChunkReader.read(hadoopConfMap, p, off, len)
    }
    val nChunks = (floor((greatest(col("fsize"), lit(1L)) - 1) / cs) + 1)
      .cast("long")
    // chunk rows WITHOUT payloads: the ordinal stamp persists its ranged
    // intermediate, so it must only ever hold metadata-sized rows
    val metaRows = all
      .withColumn("__rel", rel).withColumn("__plen", parentLen)
      .select(
        name.as("name"), parent.as("parent"),
        col("modificationTime").cast("timestamp").as("mtime0"),
        col("length").as("fsize"), col("path"))
      .withColumn("chunk_id", explode(sequence(lit(0L), nChunks - 1)))
      .withColumn("chunk_offset", col("chunk_id") * cs)
      .withColumn("chunk_size",
        least(col("fsize") - col("chunk_offset"), lit(cs)))
    val conf = spark.sparkContext.hadoopConfiguration
    val base = CommitLog.latest(fs.tableLocation, conf).map(_.rowCount).getOrElse(0L)
    val st = Ordinal.stampWithCount(
      metaRows, Seq(col("parent"), col("name"), col("chunk_id")))
    val rows = st.df
      .withColumn("row_id", col("row_id") + base)
      .select(
        col("name"), col("parent"),
        lit(null).cast("timestamp").as("atime"),
        lit(null).cast("timestamp").as("ctime"),
        when(col("chunk_id") === 0, col("mtime0")).cast("timestamp").as("mtime"),
        lit(null).cast("int").as("mode"),
        when(col("chunk_id") === 0, col("fsize")).as("size"),
        col("chunk_id"), col("chunk_offset"), col("chunk_size"),
        // payload attached AFTER the stamp: an N-chunk file streams N
        // bounded reads, never N copies of the whole file
        readChunk(col("path"), col("chunk_offset"), col("chunk_size")).as("data"),
        col("row_id"))
    try writeRootfs(rows, fs.tableLocation, rowsAdded = st.total)
    finally st.release()
    fs.refresh()
  }

  /** Zero-byte regular files under `root`, shaped like the binaryFile
    * metadata projection. Streaming RemoteIterator: the driver holds only
    * the EMPTY files, not the tree. */
  /** The files Spark's binaryFile listing cannot see, found by ONE
    * driver-side recursive listing (the walk `run()` does anyway):
    *  - EMPTY files — binaryFile drops zero-length objects;
    *  - files under `_`/`.`-prefixed segments — InMemoryFileIndex's
    *    hidden-path filter is hardcoded, and silently losing /.bashrc
    *    or a _SUCCESS marker from a filesystem COPY tool is data loss
    *    (`run()`'s walk has always ingested them; the two ingest paths
    *    must agree).
    * Bytes for the non-empty gap files still read on EXECUTORS — this
    * walk contributes only (path, mtime, length) rows. */
  private def listingGapEntries(spark: SparkSession, rootAbs: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(rootAbs)
    val hfs = root.getFileSystem(conf)
    val out = Seq.newBuilder[(String, java.sql.Timestamp, Long)]
    val rootPathPart = root.toUri.getPath.stripSuffix("/")
    val it = hfs.listFiles(root, true)
    while (it.hasNext) {
      val st = it.next()
      val u = st.getPath.toUri
      val localSymlink = (u.getScheme == null || u.getScheme == "file") &&
        Files.isSymbolicLink(Paths.get(u.getPath))
      val hidden = u.getPath.stripPrefix(rootPathPart).split("/")
        .exists(s => s.startsWith("_") || s.startsWith("."))
      if (st.isFile && !localSymlink && (hidden || st.getLen == 0))
        out += ((st.getPath.toString,
          new java.sql.Timestamp(st.getModificationTime), st.getLen))
    }
    out.result()
      .toDF("path", "modificationTime", "length")
      .select(col("path"),
        col("modificationTime").cast("timestamp").as("modificationTime"),
        col("length"))
  }

  /** Hadoop conf entries that matter for executor-side FS access (fs.* —
    * credentials, endpoints, custom scheme impls — plus the graft.cache.*
    * object-cache knobs). A plain Map so the UDF closure serializes;
    * rebuilt into a Configuration once per executor JVM by
    * HadoopChunkReader. */
  private def confMap(spark: SparkSession): Map[String, String] = {
    val c = spark.sparkContext.hadoopConfiguration
    c.iterator().asScala
      .map(e => e.getKey -> e.getValue)
      .filter(e => e._1.startsWith("fs.") || e._1.startsWith("graft."))
      .toMap
  }
}

/** Per-executor-JVM Hadoop FS chunk reader. One Configuration per
  * distinct entry map (concurrent jobs with different creds/schemes
  * each keep theirs — no single-slot thrashing). Caveat shared with all
  * Hadoop users: `FileSystem.CACHE` keys on (scheme, authority, ugi),
  * NOT on conf — rotating credentials for the SAME bucket within one
  * executor lifetime additionally needs
  * `fs.<scheme>.impl.disable.cache=true` in the passed options. */
object HadoopChunkReader {
  @transient private lazy val cached =
    scala.collection.concurrent.TrieMap.empty[Map[String, String], org.apache.hadoop.conf.Configuration]

  private def configuration(entries: Map[String, String]): org.apache.hadoop.conf.Configuration =
    cached.getOrElseUpdate(entries, {
      val c = new org.apache.hadoop.conf.Configuration()
      entries.foreach { case (k, v) => c.set(k, v) }
      c
    })

  def read(entries: Map[String, String], p: String, off: Long, len: Long): Array[Byte] = {
    if (len <= 0L) return Array.emptyByteArray
    // routed through the read-through object cache: big reads from remote
    // schemes pull the object to executor-local disk once (reference
    // CachedObjectStoreBackend semantics); local/small reads go direct
    ObjectCache.readRange(configuration(entries),
      new org.apache.hadoop.fs.Path(p), off, len)
  }
}
