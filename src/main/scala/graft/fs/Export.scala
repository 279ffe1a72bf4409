package graft.fs

import java.nio.file.attribute.{BasicFileAttributeView, FileTime}
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** rootfs table → local tree export (the reference's `dump_all` local sink,
  * crates/cdl-fs/src/lib.rs:721-770): create dirs, seek to `chunk_offset`,
  * write bytes, set the length to `size`, then restore atime/mtime/mode.
  *
  * One Spark action: the table is scanned once, hash-partitioned on
  * (parent, name) so all rows of a path meet in one task, and sorted
  * within partitions by (parent, name, generation DESC, metadata row
  * first, chunk_id). One `foreachPartition` then streams each path: it
  * keeps the first (newest) generation it sees, writes its non-null
  * chunks through one open handle, sets the length to `size` (extending
  * with zeros past trailing metadata-only chunks, cutting a longer stale
  * file) and restores the metadata. A path whose newest generation has
  * no `size IS NOT NULL` row is no file (the listings' rule) and is
  * skipped. The sort spills and each path's rows are streamed, so no
  * task buffers a file and the driver never materializes a row. ctime is
  * not restorable on POSIX; the reference doesn't restore it either
  * (SURVEY §7.4.3).
  *
  * Generations: the rootfs table is append-only, so a re-uploaded file
  * coexists with its older generations; exporting all of them would let
  * their positional writes race (the reference's dump streams
  * scan_in_order so the later append wins). An append's chunk rows carry
  * contiguous row_ids (base + chunk_id), so `row_id - chunk_id` is a
  * per-generation key and the largest is the newest. Unstamped legacy
  * rows (null row_id) get the sentinel -1, BELOW any genuine generation
  * (the writeRootfs/fallbackStamped convention): 0 would collide with the
  * table's very first stamped append (row_id 0 − chunk_id 0), and a later
  * unstamped append of the same path would then tie it instead of losing.
  */
object Export {

  def dumpAll(fs: CdlFs, destRoot: String): Unit = {
    val dest = Paths.get(destRoot).toAbsolutePath.normalize.toString
    Files.createDirectories(Paths.get(dest))
    fs.table
      .select(col("parent"), col("name"), col("size"), col("mode"),
        col("atime"), col("mtime"), col("chunk_offset"), col("data"),
        coalesce(col("row_id") - col("chunk_id"), lit(-1L)).as("gen"),
        col("chunk_id"))
      .repartition(col("parent"), col("name"))
      .sortWithinPartitions(col("parent"), col("name"), col("gen").desc,
        col("size").isNull, col("chunk_id"))
      .foreachPartition { rows: Iterator[Row] => writePaths(dest, rows) }
  }

  /** Writes the newest generation of each path in `rows`, which arrive
    * grouped by path, newest generation first, its metadata row first. */
  private def writePaths(dest: String, rows: Iterator[Row]): Unit = {
    var parent, name: String = null
    var gen = 0L
    var meta: Row = null   // the kept generation's metadata row; null = skip
    var file: java.io.RandomAccessFile = null
    def finish(): Unit = if (file != null) {
      file.setLength(meta.getAs[Long]("size"))
      file.close()
      file = null
      restoreMetadata(Paths.get(dest + parent, name), meta)
    }
    try {
      rows.foreach { r =>
        val samePath = r.getAs[String]("parent") == parent && r.getAs[String]("name") == name
        if (!samePath) {
          finish()
          parent = r.getAs[String]("parent")
          name = r.getAs[String]("name")
          gen = r.getAs[Long]("gen")
          meta = if (r.getAs[Any]("size") == null) null else r
          if (meta != null) {
            val p = Paths.get(dest + parent, name)
            // idempotent, so tasks sharing a parent dir are safe
            Files.createDirectories(p.getParent)
            file = new java.io.RandomAccessFile(p.toFile, "rw")
            file.setLength(0) // a stale file's bytes must not show through
          }
        }
        if (file != null && r.getAs[Long]("gen") == gen)
          Option(r.getAs[Array[Byte]]("data")).foreach { bytes =>
            file.seek(r.getAs[Long]("chunk_offset"))
            file.write(bytes)
          }
      }
      finish()
    } finally if (file != null) file.close()
  }

  private def restoreMetadata(p: java.nio.file.Path, meta: Row): Unit = {
    def time(c: String) = Option(meta.getAs[java.sql.Timestamp](c)).map(fileTimeMicros).orNull
    Files.getFileAttributeView(p, classOf[BasicFileAttributeView])
      .setTimes(time("mtime"), time("atime"), null)
    Option(meta.getAs[Any]("mode")).foreach { m =>
      Files.setPosixFilePermissions(p, modeToPerms(m.asInstanceOf[Int]))
    }
  }

  /** Restore at the µs precision the ingest captured (fromMillis would
    * drop the Timestamp's sub-millisecond nanos). */
  private def fileTimeMicros(t: java.sql.Timestamp): FileTime =
    FileTime.from(
      Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L,
      java.util.concurrent.TimeUnit.MICROSECONDS)

  private[fs] def modeToPerms(mode: Int): java.util.Set[java.nio.file.attribute.PosixFilePermission] = {
    import java.nio.file.attribute.PosixFilePermission._
    val bits = Seq(
      0x100 -> OWNER_READ, 0x80 -> OWNER_WRITE, 0x40 -> OWNER_EXECUTE,
      0x20 -> GROUP_READ, 0x10 -> GROUP_WRITE, 0x8 -> GROUP_EXECUTE,
      0x4 -> OTHERS_READ, 0x2 -> OTHERS_WRITE, 0x1 -> OTHERS_EXECUTE)
    val set = new java.util.HashSet[java.nio.file.attribute.PosixFilePermission]()
    bits.foreach { case (bit, perm) => if ((mode & bit) != 0) set.add(perm) }
    set
  }
}
