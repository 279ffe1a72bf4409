package graft.fs

import java.nio.file.{Files, Paths}

import graft.SparkSuite
import graft.core.{DatasetCatalog, GlobalPath}
import org.apache.spark.sql.functions._

/** OPTIMIZE-style compaction: same rows, fewer files, pruning intact. */
class CompactSpec extends SparkSuite {

  private def mkDataset(): CdlFs = {
    val root = Files.createTempDirectory("compactspec").toString
    val fixture = s"$root/fixture"
    Files.createDirectories(Paths.get(s"$fixture/d1"))
    Files.createDirectories(Paths.get(s"$fixture/d2"))
    (1 to 6).foreach { i =>
      Files.write(Paths.get(s"$fixture/d1/f$i.txt"), s"one $i".getBytes)
      Files.write(Paths.get(s"$fixture/d2/g$i.txt"), s"two $i two".getBytes)
    }
    val f = CdlFs.open(spark, DatasetCatalog(),
      GlobalPath.parse(s"$root/ds").toOption.get)
    // several appends -> several generations of small files
    Ingest.run(f, fixture)
    Ingest.run(f, s"$fixture/d1")
    Ingest.run(f, s"$fixture/d2")
    f
  }

  test("compact preserves rows/row_ids, reduces files, keeps take and pruning") {
    val fs = mkDataset()
    val before = fs.table
      .select(col("parent"), col("name"), col("chunk_id"), col("row_id"),
        hex(col("data")).as("data_hex"))
      .collect().map(_.toString).sorted
    val filesBefore = CommitLog.latest(fs.tableLocation,
      spark.sparkContext.hadoopConfiguration).get.files
    val versionsBefore = fs.versions.size
    val takeBefore = fs.take(Seq(2L, 9L), Seq("name", "parent"))
      .collect().map(_.toString).sorted

    val nAfter = fs.compact()

    assert(nAfter < filesBefore.size,
      s"expected fewer files than ${filesBefore.size}, got $nAfter")
    val after = fs.table
      .select(col("parent"), col("name"), col("chunk_id"), col("row_id"),
        hex(col("data")).as("data_hex"))
      .collect().map(_.toString).sorted
    assert(after.toSeq == before.toSeq) // identical rows incl. stamps
    assert(fs.versions.size == versionsBefore + 1)
    // cumulative row count (next stamp base) unchanged
    val snap = CommitLog.latest(fs.tableLocation,
      spark.sparkContext.hadoopConfiguration).get
    assert(snap.rowCount == before.length)
    // take still prunes on the persistent stamp and returns the same rows
    val takeAfter = fs.take(Seq(2L, 9L), Seq("name", "parent"))
      .collect().map(_.toString).sorted
    assert(takeAfter.toSeq == takeBefore.toSeq)
    // hive partition column survives the rewrite (listing prune intact)
    assert(snap.files.forall(_.startsWith("p0=")), snap.files.mkString(","))
    // the new layout is the committed layout: directory state == manifest
    assert(snap.files.size == nAfter)
  }

  test("compact(zorderBy) clusters files into tight min/max boxes on both keys") {
    // a 16x16 grid in (size, mtime-second): file (i,j) has 16+i content
    // bytes and mtime second 64+j, so both keys vary in their low 4 bits
    // with constant high bits — the Morton code is exactly the grid
    // interleave and aligned z-blocks are (8 x 4)-cell boxes
    val root = Files.createTempDirectory("compact_zorder").toString
    val fixture = s"$root/fixture/g"
    Files.createDirectories(Paths.get(fixture))
    for (i <- 0 until 16; j <- 0 until 16) {
      val p = Paths.get(s"$fixture/x${i}_y$j.bin")
      Files.write(p, ("#" * (16 + i)).getBytes)
      Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis((64L + j) * 1000))
    }
    val fs = CdlFs.open(spark, DatasetCatalog(),
      GlobalPath.parse(s"$root/ds").toOption.get)
    Ingest.run(fs, s"$root/fixture")
    val hconf = spark.sparkContext.hadoopConfiguration
    // aim for 8 output files regardless of parquet overhead
    val rootP = new org.apache.hadoop.fs.Path(fs.tableLocation)
    val hfs = rootP.getFileSystem(hconf)
    val total = CommitLog.dataFiles(fs.tableLocation, hconf).map(f =>
      hfs.getFileStatus(new org.apache.hadoop.fs.Path(rootP, f)).getLen).sum
    val n = fs.compact(
      targetFileBytes = math.max(1L, math.ceil(total / 8.0).toLong),
      zorderBy = Seq("size", "mtime"))
    assert(n >= 6, s"want a multi-file layout, got $n files")
    assert(fs.table.count() == 256)
    // per-file min/max boxes over BOTH keys, straight from the files —
    // what a stats-pruning scan would read
    val boxes = CommitLog.latest(fs.tableLocation, hconf).get.files.map { f =>
      val d = spark.read.parquet(s"${fs.tableLocation}/$f")
        .agg(min("size"), max("size"),
          min(unix_timestamp(col("mtime"))), max(unix_timestamp(col("mtime"))))
        .head()
      (d.getLong(0), d.getLong(1), d.getLong(2), d.getLong(3))
    }
    // tightness: every file covers at most half the grid in EACH key
    // (a single-key sort layout spans the FULL 16-value range of the
    // other key in every file; aligned z-blocks here span 8 x 4)
    boxes.foreach { case (sMin, sMax, tMin, tMax) =>
      assert(sMax - sMin <= 7, s"size span too wide: $boxes")
      assert(tMax - tMin <= 7, s"mtime span too wide: $boxes")
    }
    // and the boxes really prune: a point query on either key overlaps
    // at most half the files
    for (v <- 16 until 32) {
      val bySize = boxes.count { case (a, b, _, _) => a <= v && v <= b }
      assert(bySize <= boxes.size / 2, s"size=$v overlaps $bySize/${boxes.size}")
    }
    for (v <- 64 until 80) {
      val byTime = boxes.count { case (_, _, a, b) => a <= v && v <= b }
      assert(byTime <= boxes.size / 2, s"mtime=$v overlaps $byTime/${boxes.size}")
    }
    fs.close()
  }

  test("multi-dir z-order compact keeps file count near the target (no p0 fan-out)") {
    // 8 top dirs x 48 files: a Morton key uncorrelated with the layout.
    // Range-partitioning on the z-key alone interleaves all dirs into
    // every partition and the per-p0 writer fans each out — numFiles x 8
    // files; leading the range key with p0 keeps it ~numFiles.
    val root = Files.createTempDirectory("compact_zfan").toString
    for (d <- 0 until 8; i <- 0 until 48) {
      val dir = Paths.get(s"$root/fixture/d$d")
      Files.createDirectories(dir)
      val p = dir.resolve(s"f$i.bin")
      Files.write(p, ("#" * (16 + (i % 16))).getBytes)
      Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis((64L + i / 16) * 1000))
    }
    val fs = CdlFs.open(spark, DatasetCatalog(),
      GlobalPath.parse(s"$root/ds").toOption.get)
    Ingest.run(fs, s"$root/fixture")
    val hconf = spark.sparkContext.hadoopConfiguration
    val rootP = new org.apache.hadoop.fs.Path(fs.tableLocation)
    val hfs = rootP.getFileSystem(hconf)
    val total = CommitLog.dataFiles(fs.tableLocation, hconf).map(f =>
      hfs.getFileStatus(new org.apache.hadoop.fs.Path(rootP, f)).getLen).sum
    val n = fs.compact(
      targetFileBytes = math.max(1L, math.ceil(total / 6.0).toLong),
      zorderBy = Seq("size", "mtime"))
    // ~6 requested; boundary straddles add at most a few — far from 6 x 8
    assert(n <= 6 + 8, s"p0 fan-out: $n files")
    assert(fs.table.count() == 8 * 48)
    fs.close()
  }

  test("compact absorbs external (uncommitted) files exactly once") {
    val fs = mkDataset()
    // an external writer drops a file into the table dir WITHOUT bumping
    // the CommitLog — the refresh()/take-fallback contract
    val extraRows = fs.table.limit(0) // empty, right schema
      .sparkSession.createDataFrame(
        fs.table.filter(col("name") === "f1.txt" && col("parent") === "/d1")
          .withColumn("name", lit("external.txt"))
          .withColumn("row_id", lit(null).cast("long"))
          .collectAsList(), fs.table.schema)
    extraRows.withColumn("p0", lit("d1"))
      .write.mode("append").partitionBy("p0").parquet(fs.tableLocation)
    fs.refresh()
    val rowsBefore = fs.table.count()
    fs.compact()
    // the external rows were compacted in ONCE — no double counting
    assert(fs.table.count() == rowsBefore)
    assert(fs.table.filter(col("name") === "external.txt").count() == 1)
  }

  test("compact on an appended-after-compact table keeps appending cleanly") {
    val fs = mkDataset()
    fs.compact()
    val rowsAfterCompact = fs.table.count()
    // append another generation on top of the compacted layout
    val extra = Files.createTempDirectory("compact_extra").toString
    Files.write(Paths.get(s"$extra/h.txt"), "post-compact".getBytes)
    Ingest.run(fs, extra)
    assert(fs.table.count() == rowsAfterCompact + 1)
    // new row got the next ordinal (stamp base survived rowsAdded=0)
    val maxId = fs.table.agg(max("row_id")).head().getLong(0)
    assert(maxId == rowsAfterCompact) // dense 0-based stamps
    fs.close()
  }
}
