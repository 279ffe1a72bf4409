package graft.fs

import java.nio.file.{Files, Paths}

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions.col
import graft.core.{DatasetCatalog, GlobalPath, RootFs}

/** End-to-end ingest → query → export over a fixture tree (FIXTURES §A2):
  * the reference `cdlake_cp.py` contract. */
class CdlFsSpec extends SparkSuite {

  private lazy val root = Files.createTempDirectory("cdlfs").toString

  private lazy val fs: CdlFs = {
    val fixture = s"$root/fixture"
    Files.createDirectories(Paths.get(s"$fixture/nested/a/b"))
    Files.write(Paths.get(s"$fixture/small.txt"), "hello rootfs".getBytes)
    Files.write(Paths.get(s"$fixture/empty.bin"), Array.emptyByteArray)
    Files.write(Paths.get(s"$fixture/big.bin"), Array.fill[Byte](2560)('x'))
    Files.write(Paths.get(s"$fixture/nested/a/b/deep.txt"), "deep".getBytes)
    Files.write(Paths.get(s"$fixture/perms.sh"), "#!/bin/sh\n".getBytes)
    Files.setPosixFilePermissions(Paths.get(s"$fixture/perms.sh"),
      java.nio.file.attribute.PosixFilePermissions.fromString("rwxr-xr-x"))
    Files.createSymbolicLink(Paths.get(s"$fixture/link"), Paths.get("small.txt"))

    val catalog = DatasetCatalog(maxChunkSize = 1024)
    val f = CdlFs.open(spark, catalog,
      GlobalPath.parse(s"$root/ds1").toOption.get)
    Ingest.run(f, fixture)
    f
  }

  test("ingest skips symlinks and records one row per chunk") {
    val rows = fs.table.count()
    // 5 files; big.bin = 3 chunks -> 7 rows total; symlink skipped
    assert(rows == 7)
    assert(fs.sql("SELECT * FROM rootfs WHERE name = 'link'").count() == 0)
  }

  test("metadata rides only on chunk 0 (size IS NOT NULL dedupes)") {
    val withMeta = fs.sql(
      "SELECT count(*) AS n FROM rootfs WHERE size IS NOT NULL")
      .collect().head.getLong(0)
    assert(withMeta == 5)
    val laterChunks = fs.sql(
      "SELECT count(*) AS n FROM rootfs WHERE chunk_id > 0 AND size IS NOT NULL")
      .collect().head.getLong(0)
    assert(laterChunks == 0)
  }

  test("readDir lists one directory, name-sorted, data blanked") {
    val rows = fs.readDir("/").collect()
    assert(rows.map(_.getAs[String]("name")).toSeq ==
      Seq("big.bin", "empty.bin", "perms.sh", "small.txt"))
    assert(rows.forall(_.getAs[Array[Byte]]("data").isEmpty))
  }

  test("readDirAll lists recursively, (parent,name)-sorted") {
    val rows = fs.readDirAll().collect()
    assert(rows.map(r => (r.getAs[String]("parent"), r.getAs[String]("name"))).toSeq ==
      Seq("/" -> "big.bin", "/" -> "empty.bin", "/" -> "perms.sh",
        "/" -> "small.txt", "/nested/a/b" -> "deep.txt"))
  }

  test("readFilesByCondition returns payloads") {
    val rows = fs.readFilesByCondition("name = 'small.txt'").collect()
    assert(rows.length == 1)
    assert(new String(rows.head.getAs[Array[Byte]]("data")) == "hello rootfs")
  }

  test("len() equals payload byte length") {
    val n = fs.sql(
      "SELECT len(data) AS n FROM rootfs WHERE name = 'small.txt'")
      .collect().head.getLong(0)
    assert(n == 12)
  }

  test("chunk math: big.bin split 1024/1024/512 with contiguous offsets") {
    val chunks = fs.sql(
      """SELECT chunk_id, chunk_offset, chunk_size FROM rootfs
        |WHERE name = 'big.bin' ORDER BY chunk_id""".stripMargin).collect()
    assert(chunks.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((0L, 0L, 1024L), (1L, 1024L, 1024L), (2L, 2048L, 512L)))
  }

  test("export round-trip restores bytes, mode, and mtime") {
    val dest = s"$root/restore"
    Export.dumpAll(fs, dest)
    assert(Files.readAllBytes(Paths.get(s"$dest/small.txt")).sameElements(
      "hello rootfs".getBytes))
    assert(Files.readAllBytes(Paths.get(s"$dest/big.bin")).sameElements(
      Array.fill[Byte](2560)('x')))
    assert(Files.size(Paths.get(s"$dest/empty.bin")) == 0)
    assert(Files.readAllBytes(Paths.get(s"$dest/nested/a/b/deep.txt"))
      .sameElements("deep".getBytes))
    val perms = java.nio.file.attribute.PosixFilePermissions.toString(
      Files.getPosixFilePermissions(Paths.get(s"$dest/perms.sh")))
    assert(perms == "rwxr-xr-x")
    assert(!Files.exists(Paths.get(s"$dest/link")))
    val srcM = Files.getLastModifiedTime(Paths.get(s"$root/fixture/small.txt")).toMillis
    val dstM = Files.getLastModifiedTime(Paths.get(s"$dest/small.txt")).toMillis
    assert(srcM == dstM)
  }

  test("row_id is a dense persistent stamp in walk order") {
    val ids = fs.table.orderBy("row_id")
      .select("row_id", "name", "chunk_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    // walk order (parent,name): big.bin×3, empty.bin, perms.sh,
    // small.txt, then /nested/a/b/deep.txt
    assert(ids == Seq(
      (0L, "big.bin", 0L), (1L, "big.bin", 1L), (2L, "big.bin", 2L),
      (3L, "empty.bin", 0L), (4L, "perms.sh", 0L),
      (5L, "small.txt", 0L), (6L, "deep.txt", 0L)))
  }

  test("take returns rows by ordinal with projected columns") {
    val rows = fs.take(Seq(0L, 2L), Seq("parent", "name")).collect()
    // ordinal order: (parent,name,chunk_id) — big.bin chunks 0,1,2 first
    assert(rows.map(r => (r.getAs[Long]("row_id"), r.getAs[String]("name"))).toSeq ==
      Seq((0L, "big.bin"), (2L, "big.bin")))
  }

  test("distributed (binaryFile) ingest matches walk ingest on bytes and layout") {
    import graft.core.{DatasetCatalog, GlobalPath}
    // full parity incl. the zero-byte file (recovered by the streaming
    // listing — binaryFile's index alone cannot see it) and the
    // multi-chunk file (read per-chunk, no payload duplication)
    val a = fs.table // forces fixture + walk-ingest initialization
      .selectExpr("parent", "name", "chunk_id", "chunk_size", "md5(data) AS h")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getString(4))).toSet
    val fs2 = CdlFs.open(spark, DatasetCatalog(maxChunkSize = 1024),
      GlobalPath.parse(s"$root/ds-dist").toOption.get)
    Ingest.runDistributed(fs2, s"$root/fixture")
    val b = fs2.table
      .selectExpr("parent", "name", "chunk_id", "chunk_size", "md5(data) AS h")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getString(4))).toSet
    assert(b == a)
    // mtime preserved; mode/atime are nulls in the distributed path
    val m = fs2.sql("SELECT count(*) AS n FROM rootfs " +
      "WHERE chunk_id = 0 AND mtime IS NULL").collect().head.getLong(0)
    assert(m == 0)
  }

  test("export generation sentinel: first stamped append beats an unstamped re-append") {
    import org.apache.spark.sql.functions.lit
    // generation key of the table's FIRST stamped append is 0 (row_id 0
    // - chunk_id 0): the unstamped sentinel must sort BELOW it, never
    // tie it — a tie would let two generations' positional writes race
    val fsS = CdlFs.open(spark, DatasetCatalog(),
      GlobalPath.parse(s"$root/ds-sentinel").toOption.get)
    val tree = s"$root/treeS"
    Files.createDirectories(Paths.get(tree))
    Files.write(Paths.get(s"$tree/f.txt"), "new".getBytes)
    Ingest.run(fsS, tree)
    fsS.table.filter(lit(false)) // schema template
      .unionByName(spark.sql(
        """SELECT 'f.txt' AS name, '/' AS parent,
          |  CAST(NULL AS TIMESTAMP) atime, CAST(NULL AS TIMESTAMP) ctime,
          |  CAST(NULL AS TIMESTAMP) mtime, CAST(NULL AS INT) mode,
          |  CAST(5 AS BIGINT) size, CAST(0 AS BIGINT) chunk_id,
          |  CAST(0 AS BIGINT) chunk_offset, CAST(5 AS BIGINT) chunk_size,
          |  CAST('older' AS BINARY) data, CAST(NULL AS BIGINT) row_id""".stripMargin))
      .write.mode("append").parquet(s"${fsS.tableLocation}/p0=_root")
    assert(fsS.table.filter(col("row_id").isNull).count() == 1)
    val dest = s"$root/restore-sentinel"
    Export.dumpAll(fsS, dest)
    assert(new String(Files.readAllBytes(Paths.get(s"$dest/f.txt"))) == "new")
  }

  /** A flat external table (no p0 dirs, no row_id column) holding `values`:
    * (name, parent, size, chunk_id, chunk_offset, chunk_size, data) rows
    * in SQL VALUES syntax, with a NULL `data` allowed. */
  private def externalTable(ds: String, values: String): CdlFs = {
    val f = CdlFs.open(spark, DatasetCatalog(),
      GlobalPath.parse(s"$root/$ds").toOption.get)
    spark.sql(
      s"""SELECT * FROM VALUES $values
         |  AS t(name, parent, size, chunk_id, chunk_offset, chunk_size, d)""".stripMargin)
      .selectExpr("name", "parent", "CAST(NULL AS TIMESTAMP) atime",
        "CAST(NULL AS TIMESTAMP) ctime", "CAST(NULL AS TIMESTAMP) mtime",
        "CAST(420 AS INT) mode", "size", "chunk_id", "chunk_offset",
        "chunk_size", "CAST(d AS BINARY) data")
      .write.parquet(f.tableLocation)
    f
  }

  test("export sets a file to its size: trailing metadata-only chunks read as zeros") {
    // chunk 1 carries no payload (data is nullable for external
    // writers): the exported file still has `size` bytes, zero-filled
    val fsZ = externalTable("ds-zero-tail",
      "('f.bin', '/', 6L, 0L, 0L, 3L, 'abc'), ('f.bin', '/', NULL, 1L, 3L, 3L, NULL)")
    val dest = s"$root/restore-zero-tail"
    Export.dumpAll(fsZ, dest)
    assert(Files.readAllBytes(Paths.get(s"$dest/f.bin")).toSeq ==
      "abc".getBytes.toSeq ++ Seq[Byte](0, 0, 0))
  }

  test("export onto a longer stale file cuts it to size") {
    // the stale bytes neither outlast `size` nor show through the
    // chunk that carries no payload
    val fsT = externalTable("ds-stale",
      "('f.bin', '/', 6L, 0L, 0L, 3L, 'abc'), ('f.bin', '/', NULL, 1L, 3L, 3L, NULL)")
    val dest = s"$root/restore-stale"
    Files.createDirectories(Paths.get(dest))
    Files.write(Paths.get(s"$dest/f.bin"), Array.fill[Byte](100)('z'))
    Export.dumpAll(fsT, dest)
    assert(Files.readAllBytes(Paths.get(s"$dest/f.bin")).toSeq ==
      "abc".getBytes.toSeq ++ Seq[Byte](0, 0, 0))
  }

  test("export skips a path whose newest generation has no size row") {
    // data rows without a `size IS NOT NULL` row are no file (the
    // listings' rule): the export completes and writes none for them
    val fsM = externalTable("ds-no-size",
      "('ok.txt', '/', 2L, 0L, 0L, 2L, 'ok'), ('orphan.bin', '/d', NULL, 0L, 0L, 3L, 'xyz')")
    assert(fsM.readDirAll().collect().map(_.getAs[String]("name")).toSeq == Seq("ok.txt"))
    val dest = s"$root/restore-no-size"
    Export.dumpAll(fsM, dest)
    assert(new String(Files.readAllBytes(Paths.get(s"$dest/ok.txt"))) == "ok")
    assert(!Files.exists(Paths.get(s"$dest/d/orphan.bin")))
  }

  test("an export starts 2 Spark jobs: shuffle map + the writing pass") {
    fs.versions // the lazy fixture ingests (jobs) first
    val (_, jobs) = jobsOf(Export.dumpAll(fs, s"$root/restore-jobs"))
    assert(jobs.size == 2, jobs)
    assert(Files.readAllBytes(Paths.get(s"$root/restore-jobs/small.txt"))
      .sameElements("hello rootfs".getBytes))
  }

  test("take falls back when external rows lack the row_id stamp") {
    import org.apache.spark.sql.functions.lit
    val fsX = CdlFs.open(spark, DatasetCatalog(),
      GlobalPath.parse(s"$root/ds-ext").toOption.get)
    val tree = s"$root/treeX"
    Files.createDirectories(Paths.get(tree))
    Files.write(Paths.get(s"$tree/a.txt"), "aaa".getBytes)
    Ingest.run(fsX, tree)
    // simulate an external engine appending WITHOUT a stamp: canonical
    // columns, row_id explicitly null, straight into a partition dir
    fsX.table.filter(lit(false)) // schema template
      .unionByName(spark.sql(
        """SELECT 'zzz.txt' AS name, '/' AS parent,
          |  CAST(NULL AS TIMESTAMP) atime, CAST(NULL AS TIMESTAMP) ctime,
          |  CAST(NULL AS TIMESTAMP) mtime, CAST(NULL AS INT) mode,
          |  CAST(3 AS BIGINT) size, CAST(0 AS BIGINT) chunk_id,
          |  CAST(0 AS BIGINT) chunk_offset, CAST(3 AS BIGINT) chunk_size,
          |  CAST('ext' AS BINARY) data, CAST(NULL AS BIGINT) row_id""".stripMargin))
      .write.mode("append").parquet(s"${fsX.tableLocation}/p0=_root")
    assert(fsX.table.count() == 2)
    // ordinal order (parent,name,chunk_id): a.txt -> 0, zzz.txt -> 1;
    // the unstamped external row MUST be reachable
    val got = fsX.take(Seq(1L), Seq("name")).collect()
    assert(got.map(_.getAs[String]("name")).toSeq == Seq("zzz.txt"))
  }

  test("external appends become visible to take after refresh()") {
    import org.apache.spark.sql.functions.lit
    val fsR = CdlFs.open(spark, DatasetCatalog(),
      GlobalPath.parse(s"$root/ds-refresh").toOption.get)
    val tree = s"$root/treeR"
    Files.createDirectories(Paths.get(tree))
    Files.write(Paths.get(s"$tree/a.txt"), "aaa".getBytes)
    Ingest.run(fsR, tree)
    assert(fsR.take(Seq(0L), Seq("name")).collect()
      .map(_.getAs[String]("name")).toSeq == Seq("a.txt"))
    // external engine appends an UNSTAMPED row, no CommitLog version bump
    fsR.table.filter(lit(false))
      .unionByName(spark.sql(
        """SELECT 'zzz.txt' AS name, '/' AS parent,
          |  CAST(NULL AS TIMESTAMP) atime, CAST(NULL AS TIMESTAMP) ctime,
          |  CAST(NULL AS TIMESTAMP) mtime, CAST(NULL AS INT) mode,
          |  CAST(3 AS BIGINT) size, CAST(0 AS BIGINT) chunk_id,
          |  CAST(0 AS BIGINT) chunk_offset, CAST(3 AS BIGINT) chunk_size,
          |  CAST('ext' AS BINARY) data, CAST(NULL AS BIGINT) row_id""".stripMargin))
      .write.mode("append").parquet(s"${fsR.tableLocation}/p0=_root")
    // bound session still reads its observed snapshot: ordinal 1 absent
    assert(fsR.take(Seq(1L), Seq("name")).collect().isEmpty)
    // refresh invalidates the memos — the external row gains a fallback
    // ordinal and becomes reachable
    fsR.refresh()
    assert(fsR.take(Seq(1L), Seq("name")).collect()
      .map(_.getAs[String]("name")).toSeq == Seq("zzz.txt"))
  }

  test("repeated fallback takes pin ONE stamped copy; version change releases it") {
    import org.apache.spark.sql.functions.lit
    val fsP = CdlFs.open(spark, DatasetCatalog(),
      GlobalPath.parse(s"$root/ds-pin").toOption.get)
    val tree = s"$root/treeP"
    Files.createDirectories(Paths.get(tree))
    Files.write(Paths.get(s"$tree/a.txt"), "aaa".getBytes)
    Ingest.run(fsP, tree)
    // unstamped external append forces every take through the fallback
    fsP.table.filter(lit(false))
      .unionByName(spark.sql(
        """SELECT 'zzz.txt' AS name, '/' AS parent,
          |  CAST(NULL AS TIMESTAMP) atime, CAST(NULL AS TIMESTAMP) ctime,
          |  CAST(NULL AS TIMESTAMP) mtime, CAST(NULL AS INT) mode,
          |  CAST(3 AS BIGINT) size, CAST(0 AS BIGINT) chunk_id,
          |  CAST(0 AS BIGINT) chunk_offset, CAST(3 AS BIGINT) chunk_size,
          |  CAST('ext' AS BINARY) data, CAST(NULL AS BIGINT) row_id""".stripMargin))
      .write.mode("append").parquet(s"${fsP.tableLocation}/p0=_root")

    // track by RDD id SET DIFFERENCES: absolute counts are flaky because
    // the ContextCleaner may GC other tests' unreferenced pins mid-test
    def ids(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val base = ids()
    fsP.take(Seq(0L), Seq("name")).collect()
    val pin1 = ids() -- base
    assert(pin1.size == 1, pin1) // exactly one pinned stamp intermediate
    fsP.take(Seq(1L), Seq("name")).collect()
    fsP.take(Seq(0L), Seq("name")).collect()
    // pre-r3 shape: each take pinned a FRESH copy (+1 per call)
    assert((ids() -- base) == pin1)

    // a committed append bumps the version: the superseded pin is
    // RETIRED, not unpersisted (external-writer refreshes — where Spark
    // cannot know the directory changed — must keep serving live lazy
    // frames from the old pin; see refresh()). For THIS same-session
    // append, Spark itself recaches cached plans touching the written
    // path (refreshByPath after the parquet commit), so pin1's concrete
    // RDD id may be dropped/replaced by Spark here — only the new
    // version's fresh stamp is asserted by id, and close() must leave
    // none of ours behind.
    val tree2 = s"$root/treeP2"
    Files.createDirectories(Paths.get(tree2))
    Files.write(Paths.get(s"$tree2/b.txt"), "bb".getBytes)
    Ingest.run(fsP, tree2)
    val got = fsP.take(Seq(0L), Seq("name")).collect()
    assert(got.nonEmpty)
    val pins = ids() -- base
    assert(pins.nonEmpty, pins)        // fresh stamp for the new version
    // close() releases current + retired pins once no frame is live
    fsP.close()
    assert((ids() & (pins ++ pin1)).isEmpty)
  }

  test("copyTo keeps multi-generation chunks contiguous (export gets latest bytes)") {
    val fsG = CdlFs.open(spark, DatasetCatalog(maxChunkSize = 4),
      GlobalPath.parse(s"$root/ds-gen").toOption.get)
    val tree = s"$root/treeG"
    Files.createDirectories(Paths.get(tree))
    Files.write(Paths.get(s"$tree/f.bin"), "11112222".getBytes) // 2 chunks
    Ingest.run(fsG, tree)
    Files.write(Paths.get(s"$tree/f.bin"), "333344445555".getBytes) // 3 chunks
    Ingest.run(fsG, tree) // second generation of the same path
    // copy re-stamps: each generation's chunks must stay contiguous so
    // row_id - chunk_id still identifies generations
    Files.createDirectories(Paths.get(s"$root/ds-gen2/rootfs"))
    fsG.copyTo(GlobalPath.parse(s"$root/ds-gen2").toOption.get)
    val fsG2 = CdlFs.open(spark, DatasetCatalog(),
      GlobalPath.parse(s"$root/ds-gen2").toOption.get)
    val gens = fsG2.table
      .selectExpr("row_id - chunk_id AS g", "chunk_id")
      .collect().groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    assert(gens.values.toSeq.sorted == Seq(2, 3), gens) // two intact generations
    // export of the copy yields the LATEST generation's bytes
    val dest = s"$root/restore-gen"
    Export.dumpAll(fsG2, dest)
    assert(new String(Files.readAllBytes(Paths.get(s"$dest/f.bin"))) ==
      "333344445555")
    // a newer generation with FEWER chunks than the older ones, exported
    // onto the same destination: exactly its bytes and length remain
    Files.write(Paths.get(s"$tree/f.bin"), "66".getBytes) // 1 chunk
    Ingest.run(fsG, tree)
    Export.dumpAll(fsG, dest)
    assert(new String(Files.readAllBytes(Paths.get(s"$dest/f.bin"))) == "66")
  }

  test("commit log: each append is a version; time travel reads old snapshots") {
    val fsV = CdlFs.open(spark, DatasetCatalog(),
      GlobalPath.parse(s"$root/ds-ver").toOption.get)
    val treeA = s"$root/treeA"
    Files.createDirectories(Paths.get(treeA))
    Files.write(Paths.get(s"$treeA/a.txt"), "aaa".getBytes)
    Ingest.run(fsV, treeA)
    assert(fsV.versions == Seq(1))
    assert(fsV.tableAt(1).count() == 1)

    val treeB = s"$root/treeB"
    Files.createDirectories(Paths.get(treeB))
    Files.write(Paths.get(s"$treeB/b.txt"), "bbbb".getBytes)
    Ingest.run(fsV, treeB)
    assert(fsV.versions == Seq(1, 2))
    assert(fsV.tableAt(1).count() == 1) // snapshot unaffected by the append
    assert(fsV.tableAt(2).count() == 2)
    assert(fsV.table.count() == 2)
    assert(fsV.tableAt(1).select("name").collect().head.getString(0) == "a.txt")
    intercept[IllegalArgumentException] { fsV.tableAt(99) }
  }

  test("copyTo table dataset appends all rows") {
    // pre-create the rootfs dir so the destination counts as a table
    // dataset (a bare local dir would get a file dump instead — the
    // reference's local-destination semantics)
    Files.createDirectories(Paths.get(s"$root/ds2/rootfs"))
    val dst = GlobalPath.parse(s"$root/ds2").toOption.get
    fs.copyTo(dst)
    val fs2 = CdlFs.open(spark, fs.catalog, dst)
    assert(fs2.table.count() == 7)
  }

  /** The parquet scans a frame plans (planning runs no job). */
  private def scans(df: DataFrame): Seq[FileSourceScanExec] =
    df.queryExecution.sparkPlan.collect { case s: FileSourceScanExec => s }

  test("flat external table: no p0 dirs, no row_id column, reads through the pinned schema") {
    // an external engine's table: the 11 reference columns, no row_id,
    // written straight into tableLocation with no partition directories
    val fsF = externalTable("ds-flat",
      """('b.txt', '/', 2L, 0L, 0L, 2L, 'bb'),
        |('a.txt', '/', 1L, 0L, 0L, 1L, 'a'),
        |('c.bin', '/d', 5L, 0L, 0L, 3L, 'ccc'),
        |('c.bin', '/d', NULL, 1L, 3L, 2L, 'cc')""".stripMargin)
    assert(fsF.table.columns.toSeq == RootFs.schema.fieldNames.toSeq)
    assert(fsF.table.filter(col("row_id").isNull).count() == 4)
    def names(df: DataFrame) = df.collect().map(_.getAs[String]("name")).toSeq
    assert(names(fsF.readDir("/")) == Seq("a.txt", "b.txt"))
    assert(names(fsF.readDir("/d")) == Seq("c.bin"))
    assert(names(fsF.readDirAll()) == Seq("a.txt", "b.txt", "c.bin"))
    assert(fsF.sql("SELECT count(*) FROM rootfs").collect().head.getLong(0) == 4)
    assert(fsF.sql("SELECT sum(len(data)) FROM rootfs WHERE parent = '/d'")
      .collect().head.getLong(0) == 5)
    // fallback ordinal, (parent, name, chunk_id) order: a, b, c#0, c#1
    assert(fsF.take(Seq(1L, 3L), Seq("name", "chunk_id")).orderBy("row_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq ==
      Seq((1L, "b.txt", 0L), (3L, "c.bin", 1L)))
    assert(scans(fsF.readDir("/")).forall(_.relation.partitionSchema.isEmpty))
    // an ingested table keeps its p0 partition column, and readDir
    // prunes on it
    val partitioned = scans(fs.readDir("/"))
    assert(partitioned.map(_.relation.partitionSchema.fieldNames.toSeq) == Seq(Seq("p0")))
    assert(partitioned.head.partitionFilters.exists(_.references.exists(_.name == "p0")))
  }

  test("building read frames on a committed table starts no Spark job") {
    val version = fs.versions.last // the lazy fixture ingests (jobs) first
    val (built, jobs) = jobsOf(Seq(fs.readDir("/"), fs.readDirAll(),
      fs.readFilesByCondition("name = 'small.txt'"),
      fs.sql("SELECT count(*) FROM rootfs"), fs.table, fs.tableAt(version)))
    assert(jobs.isEmpty, jobs)
    // a file-list read (tableAt) carries exactly the pinned columns
    assert(built.last.columns.toSeq == RootFs.schema.fieldNames.toSeq)
  }

  test("collecting a listing starts 2 Spark jobs: shuffle map + result, no sampler") {
    fs.versions // the lazy fixture ingests (jobs) first
    for (listing <- Seq(() => fs.readDir("/"), () => fs.readDirAll())) {
      val (rows, jobs) = jobsOf(listing().collect())
      assert(rows.nonEmpty)
      assert(jobs.size == 2, jobs)
    }
  }

  test("listings stay sorted across appends, files and p0 dirs") {
    val fsO = CdlFs.open(spark, DatasetCatalog(maxChunkSize = 4),
      GlobalPath.parse(s"$root/ds-order").toOption.get)
    val rnd = new scala.util.Random(7)
    // names interleave across appends (f0_0 < f0_1 < f1_0); files over 4
    // bytes add size-NULL chunk rows the listings must drop
    val written = for (k <- 0 until 3) yield {
      val tree = s"$root/order$k"
      val files = for {
        d <- Seq("", "/a", "/a/b", "/z")
        i <- rnd.shuffle((0 until 6).toList).take(4)
      } yield {
        Files.createDirectories(Paths.get(s"$tree$d"))
        Files.write(Paths.get(s"$tree$d/f${i}_$k.txt"),
          Array.fill[Byte](1 + rnd.nextInt(10))('x'))
        (if (d.isEmpty) "/" else d, s"f${i}_$k.txt")
      }
      Ingest.run(fsO, tree)
      files
    }
    val all = written.flatten
    assert(fsO.versions == Seq(1, 2, 3))
    def listed(df: DataFrame) = df.collect()
      .map(r => (r.getAs[String]("parent"), r.getAs[String]("name"))).toSeq
    assert(listed(fsO.readDirAll()) == all.sorted)
    for (d <- Seq("/", "/a", "/a/b", "/z"))
      assert(listed(fsO.readDir(d)) == all.filter(_._1 == d).sorted)
  }
}
