package perfbench

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.PosixFilePermissions

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}

import graft.core.{DatasetCatalog, GlobalPath}
import graft.fs.{CdlFs, CommitLog, Ingest}

/** A generated file and the bytes and mode it holds. */
final case class TreeFile(parent: String, name: String, bytes: Array[Byte],
    mode: String)

/** lake: one rootfs dataset that is read and appended to by one client,
  * beside a sample of the stateless query battery.
  *
  * Base tree, ingested at set-up: 2,000 small text files (generated
  * document texts, 44–600 bytes, mode 644) over 8 top directories ×
  * 8 subdirectories (64 leaf directories, ~31 files each), plus 20 random
  * binaries of 2, 2.0625, ..., 3.1875 MiB under /bin. `max_chunk_size` is
  * 256 KiB, so every binary spans 8–13 chunk rows. About 53 MB in all;
  * sizes do not depend on the seed, contents do.
  *
  * A round is 53 ops. 51 come in a seeded order: the three [[Battery]]
  * queries, and 48 rootfs ops. Three of those are append cycles: a fresh
  * seeded batch (40 document-text files over two directories, every 4th
  * with mode 755, plus one 512 KiB random binary) is written under
  * `/c<k>`, ingested with `Ingest.run`, and read back with `readDir` and
  * `readFilesByCondition`. The other 45 read the whole, growing dataset,
  * 15 per cycle: 6 `readDir`, 1 `readDirAll`, 4 single-file and 1 binary
  * `readFilesByCondition`, 1 `take` of 20 rows and 2 `sql` aggregates
  * over `len(data)`. The listings and single-file reads, the fastest
  * kinds, are more than half of all ops, so the median op falls among
  * them and not on the edge to the slower kinds, where it would jump
  * from run to run. The round ends with two more: the dataset is
  * exported with `copyTo` to a local directory (Export.dumpAll), and
  * compacted with `CdlFs.compact`.
  *
  * Every rootfs result is checked against the generated files:
  * listings, bytes, take rows in row_id order, SQL counts and lengths,
  * and the export's bytes and modes. The battery's results are checked by
  * the DuckDB oracle (see [[Battery]]).
  */
final class LakeWl(spark: SparkSession, seed: Long, inputs: Path, work: Path)
    extends Workload(spark, seed, inputs) {
  val BaseFiles = 2000
  val Binaries = 20
  val MaxChunk: Long = 256L * 1024
  val BatchFiles = 40
  val CyclesPerRound = 3

  private var docs: IndexedSeq[(Long, String)] = IndexedSeq.empty
  private var root: Path = _
  private var fs: CdlFs = _
  private val files = ArrayBuffer.empty[TreeFile]
  /** Expected (parent, name, chunk_id) of every row, in row_id order. */
  private val rowOrder = ArrayBuffer.empty[(String, String, Long)]
  private var dirs = IndexedSeq.empty[String]
  private var cycle = 0
  private var ingested = 0L
  private val battery = new Battery(spark, inputs)

  override def prepare(): Unit = {
    battery.writeChecks(work.resolve("verify"))
    docs = spark.read.parquet(inputs.resolve("documents.parquet").toString)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toIndexedSeq
  }

  private def randomBytes(rnd: Random, n: Int): Array[Byte] = {
    val b = new Array[Byte](n)
    rnd.nextBytes(b)
    b
  }

  /** Writes `batch` to its own source tree, ingests it, and records the
    * rows the append must stamp. */
  private def ingest(batch: Seq[TreeFile], ops: Ops): Unit = {
    val src = root.resolve(s"src/$cycle")
    batch.foreach { f =>
      val p = src.resolve(f.parent.stripPrefix("/")).resolve(f.name)
      Files.createDirectories(p.getParent)
      Files.write(p, f.bytes)
      Files.setPosixFilePermissions(p, PosixFilePermissions.fromString(f.mode))
    }
    Trace.span("fs.ingest_run")(Ingest.run(fs, src.toString))
    files ++= batch
    rowOrder ++= batch.sortBy(f => (f.parent, f.name)).flatMap { f =>
      val chunks = math.max(1L, (f.bytes.length + MaxChunk - 1) / MaxChunk)
      (0L until chunks).map(c => (f.parent, f.name, c))
    }
    dirs = files.map(_.parent).distinct.sorted.toIndexedSeq
    val n = batch.map(_.bytes.length.toLong).sum
    ingested += n
    ops.userBytes += n
    ops.filesIngested += batch.size
    cycle += 1
  }

  override def build(dir: Path): Unit = {
    root = dir
    val rnd = new Random(seed)
    val small = (0 until BaseFiles).map { i =>
      TreeFile(s"/d${rnd.nextInt(8)}/s${rnd.nextInt(8)}", s"doc_$i.txt",
        docs(i % docs.size)._2.getBytes("UTF-8"), "rw-r--r--")
    }
    val bins = (0 until Binaries).map { i =>
      TreeFile("/bin", s"blob_$i.bin", randomBytes(rnd, (2 << 20) + i * (64 << 10)),
        "rw-r--r--")
    }
    fs = CdlFs.open(spark, DatasetCatalog(maxChunkSize = MaxChunk),
      dir.resolve("dataset").toString)
    ingest(small ++ bins, new Ops)
  }

  def warmUp(): Unit = {
    val warm = new Ops
    mix(warm, -1, 1, withBattery = false)
    check(warm.failures == 0, s"warm-up ops failed: ${warm.failed}")
  }

  private def batch(rnd: Random): Seq[TreeFile] = {
    val k = cycle
    (0 until BatchFiles).map { i =>
      val (id, text) = docs(rnd.nextInt(docs.size))
      TreeFile(if (i % 2 == 0) s"/c$k" else s"/c$k/sub", s"f${i}_$id.txt",
        text.getBytes("UTF-8"), if (i % 4 == 3) "rwxr-xr-x" else "rw-r--r--")
    } :+ TreeFile(s"/c$k", "blob.bin", randomBytes(rnd, 512 << 10), "rw-r--r--")
  }

  private def payload(rows: Array[Row]): Array[Byte] =
    rows.sortBy(_.getAs[Long]("chunk_id")).flatMap(_.getAs[Array[Byte]]("data"))

  private def same(a: Array[Byte], b: Array[Byte]) = java.util.Arrays.equals(a, b)

  private def listing(p: String) = files.filter(_.parent == p).map(_.name).sorted.toSeq

  def round(ops: Ops, r: Int): Unit = mix(ops, r, CyclesPerRound, withBattery = true)

  /** `cycles` append cycles, 15 reads per cycle and the battery queries
    * in a seeded order, then the export and the compaction. The warm-up
    * leaves out the battery, which `prepare` has already run. */
  private def mix(ops: Ops, r: Int, cycles: Int, withBattery: Boolean): Unit = {
    val rnd = new Random(seed * 1000003L + r)
    val kinds = rnd.shuffle(Seq.fill(cycles)(Seq("ingest_cycle", "read_dir",
      "read_dir", "read_dir", "read_dir", "read_dir", "read_dir", "read_dir_all",
      "read_files", "read_files", "read_files", "read_files", "read_binary",
      "take", "sql_dir", "sql_all")).flatten ++
      (if (withBattery) battery.Sample else Nil))
    kinds.foreach {
      case q if battery.Sample.contains(q) => ops(q)(battery.run(q))
      case "ingest_cycle" =>
        val b = batch(rnd)
        val k = cycle
        ops("ingest_cycle") {
          ingest(b, ops)
          (Trace.span("fs.read_dir")(fs.readDir(s"/c$k").collect()),
            Trace.span("fs.read_files")(
              fs.readFilesByCondition(s"parent = '/c$k' OR parent = '/c$k/sub'").collect()))
        }.foreach { case (listed, rows) =>
          ops.rowsReturned += listed.length + rows.length
          check(listed.map(_.getAs[String]("name")).toSeq == listing(s"/c$k"),
            s"readDir(/c$k) after append differs")
          val got = rows.groupBy(r => (r.getAs[String]("parent"), r.getAs[String]("name")))
            .map { case (key, rs) => key -> payload(rs) }
          check(got.size == b.size &&
            b.forall(f => got.get((f.parent, f.name)).exists(same(_, f.bytes))),
            s"readFilesByCondition(/c$k) after append differs")
        }
      case "read_dir" =>
        val p = dirs(rnd.nextInt(dirs.size))
        ops("read_dir")(Trace.span("fs.read_dir")(fs.readDir(p).collect())).foreach { rows =>
          ops.rowsReturned += rows.length
          check(rows.map(_.getAs[String]("name")).toSeq == listing(p), s"readDir($p) differs")
        }
      case "read_dir_all" =>
        ops("read_dir_all")(Trace.span("fs.read_dir_all")(fs.readDirAll().collect()))
          .foreach { rows =>
            ops.rowsReturned += rows.length
            check(rows.map(r => (r.getAs[String]("parent"), r.getAs[String]("name"))).toSeq ==
              files.map(f => (f.parent, f.name)).sorted.toSeq, "readDirAll differs")
          }
      case kind @ ("read_files" | "read_binary") =>
        val pool = files.filter(f => (f.bytes.length > MaxChunk) == (kind == "read_binary"))
        val f = pool(rnd.nextInt(pool.size))
        val cond = s"parent = '${f.parent}' AND name = '${f.name}'"
        ops(kind)(Trace.span("fs.read_files")(fs.readFilesByCondition(cond).collect()))
          .foreach { rows =>
            ops.rowsReturned += rows.length
            val got = payload(rows)
            ops.userBytes += got.length
            check(same(got, f.bytes), s"readFilesByCondition($cond) bytes differ")
          }
      case "take" =>
        val ids = Seq.fill(20)(rnd.nextInt(rowOrder.size).toLong).distinct
        ops("take")(Trace.span("fs.take")(
          fs.take(ids, Seq("parent", "name", "chunk_id")).collect())).foreach { rows =>
          ops.rowsReturned += rows.length
          val got = rows.map(r => r.getLong(0) -> (r.getString(1), r.getString(2), r.getLong(3))).toMap
          check(got.keySet == ids.toSet && ids.forall(i => got(i) == rowOrder(i.toInt)),
            s"take($ids) rows differ")
        }
      case "sql_dir" =>
        val p = dirs(rnd.nextInt(dirs.size))
        ops("sql")(Trace.span("fs.sql")(fs.sql(
          s"SELECT count(*) AS n, sum(len(data)) AS b FROM rootfs WHERE parent = '$p'")
          .collect())).foreach { rows =>
          ops.rowsReturned += rows.length
          check(rows.length == 1 && rows(0).getLong(0) == rowOrder.count(_._1 == p) &&
            rows(0).getLong(1) == files.filter(_.parent == p).map(_.bytes.length.toLong).sum,
            s"sql count/len over $p differs")
        }
      case "sql_all" =>
        ops("sql")(Trace.span("fs.sql")(fs.sql(
          "SELECT parent, count(*) AS n, sum(len(data)) AS b FROM rootfs GROUP BY parent")
          .collect())).foreach { rows =>
          ops.rowsReturned += rows.length
          val want = files.groupBy(_.parent).map { case (p, fp) =>
            p -> (rowOrder.count(_._1 == p).toLong, fp.map(_.bytes.length.toLong).sum)
          }
          check(rows.map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap == want,
            "sql per-parent count/len differs")
        }
    }
    exportAndCompact(ops)
  }

  /** Exports the dataset, checks every file's bytes and mode, compacts. */
  private def exportAndCompact(ops: Ops): Unit = {
    val out = root.resolve(s"export/$cycle")
    ops("export")(Trace.span("fs.export")(
      fs.copyTo(GlobalPath.parse(out.toString).toOption.get))).foreach { _ =>
      val bad = files.filterNot { f =>
        val p = out.resolve(f.parent.stripPrefix("/")).resolve(f.name)
        Files.exists(p) && same(Files.readAllBytes(p), f.bytes) &&
          PosixFilePermissions.toString(Files.getPosixFilePermissions(p)) == f.mode
      }
      ops.userBytes += files.map(_.bytes.length.toLong).sum
      check(bad.isEmpty, s"export round-trip differs for ${bad.size} files, " +
        s"e.g. ${bad.headOption.map(f => f.parent + "/" + f.name)}")
    }
    org.apache.hadoop.fs.FileUtil.fullyDelete(out.toFile)
    ops("compact")(Trace.span("fs.compact")(fs.compact()))
  }

  override def storedBytes: Option[Long] = Some(Main.du(Paths.get(fs.tableLocation))._1)
  override def storedUserBytes: Long = ingested
  override def layerCounts: Map[String, Double] = Map(
    "fs.table_data_files" -> CommitLog.dataFiles(fs.tableLocation).size.toDouble,
    "fs.table_versions" -> fs.versions.size.toDouble)
}
