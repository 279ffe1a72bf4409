package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** One hive-partitioned table of a persisted store: its directory under
  * the store root (`""` = the root itself), its partition column, the
  * columns the partition id hashes (`pmod(xxhash64(keys), store_parts)`;
  * empty where partitions are learned, not hashed — IVF cells), the id
  * column retraction matches and the doc→bp index keys on, and its data
  * columns as DDL, given the store's manifest. `columns` is `None` for
  * the one table without a pinned schema, the IVF assignments (see
  * `IvfIndex.assignmentsDf`): [[ddl]], [[schema]], [[read]] and
  * [[readRaw]] throw on it. */
private[ops] final case class StoreTable(
    rel: String, partCol: String, keys: Seq[String], idCol: String,
    columns: Option[Map[String, String] => String]) {
  def dir(storeDir: String): String = if (rel.isEmpty) storeDir else s"$storeDir/$rel"

  /** Bucketed on its own id column: a takedown computes the candidate
    * partitions from the ids themselves, so no doc index is needed. */
  def idHashed: Boolean = keys == Seq(idCol)

  /** The table's schema under `manifest`, partition column last. */
  def ddl(manifest: Map[String, String]): String = columns.fold(
    throw new UnsupportedOperationException(s"$rel has no pinned schema"))(
    c => s"${c(manifest)}, $partCol INT")

  def schema(manifest: Map[String, String]): StructType = StructType.fromDDL(ddl(manifest))

  /** Whether the table of the store at `storeDir` holds live rows: the
    * pointer's live partitions, or else any `<partCol>=` directory. */
  def holdsData(spark: SparkSession, storeDir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir(storeDir))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (graft.fs.PartitionPointer.active(fs, p)) graft.fs.PartitionPointer.hasLive(fs, p)
    else fs.exists(p) && fs.listStatus(p).exists(_.getPath.getName.startsWith(s"$partCol="))
  }

  /** The table's live rows with its pinned schema, and whether it holds
    * any (an empty frame of the schema when not, so joins stay typed).
    * Pointer stores resolve their pointer: a blind listing would miss
    * the versioned generations. No schema-inference job is started.
    * Lock-free: it runs no sweep (see [[read]]). */
  def readRaw(spark: SparkSession, storeDir: String,
      manifest: Map[String, String]): (DataFrame, Boolean) = {
    val d = dir(storeDir)
    val s = schema(manifest)
    graft.fs.PartitionPointer.readDf(spark, d, Some(s)).getOrElse(
      if (holdsData(spark, storeDir)) (spark.read.schema(s).parquet(d), true)
      else (spark.createDataFrame(spark.sparkContext.emptyRDD[Row], s), false))
  }

  /** [[readRaw]] after healing a crashed retraction of the table — for
    * callers holding the store lock. Lock-free readers heal through
    * their family's ensureReadable instead. */
  def read(spark: SparkSession, storeDir: String,
      manifest: Map[String, String]): (DataFrame, Boolean) = {
    Retract.sweep(spark, dir(storeDir))
    readRaw(spark, storeDir, manifest)
  }
}

/** The physical layout of one store variant: its tables, in the order
  * cycles read, retract and compact them, and the md5-derived key column
  * of the exact/span stores (hex on legacy stores, 16-byte binary since).
  *
  * This is the ONE place a variant's layout and its tables' schemas are
  * written down. The batch cycles, `rebuildStore`, `compactStore`,
  * `Retract.retract` and `StoreFsck` all read it, so a pruned read and
  * the rebuild that re-buckets its store can never disagree on a bucket
  * key (rows hashed under other keys would be invisible to every pruned
  * read), and every reader reads a table with the one schema its writers
  * write. */
private[ops] final case class StoreLayout(
    variant: String, tables: Seq[StoreTable], md5Key: Option[String] = None) {
  /** The table a batch cycle prunes, appends to and compacts. */
  def data: StoreTable = tables.head

  /** The table the doc→bp retraction index lives under: the first one
    * bucketed on content rather than on its id (none for the components
    * labels and the IVF cells). */
  def indexed: Option[StoreTable] = tables.find(t => t.keys.nonEmpty && !t.idHashed)
}

private[ops] object StoreLayout {
  private def bp(rel: String, keys: String*)(idCol: String)(
      columns: Map[String, String] => String) =
    StoreTable(rel, "bp", keys, idCol, Some(columns))

  /** The md5-derived key: 16-byte binary, or hex on legacy stores whose
    * manifest predates `key_encoding`. */
  private def md5(mf: Map[String, String]): String =
    if (IncrementalDedup.keyEncodingOf(mf)._1) "BINARY" else "STRING"

  /** The `vec_type`s embedding stores are written with. */
  val VecTypes: Set[String] = Set("float", "double")

  /** Embedding vectors rest at the manifest's `vec_type`; stores older
    * than the key are double. */
  private def vec(mf: Map[String, String]): String =
    s"ARRAY<${mf.getOrElse("vec_type", "double").toUpperCase}>"

  /** Keyed by (variant, manifest `store_layout`); only embedding stores
    * come in a second, `split`, layout. */
  private val all: Map[(String, String), StoreLayout] = Seq(
    "inline" -> StoreLayout("exact", Seq(bp("", "digest")("keep_doc_id")(mf =>
      s"digest ${md5(mf)}, keep_doc_id BIGINT")), Some("digest")),
    "inline" -> StoreLayout("span", Seq(bp("", "wh")("keep_doc_id")(mf =>
      s"wh ${md5(mf)}, keep_doc_id BIGINT, keep_pos BIGINT")), Some("wh")),
    "inline" -> StoreLayout("minhash", Seq(bp("", "band", "bh")("doc_id")(_ =>
      "doc_id BIGINT, sig ARRAY<BIGINT>, band INT, bh BIGINT"))),
    "inline" -> StoreLayout("simhash", Seq(bp("", "band", "bh")("doc_id")(_ =>
      "doc_id BIGINT, simhash BIGINT, band INT, bh BIGINT"))),
    "inline" -> StoreLayout("ngram", Seq(bp("", "shingle")("doc_id")(_ =>
      "doc_id BIGINT, shingle BIGINT, nsh BIGINT"))),
    "inline" -> StoreLayout("embedding", Seq(bp("", "tbl", "bucket")("vec_id")(mf =>
      s"vec_id BIGINT, vec ${vec(mf)}, tbl INT, bucket BIGINT"))),
    "split" -> StoreLayout("embedding", Seq(
      bp("postings", "tbl", "bucket")("vec_id")(_ => "vec_id BIGINT, tbl INT, bucket BIGINT"),
      bp("vectors", "vec_id")("vec_id")(mf => s"vec_id BIGINT, vec ${vec(mf)}"))),
    "inline" -> StoreLayout("bm25", Seq(
      bp("postings", "term")("doc_id")(_ => "term STRING, doc_id BIGINT, dl DOUBLE, tf DOUBLE"),
      bp("docs", "doc_id")("doc_id")(_ => "doc_id BIGINT, dl DOUBLE"))),
    "inline" -> StoreLayout("components", Seq(bp("labels", "v")("v")(_ =>
      "v BIGINT, component BIGINT"))),
    // IVF keeps no pinned schema: its id and vec types follow the caller,
    // and older indexes lack the `code` column (IvfIndex.assignmentsDf)
    "inline" -> StoreLayout("ivf", Seq(StoreTable("assignments", "cell", Nil, "id", None)))
  ).map { case (layout, l) => (l.variant, layout) -> l }.toMap

  /** The doc→bp retraction index (`_doc_index/` under the indexed table's
    * directory, which stands in for the store root here): one (doc_id, bp)
    * row per partition a doc's rows land in, partitioned by
    * `dp = pmod(xxhash64(doc_id), doc_index_parts)`. */
  val docIndex: StoreTable = StoreTable(IncrementalDedup.DocIndexDir, "dp",
    Seq("doc_id"), "doc_id", Some(_ => "doc_id BIGINT, bp INT"))

  def named(variant: String, layout: String = "inline"): StoreLayout =
    all((variant, layout))

  /** The layout a store's manifest names, if it is a known one. */
  def of(manifest: Map[String, String]): Option[StoreLayout] =
    all.get((manifest.getOrElse("variant", ""),
      manifest.getOrElse("store_layout", "inline")))
}

/** The locked batch cycle the dedup-family stores share (exact, span,
  * minhash, simhash, ngram, embedding). A variant supplies only its
  * compute ([[StoreCycle.Family]]); the cycle owns everything else, in
  * this order:
  *
  *  1. the store lock, held for the whole cycle;
  *  2. ONE manifest read — creation is "no `store_parts` in it";
  *  3. geometry ([[IncrementalDedup.resolveGeometry]]) on the layout's
  *     bucket keys;
  *  4. the manifest check or creation write, with the doc-index stamp;
  *  5. the swept store read, pruned to the touched partitions;
  *  6. the family step, which materializes its result before returning;
  *  7. the crash-ordered tail: doc index BEFORE the store rows it covers
  *     (the superset rule), the width-hinted append, then the
  *     fragmentation check. */
private[ops] object StoreCycle {

  /** What a family step sees: the batch rows (checkpointed, carrying
    * `bp`), the partitions they touch (empty on creation), the store's
    * partition count, the batch row count, the manifest as the cycle
    * committed it (what every table of the store is read with), and the
    * data table as read. */
  final class Batch(
      val rows: DataFrame, val touched: Seq[Int], val parts: Int, val n: Long,
      val manifest: Map[String, String], keys: Seq[String],
      read: (DataFrame, Boolean)) {
    /** The stored rows of partitions `ps` (an empty frame on creation). */
    def pruned(ps: Seq[Int]): DataFrame =
      if (read._2) IncrementalDedup.prune(read._1, ps) else read._1.drop("bp")

    /** The stored rows of the partitions the batch touches: a complete
      * witness for every key the batch holds. */
    lazy val store: DataFrame = pruned(touched)

    /** The whole data table, `bp` included, when it holds data. */
    def stored: Option[DataFrame] = if (read._2) Some(read._1) else None

    /** `bp` of a derived row, from the layout's bucket keys. */
    def bp: Column = IncrementalDedup.bpOf(parts, keys.map(col): _*)
  }

  /** A family step's output: `out` is the caller's result, already
    * materialized (the appends rewrite the directory its plan reads);
    * `index` carries the data table's id column and `bp` for the doc
    * index; `novel` is the rows to append, carrying `bp`; `alsoCompact`
    * lists further (table, partitions) to check after the data table. */
  final case class Step(
      out: DataFrame, index: DataFrame, novel: DataFrame,
      alsoCompact: Seq[(StoreTable, Seq[Int])] = Nil)

  /** One variant's part of the cycle: its layout, the raw rows to bucket,
    * the manifest constants (given the batch row count, which
    * creation-time sizing may need), and the step. */
  final case class Family(
      layout: StoreLayout, raw: DataFrame,
      meta: Long => Map[String, String], step: Batch => Step)

  /** Run one locked cycle of the family `family(manifest)` builds. */
  def run(docs: DataFrame, storeDir: String, requestedParts: Int,
      compactFiles: Int)(family: Map[String, String] => Family): DataFrame = {
    val spark = docs.sparkSession
    graft.fs.StoreLock.withLock(storeDir, spark.sparkContext.hadoopConfiguration) {
      val mf = IncrementalDedup.storeManifest(spark, storeDir)
      val mParts = mf.get("store_parts").map(_.toInt)
      val f = family(mf)
      val table = f.layout.data
      val (rows, touched, parts, n) = IncrementalDedup.resolveGeometry(
        IncrementalDedup.knownPartsFrom(mParts, requestedParts), f.raw,
        table.keys.map(col))
      // doc→bp retraction index: stamped at creation, adopted thereafter
      // (a pre-index legacy store keeps full-scan takedown discovery)
      val docIdx = mParts.isEmpty || IncrementalDedup.docIndexEnabled(mf)
      val dpParts = mf.get("doc_index_parts").map(_.toInt)
        .getOrElse(IncrementalDedup.dpPartsFor(parts))
      val meta = Map("variant" -> f.layout.variant, "store_parts" -> parts.toString) ++
        f.meta(n) ++
        (if (mParts.isEmpty) Map("doc_index" -> "1",
          "doc_index_parts" -> dpParts.toString) else Map.empty)
      IncrementalDedup.checkOrWriteMeta(spark, storeDir, meta)
      // on creation the manifest is `meta` itself; after it, the check
      // has just proven every key of `meta` equal to the stored one
      val committed = mf ++ meta
      val step = f.step(new Batch(rows, touched, parts, n, committed, table.keys,
        table.read(spark, storeDir, committed)))
      val dataDir = table.dir(storeDir)
      if (docIdx)
        IncrementalDedup.appendDocIndex(step.index, dataDir, table.idCol, dpParts)
      IncrementalDedup.appendStore(step.novel, dataDir,
        IncrementalDedup.appendWidth(touched, parts))
      if (compactFiles > 0)
        ((table, touched) +: step.alsoCompact).foreach { case (t, ps) =>
          if (ps.nonEmpty)
            IncrementalDedup.maybeCompactLocked(spark, storeDir, t, committed,
              ps, compactFiles)
        }
      step.out
    }
  }
}
