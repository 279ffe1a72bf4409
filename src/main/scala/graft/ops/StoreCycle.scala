package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.col

/** One hive-partitioned table of a persisted store: its directory under
  * the store root (`""` = the root itself), its partition column, the
  * columns the partition id hashes (`pmod(xxhash64(keys), store_parts)`;
  * empty where partitions are learned, not hashed — IVF cells), and the
  * id column retraction matches and the doc→bp index keys on. */
private[ops] final case class StoreTable(
    rel: String, partCol: String, keys: Seq[String], idCol: String) {
  def dir(storeDir: String): String = if (rel.isEmpty) storeDir else s"$storeDir/$rel"

  /** Bucketed on its own id column: a takedown computes the candidate
    * partitions from the ids themselves, so no doc index is needed. */
  def idHashed: Boolean = keys == Seq(idCol)
}

/** The physical layout of one store variant: its tables, in the order
  * cycles read, retract and compact them, and the md5-derived key column
  * of the exact/span stores (hex on legacy stores, 16-byte binary since).
  *
  * This is the ONE place a variant's layout is written down. The batch
  * cycles, `rebuildStore`, `compactStore`, `Retract.retract` and
  * `StoreFsck` all read it, so a pruned read and the rebuild that
  * re-buckets its store can never disagree on a bucket key (rows hashed
  * under other keys would be invisible to every pruned read). */
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
  private def bp(rel: String, keys: String*)(idCol: String) =
    StoreTable(rel, "bp", keys, idCol)

  /** Keyed by (variant, manifest `store_layout`); only embedding stores
    * come in a second, `split`, layout. */
  private val all: Map[(String, String), StoreLayout] = Seq(
    "inline" -> StoreLayout("exact", Seq(bp("", "digest")("keep_doc_id")), Some("digest")),
    "inline" -> StoreLayout("span", Seq(bp("", "wh")("keep_doc_id")), Some("wh")),
    "inline" -> StoreLayout("minhash", Seq(bp("", "band", "bh")("doc_id"))),
    "inline" -> StoreLayout("simhash", Seq(bp("", "band", "bh")("doc_id"))),
    "inline" -> StoreLayout("ngram", Seq(bp("", "shingle")("doc_id"))),
    "inline" -> StoreLayout("embedding", Seq(bp("", "tbl", "bucket")("vec_id"))),
    "split" -> StoreLayout("embedding", Seq(bp("postings", "tbl", "bucket")("vec_id"),
      bp("vectors", "vec_id")("vec_id"))),
    "inline" -> StoreLayout("bm25", Seq(bp("postings", "term")("doc_id"),
      bp("docs", "doc_id")("doc_id"))),
    "inline" -> StoreLayout("components", Seq(bp("labels", "v")("v"))),
    "inline" -> StoreLayout("ivf", Seq(StoreTable("assignments", "cell", Nil, "id")))
  ).map { case (layout, l) => (l.variant, layout) -> l }.toMap

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
    * partition count, the batch row count, and the data table as read. */
  final class Batch(
      val rows: DataFrame, val touched: Seq[Int], val parts: Int, val n: Long,
      keys: Seq[String], read: (DataFrame, Boolean)) {
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
    * lists further (dir, partitions) to check after the data table. */
  final case class Step(
      out: DataFrame, index: DataFrame, novel: DataFrame,
      alsoCompact: Seq[(String, Seq[Int])] = Nil)

  /** One variant's part of the cycle: its layout, the raw rows to bucket,
    * the data table's DDL, the manifest constants (given the batch row
    * count, which creation-time sizing may need), and the step. */
  final case class Family(
      layout: StoreLayout, raw: DataFrame, ddl: String,
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
      IncrementalDedup.checkOrWriteMeta(spark, storeDir,
        Map("variant" -> f.layout.variant, "store_parts" -> parts.toString) ++
          f.meta(n) ++
          (if (mParts.isEmpty) Map("doc_index" -> "1",
            "doc_index_parts" -> dpParts.toString) else Map.empty))
      val dataDir = table.dir(storeDir)
      val step = f.step(new Batch(rows, touched, parts, n, table.keys,
        IncrementalDedup.readStore(spark, dataDir, f.ddl)))
      if (docIdx)
        IncrementalDedup.appendDocIndex(step.index, dataDir, table.idCol, dpParts)
      IncrementalDedup.appendStore(step.novel, dataDir,
        IncrementalDedup.appendWidth(touched, parts))
      if (compactFiles > 0)
        ((dataDir, touched) +: step.alsoCompact).foreach { case (d, ps) =>
          if (ps.nonEmpty)
            IncrementalDedup.maybeCompactLocked(spark, d, ps, compactFiles)
        }
      step.out
    }
  }
}
