package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, xxhash64}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.sketch.BloomFilter

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
    * [[StoreLayout.heal]] instead. */
  def read(spark: SparkSession, storeDir: String,
      manifest: Map[String, String]): (DataFrame, Boolean) = {
    Retract.sweep(spark, dir(storeDir))
    readRaw(spark, storeDir, manifest)
  }
}

/** An existence-bloom sidecar over one key of a store's data table:
  * ngram's `_gram_bloom` over shingles, bm25's `_term_bloom` over term
  * hashes. Its (cap, bits) ride the manifest under `capKey`/`bitsKey`,
  * so every batch builds merge-compatible blooms; a legacy store whose
  * manifest lacks them keeps no sidecar. A batch's keys fold in BEFORE
  * the append they cover, so the bloom is a superset of the stored keys
  * at every instant: a miss is definitive absence, a false positive
  * costs only a pruned scan. A crash between the sidecar write's delete
  * and rename leaves it missing; the next locked cycle re-derives it. */
private[ops] final case class BloomSidecar(
    file: String, key: Column, capKey: String, bitsKey: String) {

  /** The geometry a creation manifest records: sized from the creation
    * batch's `rows` (an upper bound on its distinct keys) with 4×
    * headroom. Empty on an existing store, which keeps its own. */
  def meta(manifest: Map[String, String], rows: Long): Map[String, String] =
    if (manifest.contains("store_parts")) Map.empty
    else {
      val (c, b) = IncrementalDedup.gramBloomGeometry(math.max(1L, rows))
      Map(capKey -> c.toString, bitsKey -> b.toString)
    }

  /** (cap, bits) of a committed manifest; None on a keyless legacy store. */
  private def geometry(manifest: Map[String, String]): Option[(Long, Long)] =
    for (c <- manifest.get(capKey); b <- manifest.get(bitsKey))
      yield (c.toLong, b.toLong)

  /** A bloom over the keys of `rows` (which must hold at least one row:
    * Spark's bloom aggregate fails on an empty frame). */
  private def derive(rows: DataFrame, cap: Long, bits: Long): BloomFilter =
    rows.stat.bloomFilter(key, cap, bits)

  /** Write a tight sidecar over `rows` (which hold data), sized fresh
    * from their count — the rebuild and repair path; returns the
    * geometry's manifest keys. */
  def rederive(rows: DataFrame, storeDir: String): Map[String, String] = {
    val (c, b) = IncrementalDedup.gramBloomGeometry(math.max(1L, rows.count()))
    IncrementalDedup.writeBloomSidecar(rows.sparkSession, storeDir, file, derive(rows, c, b))
    Map(capKey -> c.toString, bitsKey -> b.toString)
  }

  /** The stored bloom, or one re-derived from the whole data table when
    * the sidecar is missing; None when the table is empty. */
  private def stored(b: StoreCycle.Batch, storeDir: String,
      cap: Long, bits: Long): Option[Array[Byte]] =
    b.stored.map(whole => IncrementalDedup.readBloomSidecar(
      b.rows.sparkSession, storeDir, file).getOrElse(
      IncrementalDedup.bloomToBytes(derive(whole, cap, bits))))

  /** One batch's probe of the store: the stored rows of the partitions
    * holding a batch key the bloom does not deny (the touched partitions
    * on a keyless store). The batch's keys are folded into the sidecar
    * before this returns, so before the cycle's append. */
  def probe(b: StoreCycle.Batch, storeDir: String): DataFrame =
    geometry(b.manifest).fold(b.store) { case (cap, bits) =>
      val old = stored(b, storeDir, cap, bits)
      // an empty batch adds no key (and `derive` needs a row)
      if (b.n > 0L) {
        val batch = derive(b.rows, cap, bits)
        IncrementalDedup.writeBloomSidecar(b.rows.sparkSession, storeDir, file,
          old.fold(batch)(bytes => BloomFilter.readFrom(
            new java.io.ByteArrayInputStream(bytes)).mergeInPlace(batch)))
      }
      old.fold(b.store)(bytes => b.pruned(
        b.rows.filter(graft.functions.SketchExprs.bloomMightContain(key, bytes))
          .select("bp").distinct().collect().map(_.getInt(0)).toIndexedSeq))
    }

  /** Re-derive a missing sidecar, for a cycle that appends nothing and
    * so never reaches [[probe]]. A present sidecar is left as it is. */
  def heal(b: StoreCycle.Batch, storeDir: String): Unit =
    geometry(b.manifest).foreach { case (cap, bits) =>
      val spark = b.rows.sparkSession
      val p = new org.apache.hadoop.fs.Path(storeDir, file)
      if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
        b.stored.foreach(whole => IncrementalDedup.writeBloomSidecar(
          spark, storeDir, file, derive(whole, cap, bits)))
    }
}

/** The physical layout of one store variant: its tables, in the order
  * cycles read, retract and compact them, the md5-derived key column
  * of the exact/span stores (hex on legacy stores, 16-byte binary since),
  * its bloom sidecar, and the whole-table swap of its data table.
  *
  * This is the ONE place a variant's layout and its tables' schemas are
  * written down. The batch cycles, `rebuildStore`, `compactStore`,
  * `Retract.retract` and `StoreFsck` all read it, so a pruned read and
  * the rebuild that re-buckets its store can never disagree on a bucket
  * key (rows hashed under other keys would be invisible to every pruned
  * read), and every reader reads a table with the one schema its writers
  * write. */
private[ops] final case class StoreLayout(
    variant: String, tables: Seq[StoreTable], md5Key: Option[String] = None,
    bloom: Option[BloomSidecar] = None, swap: Option[TableSwap] = None) {
  /** The table a batch cycle prunes, appends to and compacts. */
  def data: StoreTable = tables.head

  /** The table the doc→bp retraction index lives under: the first one
    * bucketed on content rather than on its id (none for the components
    * labels and the IVF cells). */
  def indexed: Option[StoreTable] = tables.find(t => t.keys.nonEmpty && !t.idHashed)

  /** Finish or discard every crashed swap of the store at `storeDir`:
    * the whole-table swap, then each table's retraction. Caller holds the
    * store lock. */
  def sweep(spark: SparkSession, storeDir: String): Unit = {
    swap.foreach(_.sweep(spark, storeDir, data))
    tables.foreach(t => Retract.sweep(spark, t.dir(storeDir)))
  }

  /** [[sweep]], then finish a stranded arm of the data table: `armTail`
    * (bm25 recomputes its stats from the swept `docs/`), an epoch bump so
    * in-flight readers re-snapshot, then the clear. Caller holds the
    * store lock (the read-heal below, fsck repair). */
  def healLocked(spark: SparkSession, storeDir: String, armTail: () => Unit): Unit = {
    val dataDir = data.dir(storeDir)
    sweep(spark, storeDir)
    if (Retract.armBusy(spark, dataDir)) {
      armTail()
      Retract.bumpEpochAt(spark, dataDir)
      Retract.armClear(spark, dataDir)
    }
  }

  /** The read-heal of every lock-free reader (bm25 and IVF search, the
    * components label view). Normal reads only probe: a retraction
    * marker on any table, the data table's arm sentinel, or the swap
    * marker. When one is up, take the store lock briefly for
    * [[healLocked]]. A lock held by a live writer defers the heal: that
    * writer finishes its own swap, and the reader's seqlock waits for
    * it. Every other failure, such as a corrupt pointer or epoch,
    * surfaces. */
  def heal(spark: SparkSession, storeDir: String, armTail: () => Unit = () => ()): Unit =
    if (swap.exists(_.pending(spark, storeDir)) || Retract.armBusy(spark, data.dir(storeDir)) ||
        tables.exists(t => Retract.pending(spark, t.dir(storeDir))))
      try graft.fs.StoreLock.withLock(storeDir, spark.sparkContext.hadoopConfiguration) {
        healLocked(spark, storeDir, armTail)
      } catch { case _: graft.fs.StoreLockBusyException => () }
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
      "doc_id BIGINT, shingle BIGINT, nsh BIGINT")),
      bloom = Some(BloomSidecar("_gram_bloom", col("shingle"), "bloom_cap", "bloom_bits"))),
    "inline" -> StoreLayout("embedding", Seq(bp("", "tbl", "bucket")("vec_id")(mf =>
      s"vec_id BIGINT, vec ${vec(mf)}, tbl INT, bucket BIGINT"))),
    "split" -> StoreLayout("embedding", Seq(
      bp("postings", "tbl", "bucket")("vec_id")(_ => "vec_id BIGINT, tbl INT, bucket BIGINT"),
      bp("vectors", "vec_id")("vec_id")(mf => s"vec_id BIGINT, vec ${vec(mf)}"))),
    "inline" -> StoreLayout("bm25", Seq(
      bp("postings", "term")("doc_id")(_ => "term STRING, doc_id BIGINT, dl DOUBLE, tf DOUBLE"),
      bp("docs", "doc_id")("doc_id")(_ => "doc_id BIGINT, dl DOUBLE")),
      bloom = Some(BloomSidecar("_term_bloom", xxhash64(col("term")),
        "term_bloom_cap", "term_bloom_bits"))),
    "inline" -> StoreLayout("components", Seq(bp("labels", "v")("v")(_ =>
      "v BIGINT, component BIGINT")),
      swap = Some(TableSwap("_compact_ready", "_compact_tmp", "labels/_fold_tmp",
        dropAfter = Some("merges")))),
    // IVF keeps no pinned schema: its id and vec types follow the caller,
    // and older indexes lack the `code` column (IvfIndex.assignmentsDf)
    "inline" -> StoreLayout("ivf", Seq(StoreTable("assignments", "cell", Nil, "id", None)),
      swap = Some(TableSwap("_rebuild_ready", "_rebuild_tmp", "_rebuild_tmp",
        aux = Seq("centroids"))))
  ).map { case (layout, l) => (l.variant, layout) -> l }.toMap

  /** The doc→bp retraction index (`_doc_index/` under the indexed table's
    * directory, which stands in for the store root here): one (doc_id, bp)
    * row per partition a doc's rows land in, partitioned by
    * `dp = pmod(xxhash64(doc_id), doc_index_parts)`. */
  val docIndex: StoreTable = StoreTable(IncrementalDedup.DocIndexDir, "dp",
    Seq("doc_id"), "doc_id", Some(_ => "doc_id BIGINT, bp INT"))

  def named(variant: String, layout: String = "inline"): StoreLayout =
    all((variant, layout))

  /** Every table of every known layout: what a data-bearing directory
    * without a manifest may hold (the foreign-store guard). */
  val knownTables: Seq[StoreTable] =
    all.values.flatMap(_.tables).toSeq.distinctBy(t => (t.rel, t.partCol))

  /** The layout a store's manifest names, if it is a known one. */
  def of(manifest: Map[String, String]): Option[StoreLayout] =
    all.get((manifest.getOrElse("variant", ""),
      manifest.getOrElse("store_layout", "inline")))
}

/** The locked batch cycle every hashed store shares: exact, span,
  * minhash, simhash, ngram, embedding (inline and split), the bm25
  * index and the components labels. (The IVF index learns its cells,
  * so it has no geometry to resolve and runs its own cycle.) A family
  * supplies only its compute ([[StoreCycle.Family]]); the cycle owns
  * everything else, in this order:
  *
  *  1. the store lock, held for the whole cycle;
  *  2. ONE manifest read — creation is "no `store_parts` in it";
  *  3. geometry ([[IncrementalDedup.resolveGeometry]]) on the layout's
  *     bucket keys;
  *  4. the manifest check or creation write, with the doc-index stamp
  *     when the data table is the layout's indexed one;
  *  5. the swept store read, pruned to the touched partitions, on the
  *     step's first look (a step that never looks lists nothing);
  *  6. the family step, which materializes its result before returning;
  *  7. the crash-ordered tail: doc index BEFORE the store rows it covers
  *     (the superset rule), the width-hinted append, the step's
  *     post-append action (bm25: `docs/` then the stats totals;
  *     components: the merge log then its cap fold), then the
  *     fragmentation check. A step with nothing to append skips the
  *     writes and the check and runs only its post-append action. */
private[ops] object StoreCycle {

  /** What a family step sees: the batch rows (checkpointed, carrying
    * `bp`), the partitions they touch (empty on creation), the store's
    * partition count, the batch row count, the manifest as the cycle
    * committed it (what every table of the store is read with), and the
    * data table, read on first use. */
  final class Batch(
      val rows: DataFrame, val touched: Seq[Int], val parts: Int, val n: Long,
      val manifest: Map[String, String], keys: Seq[String],
      readTable: => (DataFrame, Boolean)) {
    /** The swept data table and whether it holds data. */
    lazy val read: (DataFrame, Boolean) = readTable

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
    * index (read only when the data table is indexed); `novel` is the
    * rows to append, carrying `bp`, or None when the batch adds nothing;
    * `alsoCompact` lists further (table, partitions) to check after the
    * data table; `after` runs once the data table's append is in. */
  final case class Step[A](
      out: A, index: DataFrame, novel: Option[DataFrame],
      alsoCompact: Seq[(StoreTable, Seq[Int])] = Nil,
      after: () => Unit = () => ())

  /** One variant's part of the cycle: its layout, the raw rows to bucket,
    * the manifest constants (given the batch row count, which
    * creation-time sizing may need), and the step. */
  final case class Family[A](
      layout: StoreLayout, raw: DataFrame,
      meta: Long => Map[String, String], step: Batch => Step[A])

  /** Run one locked cycle of the family `family(manifest)` builds. */
  def run[A](input: DataFrame, storeDir: String, requestedParts: Int,
      compactFiles: Int)(family: Map[String, String] => Family[A]): A = {
    val spark = input.sparkSession
    graft.fs.StoreLock.withLock(storeDir, spark.sparkContext.hadoopConfiguration) {
      val mf = IncrementalDedup.storeManifest(spark, storeDir)
      val mParts = mf.get("store_parts").map(_.toInt)
      val f = family(mf)
      val table = f.layout.data
      val (rows, touched, parts, n) = IncrementalDedup.resolveGeometry(
        IncrementalDedup.knownPartsFrom(mParts, requestedParts), f.raw,
        table.keys.map(col))
      // doc→bp retraction index: stamped at creation, adopted thereafter
      // (a pre-index legacy store keeps full-scan takedown discovery);
      // a table bucketed on its own id needs none
      val indexed = f.layout.indexed.contains(table)
      val docIdx = indexed && (mParts.isEmpty || IncrementalDedup.docIndexEnabled(mf))
      val dpParts = mf.get("doc_index_parts").map(_.toInt)
        .getOrElse(IncrementalDedup.dpPartsFor(parts))
      val meta = Map("variant" -> f.layout.variant, "store_parts" -> parts.toString) ++
        f.meta(n) ++
        (if (mParts.isEmpty && indexed) Map("doc_index" -> "1",
          "doc_index_parts" -> dpParts.toString) else Map.empty)
      IncrementalDedup.checkOrWriteMeta(spark, storeDir, meta)
      // on creation the manifest is `meta` itself; after it, the check
      // has just proven every key of `meta` equal to the stored one
      val committed = mf ++ meta
      val batch = new Batch(rows, touched, parts, n, committed, table.keys,
        table.read(spark, storeDir, committed))
      val step = f.step(batch)
      val dataDir = table.dir(storeDir)
      step.novel.foreach { novel =>
        // the read's sweep heals a crashed retraction before any append
        batch.read
        if (docIdx)
          IncrementalDedup.appendDocIndex(step.index, dataDir, table.idCol, dpParts)
        IncrementalDedup.appendStore(novel, dataDir,
          IncrementalDedup.appendWidth(touched, parts))
      }
      step.after()
      if (compactFiles > 0 && step.novel.isDefined)
        ((table, touched) +: step.alsoCompact).foreach { case (t, ps) =>
          if (ps.nonEmpty)
            IncrementalDedup.maybeCompactLocked(spark, storeDir, t, committed,
              ps, compactFiles)
        }
      step.out
    }
  }
}
