package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Store consistency auditor (`fsck`) for the persisted-store family —
  * the operational tool a 100 TB deployment runs before trusting a
  * store after an incident (a killed writer, a restored backup, an
  * operator hand-edit): verify every invariant the crash contracts
  * PROMISE instead of assuming them.
  *
  * Two tiers, like a filesystem fsck:
  *  - LIGHT (default): metadata only — manifest parseable/known,
  *    required_features understood, partition directory names in range,
  *    layout sub-tables present, leftover marker/tmp/lock debris aged
  *    and named. O(listing), safe to run anywhere, read-only.
  *  - DEEP (`deep = true`): content scans — every row's `bp` recomputed
  *    against the manifest geometry (a mis-bucketed row is invisible to
  *    every pruned read), the doc→bp retraction index's SUPERSET
  *    invariant (an under-claiming index makes a later indexed takedown
  *    leave retired rows — the one failure takedown must not have), the
  *    gram/term bloom supersets (a false negative silently drops real
  *    duplicates from pruned probes), bm25 stats exactness + the
  *    postings⊆docs referential invariant (the documented append-crash
  *    shape, with the retry-the-batch remedy), and one-keeper-per-key
  *    uniqueness for the exact/span stores (a double-commit witness).
  *    O(store) column-pruned scans — the ngram df-pass cost class.
  *
  * Read-only by design: fsck NEVER mutates (no sweep, no heal) — it
  * reports what a heal WOULD do, so it is safe against a live store
  * (findings about in-flight markers are labeled as such). Returns
  * findings; empty = clean. CLI: `store-fsck <dir> [--deep]`.
  */
object StoreFsck {

  /** Structural finding identity (r18 verdict #7): repair used to
    * dispatch on check-name STRINGS and told the two doc_index warn
    * forms apart by detail substring — a renamed check or reworded
    * detail silently rerouted repairs. Each kind is a case object;
    * `name` is the stable surface string the CLI/PyBridge/tests print
    * and match. Two kinds may share a surface name (the doc_index warn
    * forms) while staying structurally distinct. Sealed, so the repair
    * dispatch is compiler-checked exhaustive: a new check cannot be
    * added without deciding its remedy. */
  sealed abstract class Kind(val name: String)
  object Kind {
    case object Store extends Kind("store")
    case object Manifest extends Kind("manifest")
    case object RequiredFeatures extends Kind("required_features")
    case object Layout extends Kind("layout")
    case object Pointer extends Kind("pointer")
    case object PointerDangling extends Kind("pointer_dangling")
    case object PointerOrphan extends Kind("pointer_orphan")
    case object Partitions extends Kind("partitions")
    case object Markers extends Kind("markers")
    case object Lock extends Kind("lock")
    case object Debris extends Kind("debris")
    case object Bm25Stats extends Kind("bm25_stats")
    /** manifest says doc_index=1 but the directory is absent. */
    case object DocIndexMissing extends Kind("doc_index")
    /** the directory exists but the manifest does not flag it. */
    case object DocIndexUnflagged extends Kind("doc_index")
    case object DocIndexSuperset extends Kind("doc_index_superset")
    case object DocIndexPartitioning extends Kind("doc_index_partitioning")
    case object Bucketing extends Kind("bucketing")
    case object GramBloomSuperset extends Kind("gram_bloom_superset")
    case object TermBloomSuperset extends Kind("term_bloom_superset")
    case object Bm25Referential extends Kind("bm25_referential")
    case object KeeperUniqueness extends Kind("keeper_uniqueness")
    case object IvfCellReferential extends Kind("ivf_cell_referential")
    case object IvfCodes extends Kind("ivf_codes")
    case object LabelUniqueness extends Kind("label_uniqueness")
  }

  /** One finding: `level` is "error" (an invariant is violated — data
    * loss or wrong answers possible) or "warn" (debris or an in-flight/
    * healable state — the next locked cycle resolves it). `check` is
    * the kind's stable surface name. */
  final case class Finding(level: String, kind: Kind, detail: String) {
    def check: String = kind.name
    override def toString: String = s"Finding($level,$check,$detail)"
  }

  private def err(kind: Kind, detail: String) = Finding("error", kind, detail)
  private def warn(kind: Kind, detail: String) = Finding("warn", kind, detail)

  /** Audit the store at `dir`. */
  def fsck(spark: SparkSession, dir: String, deep: Boolean = false): Seq[Finding] = {
    import org.apache.hadoop.fs.Path
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Seq(err(Kind.Store, s"$dir does not exist"))
    val out = scala.collection.mutable.ListBuffer[Finding]()

    // ---- manifest ----
    val mf =
      try IncrementalDedup.storeManifest(spark, dir)
      catch {
        case e: Exception =>
          return Seq(err(Kind.Manifest,
            s"unreadable _graft_store.json: ${e.getMessage}"))
      }
    if (mf.isEmpty)
      return Seq(err(Kind.Manifest,
        s"$dir has no _graft_store.json — foreign or pre-manifest store"))
    val variant = mf.getOrElse("variant", "")
    val layout = StoreLayout.of(mf)
    if (layout.isEmpty)
      return (out += err(Kind.Manifest, s"unknown variant '$variant'" +
        mf.get("store_layout").fold("")(l => s" (store_layout '$l')"))).toList
    val partsOpt = mf.get("store_parts").flatMap(s => s.toIntOption)
    // ivf indexes are cell-partitioned on learned centroids — their
    // geometry key is nlist, not store_parts
    if (partsOpt.isEmpty && variant != "ivf")
      out += err(Kind.Manifest, s"store_parts missing or non-integer: " +
        mf.getOrElse("store_parts", "<absent>"))
    // the pinned reads parse vec_type into their schema: a damaged value
    // is named here, and the deep checks (which read content) skip
    val badVecType = mf.get("vec_type").filterNot(StoreLayout.VecTypes)
    badVecType.foreach(v => out += err(Kind.Manifest, s"vec_type '$v' is " +
      s"not one of ${StoreLayout.VecTypes.mkString("/")} — deep checks " +
      "skipped; restore the manifest's vec_type"))
    val demanded = mf.get("required_features").toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    val unknownFeats = demanded.filterNot(IncrementalDedup.UnderstoodFeatures)
    if (unknownFeats.nonEmpty)
      out += err(Kind.RequiredFeatures,
        s"store demands feature(s) this binary does not implement: " +
          unknownFeats.mkString(", "))

    // ---- layout: the partitioned data tables this variant owns ----
    val tables = layout.get.tables
    def abs(rel: String): String = if (rel.isEmpty) dir else s"$dir/$rel"

    tables.foreach { case StoreTable(rel, partCol, _, _, _) =>
      val p = new Path(abs(rel))
      if (rel.nonEmpty && !fs.exists(p))
        out += warn(Kind.Layout, s"${abs(rel)} absent (empty store, or a " +
          "crashed creation — the next locked cycle creates it)")
      else if (fs.exists(p)) {
        // partition-pointer integrity (rename-less schemes, r18 —
        // graft.fs.PartitionPointer): the pointer must parse, every
        // live entry's generation dir must exist (a dangling entry
        // means committed data is GONE — listing damage or a bad
        // restore), and unreferenced generations/append-staging are
        // named as sweepable garbage
        if (graft.fs.PartitionPointer.active(fs, p)) {
          try {
            val ptr = graft.fs.PartitionPointer.readPtr(fs, p).get
            if (ptr.partCol != partCol)
              out += err(Kind.Pointer, s"${abs(rel)}: pointer partcol " +
                s"'${ptr.partCol}' != layout '$partCol'")
            ptr.entries.foreach { case (n, e) =>
              if (e.live >= 0 && !fs.exists(
                  graft.fs.PartitionPointer.versionedPath(p, n, e.live)))
                out += err(Kind.PointerDangling, s"${abs(rel)}/$n: pointer " +
                  s"names live generation pv=${e.live} but the dir is " +
                  "absent — committed rows unreachable; restore the " +
                  "generation or rebuildStore")
            }
            // aux tables (r19 — the IVF centroids ride the assignments
            // pointer): dangling live tv = committed table gone
            ptr.tables.foreach { case (n, e) =>
              if (e.live >= 0 && !fs.exists(
                  graft.fs.PartitionPointer.tablePath(p, n, e.live)))
                out += err(Kind.PointerDangling, s"${abs(rel)}: pointer " +
                  s"names live table $n tv=${e.live} but the dir is " +
                  "absent — restore the generation or rebuild")
            }
            val tablesDir = new Path(p, "_tables")
            if (fs.exists(tablesDir))
              fs.listStatus(tablesDir).foreach { td =>
                val keep = ptr.tables.get(td.getPath.getName).toSeq
                  .flatMap(e => Seq(e.live, e.prev)).filter(_ >= 0).toSet
                fs.listStatus(td.getPath).map(_.getPath.getName)
                  .filter(_.startsWith("tv="))
                  .filterNot(_.stripPrefix("tv=").toIntOption.exists(keep))
                  .foreach(n => out += warn(Kind.PointerOrphan,
                    s"${abs(rel)}/_tables/${td.getPath.getName}/$n: " +
                      "unreferenced table generation (crashed swap " +
                      "staging) — the next locked sweep collects it"))
              }
            val partsDir = new Path(p, "_parts")
            if (fs.exists(partsDir))
              fs.listStatus(partsDir).foreach { pd =>
                val keep = ptr.entries.get(pd.getPath.getName).toSeq
                  .flatMap(e => Seq(e.live, e.prev)).filter(_ >= 0).toSet
                fs.listStatus(pd.getPath)
                  .map(_.getPath.getName)
                  .filter(_.startsWith("pv="))
                  .filterNot(_.stripPrefix("pv=").toIntOption.exists(keep))
                  .foreach(n => out += warn(Kind.PointerOrphan,
                    s"${abs(rel)}/_parts/${pd.getPath.getName}/$n: " +
                      "unreferenced generation (crashed swap staging) — " +
                      "the next locked sweep collects it"))
              }
            fs.listStatus(p).map(_.getPath.getName)
              .filter(_.startsWith("_append_tmp-"))
              .foreach(n => out += warn(Kind.PointerOrphan,
                s"${abs(rel)}/$n: append staging debris — the next " +
                  "locked sweep collects it"))
          } catch {
            case e: IllegalStateException =>
              out += err(Kind.Pointer, s"${abs(rel)}: ${e.getMessage}")
          }
        }
        // partition dir names parse and sit inside the geometry
        fs.listStatus(p).filter(_.isDirectory)
          .map(_.getPath.getName).filter(_.startsWith(s"$partCol="))
          .foreach { n =>
            val v = n.stripPrefix(s"$partCol=").toLongOption
            if (v.isEmpty)
              out += err(Kind.Partitions, s"${abs(rel)}/$n: unparseable $partCol")
            else if (partCol == "bp")
              partsOpt.foreach { parts =>
                if (v.get < 0 || v.get >= parts)
                  out += err(Kind.Partitions,
                    s"${abs(rel)}/$n outside geometry store_parts=$parts — " +
                      "a foreign or re-bucketed partition no pruned read " +
                      "will ever open correctly")
              }
          }
        // marker / tmp / swap debris (read-only report; heals are the
        // locked cycles' job)
        Seq(("_retract_pending", "a committed retraction awaiting its " +
          "roll-forward (the next locked read finishes it)"),
          ("_retract_tmp", "pre-commit retraction staging debris"),
          ("_retract_arm", "a retraction arm that crashed mid-flight " +
            "(stats may be stale until the read-heal runs)"),
          ("_compact_trash", "a crashed compaction's displaced rows " +
            "(swept by the next locked cycle — rows are NOT lost)"))
          .foreach { case (m, why) =>
            if (fs.exists(new Path(p, m))) out += warn(Kind.Markers,
              s"${abs(rel)}/$m present: $why")
          }
      }
    }
    // the whole-table swap's marker and staging dirs, named by the layout
    layout.get.swap.foreach { sw =>
      ((sw.marker, "a committed whole-table swap awaiting its " +
        "roll-forward (the next locked read finishes it)") +:
        Seq(sw.tmp, sw.pointerTmp).distinct.map((_, "whole-table swap " +
          "staging (a pre-commit crash leaves the committed state " +
          "unchanged; swept by the next locked cycle)")))
        .foreach { case (m, why) =>
          if (fs.exists(new Path(root, m))) out += warn(Kind.Markers,
            s"$dir/$m present: $why")
        }
    }
    // store-root lock + tmp corpses
    graft.fs.StoreLock.holder(dir,
      spark.sparkContext.hadoopConfiguration).foreach { h =>
      val age = System.currentTimeMillis() - h.sinceMs
      out += warn(Kind.Lock, s"store lock held by ${h.owner} (${age} ms): a " +
        "live writer mid-cycle, or a crashed holder that goes stale and " +
        "breakable after its staleMs")
    }
    if (fs.exists(root))
      fs.listStatus(root).map(_.getPath.getName)
        .filter(n => n.contains(".tmp-")).foreach(n =>
          out += warn(Kind.Debris, s"$dir/$n: orphan temp from a crashed " +
            "writer (swept opportunistically by later cycles)"))
    // bm25 stats sidecar presence
    if (variant == "bm25") {
      if (tables.head.holdsData(spark, dir) && !fs.exists(new Path(dir, "_bm25_stats")))
        out += err(Kind.Bm25Stats, s"$dir holds postings but no _bm25_stats " +
          "— run recomputeStats AND retry the crashed batch")
    }
    // doc-index flag vs directory
    val docIdxFlag = IncrementalDedup.docIndexEnabled(mf)
    val indexed = layout.flatMap(_.indexed)
    indexed.map(_.dir(dir)).foreach { dd =>
      val ip = new Path(dd, IncrementalDedup.DocIndexDir)
      if (docIdxFlag && !fs.exists(ip))
        out += warn(Kind.DocIndexMissing, s"manifest says doc_index=1 but " +
          s"$ip is absent — takedown falls back to full-scan discovery " +
          "(correct, slower); rebuildStore re-derives it")
      if (!docIdxFlag && fs.exists(ip))
        out += warn(Kind.DocIndexUnflagged, s"$ip exists but the manifest " +
          "does not flag it — it will be ignored (and drift); remove or " +
          "rebuild")
    }

    if (!deep || badVecType.nonEmpty) return out.toList

    // ---- deep: content-level invariants ----
    partsOpt.foreach { parts =>
      tables.filter(_.keys.nonEmpty).foreach { t =>
        val (df, hasData) = t.readRaw(spark, dir, mf)
        if (hasData) {
          // 1. bp recompute: a mis-bucketed row is unreachable to every
          // pruned read — the silent-wrong-answer class
          val bad = df.filter(
            col(t.partCol) =!= IncrementalDedup.bpOf(parts, t.keys.map(col): _*))
            .count()
          if (bad > 0)
            out += err(Kind.Bucketing, s"${t.dir(dir)}: $bad row(s) whose " +
              s"${t.partCol} does not match pmod(xxhash64(" +
              s"${t.keys.mkString(",")}), $parts) — pruned reads will never " +
              "see them; rebuildStore re-buckets")
        }
      }
      // 2. doc-index SUPERSET: every stored row's (id, bp) must be claimed
      indexed.filter(_ => docIdxFlag).foreach { t =>
        val dd = t.dir(dir)
        val ip = new Path(dd, IncrementalDedup.DocIndexDir)
        // a fully-retracted store keeps only the index (over-claiming is
        // legal — supersets cost pruning only): the check is vacuous
        // without data rows (lifecycle-fuzzer find)
        val (rows, ddHasData) = t.readRaw(spark, dir, mf)
        if (fs.exists(ip) && ddHasData) {
          // tolerate a corrupted manifest value (r17 ADVICE): fsck's
          // whole job is to SURVIVE and NAME metadata damage — a bare
          // .toInt would throw NumberFormatException here instead of
          // emitting a finding (store_parts nearby already uses
          // toIntOption). Non-integer → manifest finding + skip the
          // dp-hash check (it has no trustworthy geometry to test).
          val dpPartsOpt = mf.get("doc_index_parts") match {
            case Some(s) =>
              val p = s.toIntOption
              if (p.isEmpty)
                out += err(Kind.Manifest,
                  s"$dd: doc_index_parts non-integer: '$s' — dp-hash " +
                    "check skipped; rebuildStore rewrites the manifest")
              p
            case None => Some(parts)
          }
          val data = rows.select(col(t.idCol).as("doc_id"), col("bp")).distinct()
          // an index dir emptied of every dp= partition while data rows
          // remain is itself maximal under-claiming — report it as such
          val (idx, ipHasData) = StoreLayout.docIndex.readRaw(spark, dd, mf)
          val missing = data.join(idx.select("doc_id", "bp"), Seq("doc_id", "bp"),
            "left_anti").count()
          if (missing > 0)
            out += err(Kind.DocIndexSuperset, s"$dd: $missing stored " +
              "(id, bp) pair(s) unclaimed by _doc_index — an indexed " +
              "takedown would prune discovery PAST them and leave retired " +
              "rows; rebuildStore re-derives the index")
          // dp hashing: index rows must sit in their id's dp partition
          // (dp is the hive partition column — read it directly)
          val wrongDp =
            if (!ipHasData || dpPartsOpt.isEmpty) 0L
            else idx
              .filter(col("dp") =!= IncrementalDedup.dpOf(dpPartsOpt.get, col("doc_id")))
              .count()
          if (wrongDp > 0)
            out += err(Kind.DocIndexPartitioning, s"$dd: $wrongDp index " +
              "row(s) outside their id's dp partition — consults would " +
              "miss them")
        }
      }
    }
    // 3. bloom SUPERSETS (no false negative allowed — a miss IS absence)
    layout.get.bloom.foreach { bloom =>
      IncrementalDedup.readBloomSidecar(spark, dir, bloom.file).foreach { bytes =>
        val (read, has) = tables.head.readRaw(spark, dir, mf)
        val miss = if (!has) 0L else read.filter(!graft.functions.SketchExprs
          .bloomMightContain(bloom.key, bytes)).count()
        if (miss > 0)
          out += (if (variant == "ngram")
            err(Kind.GramBloomSuperset, s"$dir: $miss stored shingle(s) the " +
              "_gram_bloom denies — pruned probes silently skip their " +
              "partitions; rebuildStore re-derives")
          else
            err(Kind.TermBloomSuperset, s"$dir: $miss stored term posting(s) " +
              "the _term_bloom denies — searches drop those terms " +
              "driver-side; rebuildStore re-derives"))
      }
    }
    // 4. bm25: stats exactness + postings⊆docs referential invariant
    if (variant == "bm25") {
      val Seq((postsDf, hasPosts), (docsDf, hasDocs)) =
        tables.map(_.readRaw(spark, dir, mf))
      if (hasDocs) Bm25Index.readStats(spark, dir).foreach {
        case (n, nt, td) =>
          val row = docsDf.agg(count(lit(1)), count(col("dl")),
            coalesce(sum(col("dl")), lit(0.0))).collect().head
          val (n2, nt2, td2) = (row.getLong(0), row.getLong(1), row.getDouble(2))
          if (n != n2 || nt != nt2 || math.abs(td - td2) > 1e-6 * math.max(1.0, td2))
            out += err(Kind.Bm25Stats, s"$dir: _bm25_stats ($n, $nt, $td) != " +
              s"docs/ recompute ($n2, $nt2, $td2) — run recomputeStats")
      }
      if (hasPosts) {
        val orphans = postsDf.select("doc_id").distinct()
          .join(docsDf.select("doc_id").distinct(), Seq("doc_id"), "left_anti")
          .count()
        if (orphans > 0)
          out += err(Kind.Bm25Referential, s"$dir: $orphans posting doc_id(s) " +
            "with no docs/ row — the postings-first append-crash shape; " +
            "RETRY the crashed batch (recomputeStats alone cannot heal df)")
      }
    }
    // 5. one keeper per key (exact/span): duplicates witness a
    // double-commit the store lock exists to prevent
    layout.flatMap(_.md5Key).foreach { keyCol =>
      val (read, has) = tables.head.readRaw(spark, dir, mf)
      if (has) {
        val dups = read.groupBy(keyCol).agg(count(lit(1)).as("n"))
          .filter(col("n") > 1).count()
        if (dups > 0)
          out += err(Kind.KeeperUniqueness, s"$dir: $dups $keyCol value(s) " +
            "with multiple keeper rows — a double-committed cycle; " +
            "rebuildStore (or retract the younger keepers) to repair")
      }
    }
    // 6. ivf: assignment cells must reference live centroids (an orphan
    // cell witnesses a half-swapped recluster — its vectors are never
    // probed because no query's nearest-centroid list can name the
    // cell), and a coded index must be FULLY coded (null codes silently
    // drop rows from the coded scoring pass)
    if (variant == "ivf") {
      val ap = new Path(dir, "assignments")
      // pointer-aware (r19): a pointer-mode rebuild versions centroids
      // under the assignments pointer and retires the legacy dir
      val hasCents = fs.exists(new Path(dir, "centroids")) ||
        graft.fs.PartitionPointer.liveTable(fs, ap, "centroids").isDefined
      if (hasCents && tables.head.holdsData(spark, dir)) {
        val cells = IvfIndex.centroidsDf(spark, dir).select("cell")
        val assigned = IvfIndex.assignmentsDf(spark, dir)
        val orphanCells = assigned.select("cell").distinct()
          .join(cells, Seq("cell"), "left_anti").count()
        if (orphanCells > 0)
          out += err(Kind.IvfCellReferential, s"$dir: $orphanCells assignment " +
            "cell(s) with no centroid row — a half-swapped recluster; those " +
            "vectors are unreachable to every probe; rebuild() repairs")
        if (assigned.schema.fieldNames.contains("code")) {
          val nullCodes = assigned.filter(col("code").isNull).count()
          if (nullCodes > 0)
            out += err(Kind.IvfCodes, s"$dir: $nullCodes assignment row(s) " +
              "with NULL code in a coded index — the coded scoring pass " +
              "silently drops them; rebuild() re-codes")
        }
      }
    }
    // 7. components: one label per vertex
    if (variant == "components") {
      val (labelsDf, hasLabels) = tables.head.readRaw(spark, dir, mf)
      if (hasLabels) {
        val dups = labelsDf
          .groupBy("v").agg(count(lit(1)).as("n"))
          .filter(col("n") > 1).count()
        if (dups > 0)
          out += err(Kind.LabelUniqueness, s"$dir/labels: $dups vertex(es) " +
            "with multiple label rows — compact() folds the merge log; " +
            "if it persists after compact, rebuild from the pair source")
      }
    }
    out.toList
  }

  /** The CLI `store-info` report: the manifest's keys, then for each
    * table of the store's layout its partition count (its own
    * `<partCol>=` dirs), files, bytes and the most files in one
    * partition; a components store adds its merge log, a bm25 index its
    * stats totals. A store of no known layout reports its root. */
  def info(spark: SparkSession, store: String): Seq[String] = {
    val manifest = IncrementalDedup.storeManifest(spark, store)
    def statsOf(dir: String, partCol: String): Option[String] = {
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) None
      else {
        val parts = fs.listStatus(p)
          .filter(s => s.isDirectory && s.getPath.getName.startsWith(s"$partCol="))
        val perPart = parts.map(d => fs.listStatus(d.getPath)
          .count(_.getPath.getName.endsWith(".parquet")))
        val sum = fs.getContentSummary(p)
        Some(s"partitions=${parts.length} files=${sum.getFileCount} " +
          s"bytes=${sum.getLength} max_files_per_partition=" +
          s"${if (perPart.isEmpty) 0 else perPart.max}")
      }
    }
    val tables = StoreLayout.of(manifest).fold(Seq(("", "bp")))(_.tables.map(t => (t.rel, t.partCol)))
    (if (manifest.isEmpty) Seq(s"$store: no manifest (not a graft store, or empty)")
     else manifest.toSeq.sortBy(_._1).map { case (k, v) => s"$k = $v" }) ++
      tables.flatMap { case (rel, partCol) =>
        if (rel.isEmpty) statsOf(store, partCol)
        else statsOf(s"$store/$rel", partCol).map(s => s"$rel: $s")
      } ++
      (manifest.get("variant") match {
        case Some("components") => statsOf(s"$store/merges", "bp").map(s => s"merges: $s")
        case Some("bm25") => Bm25Index.readStats(spark, store).map { case (n, nt, td) =>
          s"stats: n_docs=$n n_text=$nt total_dl=$td " +
            f"avgdl=${if (nt == 0) 0.0 else td / nt}%.2f"
        }
        case _ => None
      })
  }

  /** One repair decision: what [[repair]] did (or refused to do) about
    * a finding. `applied=false` + an action starting with "refused"
    * marks a finding with no safe automatic remedy. */
  final case class RepairAction(finding: Finding, action: String,
      applied: Boolean)

  /** Locked repair mode (r17 verdict #2): audit, then APPLY each
    * finding's named remedy — reusing the existing heal entry points
    * (marker sweeps, recomputeStats, bloom re-derivation, doc-index
    * rebuild from a data scan, orphan-posting docs reconstruction, the
    * clusters merge-log fold) rather than new rewrite code. Findings
    * whose remedy needs a policy choice (which double-committed keeper
    * survives?) or a rebuild-scale rewrite (re-bucketing, an IVF
    * recluster) are REFUSED with the reason — repair never guesses.
    * Runs under the store lock; the safe verification loop is
    * `repair` then a fresh `fsck` (the CLI does both). */
  def repair(spark: SparkSession, dir: String,
      deep: Boolean = false): Seq[RepairAction] =
    graft.fs.StoreLock.withLock(dir,
      spark.sparkContext.hadoopConfiguration) {
      repairLocked(spark, dir, deep)
    }

  private def repairLocked(spark: SparkSession, dir: String,
      deep: Boolean): Seq[RepairAction] = {
    import org.apache.hadoop.fs.Path
    // drop the lock probe's self-report: repair itself holds the store
    // lock, so the finding is always present and always ours
    val findings = fsck(spark, dir, deep).filterNot(_.kind == Kind.Lock)
    if (findings.isEmpty) return Nil
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mf =
      try IncrementalDedup.storeManifest(spark, dir)
      catch { case _: Exception => Map.empty[String, String] }
    val variant = mf.getOrElse("variant", "")
    val partsOpt = mf.get("store_parts").flatMap(_.toIntOption)
    val layout = StoreLayout.of(mf)
    val tables = layout.toSeq.flatMap(_.tables)
    val dataDirs = layout.fold(Seq(dir))(_.tables.map(_.dir(dir)))
    // the table the doc index lives under (fsck reports doc-index
    // findings only for layouts that have one)
    val indexed = layout.flatMap(_.indexed)
    // each heal runs at most once even when several findings share it
    var swept = false
    var statsDone = false
    var docIdxDone = false
    var refDone = false
    def sweepAll(): String = {
      if (!swept) {
        // the read-heal's locked body: every swap rolled forward, and a
        // crashed arm's idempotent tail (bm25: the stats recompute)
        layout.fold(Retract.sweep(spark, dir))(_.healLocked(spark, dir, () =>
          if (variant == "bm25") {
            Bm25Index.recomputeStatsLocked(spark, dir); statsDone = true
          }))
        // a stranded arm sentinel on any other table has no sidecar
        // tail to recompute — the safe heal is bump (force seqlock
        // readers to re-snapshot) then clear
        dataDirs.foreach { dd =>
          if (Retract.armBusy(spark, dd)) {
            Retract.bumpEpochAt(spark, dd)
            Retract.armClear(spark, dd)
          }
        }
        if (fs.exists(root))
          fs.listStatus(root).map(_.getPath)
            .filter(_.getName.contains(".tmp-"))
            .foreach(p => fs.delete(p, false))
        swept = true
      }
      "swept: markers rolled forward, staging/tmp corpses deleted"
    }
    def recomputeStats(): String = {
      if (!statsDone) { Bm25Index.recomputeStatsLocked(spark, dir); statsDone = true }
      "recomputed _bm25_stats exactly from docs/"
    }
    def healReferential(): String = {
      if (!refDone) {
        // the orphan-posting retry-batch: reconstruct the docs/ rows the
        // crashed batch never wrote — postings carry (doc_id, dl), so
        // the missing rows are derivable exactly; then the stats
        // recompute sees a consistent index
        val parts = partsOpt.getOrElse(
          return "refused: no store_parts geometry to bucket the rebuilt docs rows")
        val Seq((postsDf, hasP), (docsDf, _)) = tables.map(_.readRaw(spark, dir, mf))
        if (hasP) {
          val orphan = postsDf.select(col("doc_id"), col("dl")).distinct()
            .join(docsDf.select("doc_id"), Seq("doc_id"), "left_anti")
            .withColumn("bp", IncrementalDedup.bpOf(parts, col("doc_id")))
          IncrementalDedup.appendStore(orphan, s"$dir/docs")
        }
        Bm25Index.recomputeStatsLocked(spark, dir)
        statsDone = true
        refDone = true
      }
      "reconstructed missing docs/ rows from orphan postings; stats recomputed"
    }
    def healDocIndex(t: StoreTable): String = {
      if (!docIdxDone) {
        val dd = t.dir(dir)
        fs.delete(new Path(dd, IncrementalDedup.DocIndexDir), true)
        val (rows, hasData) = t.readRaw(spark, dir, mf)
        // manifest-absent fallback MUST match fsck's dp-hash check and
        // the consult paths (Retract.delIndexedAt, Bm25Index.retract),
        // which all fall back to store_parts — the old dpPartsFor
        // fallback rebuilt at a geometry the re-audit then flagged on
        // every row (r18 ADVICE). Stamp the chosen value so appends and
        // consults hash identically from here on.
        val dpParts = mf.get("doc_index_parts").flatMap(_.toIntOption)
          .orElse(partsOpt)
          .getOrElse(64)
        if (hasData) IncrementalDedup.writeDocIndexFrom(rows, t.idCol, dd, dpParts)
        if (!mf.get("doc_index_parts").flatMap(_.toIntOption).contains(dpParts))
          IncrementalDedup.updateManifest(fs, dir,
            mf ++ Map("doc_index_parts" -> dpParts.toString))
        docIdxDone = true
      }
      "re-derived _doc_index from a full data scan"
    }
    def healBloom(): String = {
      val s = layout.flatMap(_.bloom).get
      val (read, has) = tables.head.readRaw(spark, dir, mf)
      if (!has) return "refused: no data rows to derive the bloom from"
      val geometry = s.rederive(read, dir)
      IncrementalDedup.updateManifest(fs, dir, mf ++ geometry)
      s"re-derived ${s.file} tight from the live rows (cap=${geometry(s.capKey)})"
    }
    findings.map { f =>
      // STRUCTURAL dispatch (r18 verdict #7): sealed Kind, no default
      // case — adding a check without deciding its remedy is a compile
      // error, and no remedy routing rides a detail-string substring
      val (action, applied): (String, Boolean) = f.kind match {
        case Kind.Lock =>
          ("no action: the reported holder is repair's own lock", false)
        case Kind.Layout =>
          ("no action needed: the next locked cycle creates it", false)
        case Kind.Markers | Kind.PointerOrphan | Kind.Debris =>
          (sweepAll(), true)
        case Kind.Bm25Stats => (recomputeStats(), true)
        case Kind.Bm25Referential =>
          val a = healReferential()
          (a, !a.startsWith("refused"))
        case Kind.DocIndexUnflagged =>
          // an unflagged index is ignored-and-drifting: remove it
          indexed.foreach(t =>
            fs.delete(new Path(t.dir(dir), IncrementalDedup.DocIndexDir), true))
          ("deleted the unflagged (ignored, drifting) _doc_index", true)
        case Kind.DocIndexMissing | Kind.DocIndexSuperset |
            Kind.DocIndexPartitioning =>
          (healDocIndex(indexed.get), true)
        case Kind.GramBloomSuperset | Kind.TermBloomSuperset =>
          val a = healBloom()
          (a, !a.startsWith("refused"))
        case Kind.LabelUniqueness =>
          val folded = IncrementalComponents.compactLocked(spark, dir)
          (s"folded the merge log into labels ($folded relabeled); if " +
            "duplicates persist the pair source must be rebuilt", true)
        case Kind.KeeperUniqueness =>
          ("refused: choosing which double-committed keeper survives is " +
            "a policy decision — retract the unwanted keepers, or " +
            "rebuildStore", false)
        case Kind.Bucketing =>
          ("refused: re-bucketing rows is a rebuild-scale rewrite — run " +
            "rebuildStore", false)
        case Kind.IvfCellReferential | Kind.IvfCodes =>
          ("refused: the remedy is a full recluster — run IvfIndex" +
            ".rebuild", false)
        case Kind.Partitions =>
          ("refused: a foreign or re-bucketed partition cannot be " +
            "adopted automatically — remove it or rebuildStore", false)
        case Kind.Pointer | Kind.PointerDangling =>
          ("refused: the pointer or a committed generation is damaged — " +
            "restore the missing data or rebuildStore", false)
        case Kind.Manifest | Kind.RequiredFeatures | Kind.Store =>
          ("refused: manifest-level damage needs the operator (or " +
            "rebuildStore, which rewrites it)", false)
      }
      RepairAction(f, action, applied)
    }
  }
}
