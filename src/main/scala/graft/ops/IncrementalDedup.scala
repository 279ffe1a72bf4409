package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental deduplication across corpus appends — the shape a 100 TB
  * pipeline actually runs: signatures for the existing corpus are
  * computed ONCE and persisted next to the dataset; each new batch only
  * computes its own signatures and joins them against the store.
  *
  * The stores are hive-partitioned by a bucket prefix `bp =
  * pmod(xxhash64(bucket key), 256)` — digest for the exact store,
  * (band, band_hash) for the minhash store, (table, lsh_bucket) for the
  * vector store — and an append reads ONLY the partitions its own rows
  * hash into (`PartitionFilters` prunes the rest at planning time, the
  * same layout `IvfIndex` uses for cells). That makes an append's cost
  * O(|batch| + touched buckets) in BOTH shuffle and SCAN: a 1-doc append
  * against a billion-doc store reads a few store partitions, not the
  * corpus (IncrementalDedupSpec pins < 10% scanned via input metrics).
  * Re-running full-corpus dedup per append is quadratic over the
  * pipeline's lifetime and is the difference between minutes and days at
  * scale.
  *
  * Five variants:
  *  - exact (content digest): the store is (digest, keep_doc_id); a new
  *    batch's duplicates are one partition-pruned equi-join away.
  *  - n-gram Jaccard (exact near-dup): the store is the posting-list
  *    inverted index (doc_id, gram_hash, doc_gram_count), partitioned
  *    by gram bucket; a batch's pairs come from one df-capped join of
  *    its postings against the touched buckets.
  *  - MinHash-LSH (near-dup): the store holds the BANDED signature rows
  *    (doc_id, sig, band, bh) — the posting-list layout: the signature
  *    payload rides every band row (bands× storage) so a bucket match
  *    verifies est-Jaccard in the join itself, with no O(corpus)
  *    signature-fetch join afterwards. Incremental pairs over a batch
  *    sequence equal the full-batch pairs (IncrementalDedupSpec).
  *  - SimHash (near-dup): the store holds the multi-index banded rows
  *    (doc_id, simhash, band, bh) — `radius + 1` rows per doc; the
  *    pigeonhole completeness proof (Dedup.simhashPairs) carries over
  *    batch boundaries because the store keeps every doc's full band
  *    set and equal band values co-partition.
  *  - embedding (cosine): the store holds the LSH-bucketed vector rows
  *    (vec_id, vec, tbl, bucket) — same posting-row trade, tables×
  *    storage for scan locality; exact cosine computes map-side while
  *    both vectors are in hand from the bucket join.
  *
  * Caller contract: `doc_id`/`vec_id` are corpus-wide unique keys.
  * The idempotency anti-joins key on them, so a REUSED id carrying
  * different content is indistinguishable from a retry — its rows are
  * partially dropped/kept per bucket and the store's pairing for that
  * id becomes undefined (the pre-partitioning layout silently dropped
  * such content wholesale; neither behavior is a dedup). Mint fresh ids
  * upstream — see the Soak id-collision note (BASELINE §r9).
  *
  * The reference (SmartX-Team/connected-data-lake) has no curation ops —
  * this extends the engine for training pipelines (SURVEY §2.8/§2.10).
  */
object IncrementalDedup {

  /** Default hive partitions per store. 256 keeps a 16-bucket-per-doc
    * append under 16/256 ≈ 6% of the store scanned, while the
    * touched-partition list stays a bounded driver-side collect (like
    * the IVF centroid pull — a k-row result, never corpus data). This
    * is the scan-granularity knob AND the per-append file-count floor
    * (every append writes one file per touched partition): a 100 TB
    * deployment raises it (64Ki partitions ≈ GB-sized directories at
    * that scale) so small appends read a vanishing store fraction; a
    * small corpus LOWERS it — a 5k-doc store under 256 partitions pays
    * ~512 tiny file creates per append cycle for pruning it doesn't
    * need (measured 1.7 → 9 s on the sf0.1 gate). The manifest records
    * the store's value and every later batch validates against it — a
    * store is only readable under the constant it was created with. */
  val DefaultStoreParts = 256

  /** Sentinel: size the store's partition count from the data. On store
    * CREATION the count comes from [[storePartsFor]] over the first
    * batch's estimated store rows; on every later batch it is ADOPTED
    * from the manifest — the geometry a store was created with is the
    * only one it can be read under, so auto callers never have to know
    * it. An explicit positive `storeParts` still wins at creation and
    * still fails loudly on a manifest mismatch. */
  val AutoStoreParts = 0

  /** Sentinel: adopt an existing store's manifest geometry, create at
    * [[DefaultStoreParts]] otherwise — the STREAMING default. Streams
    * must not auto-size (batch 0 is typically tiny and would freeze a
    * growing store at the floor), but a fixed default alone would
    * hard-fail every micro-batch on RESTART against a store created
    * under any other geometry (the manifest check is strict, by
    * design); this sentinel restarts cleanly against both. */
  val AdoptOrDefaultStoreParts = -1

  /** Partition count for a NEW store, from the rows it is created with —
    * the `planesFor` discipline applied to layout: geometry is a scale
    * knob, not a constant. The trade (DefaultStoreParts doc): more
    * partitions prune small appends harder (a b-key append scans
    * ~min(b, parts)/parts of the store) but floor every append at one
    * file-create per touched partition — the measured 1.65 → 3.02 s
    * gate regression was 256 partitions' file floor under a ~2.5k-row
    * toy store. Target ~4 Ki rows per partition, rounded up to a power
    * of two, clamped to [32, 64 Ki]: a 2.5k-row gate store gets 32
    * (file floor gone), the 1.3M-row soak store 512 (1-doc appends scan
    * ~3%), a 10^10-row deployment the 64 Ki ceiling. Recorded in the
    * manifest at creation; a store expected to grow orders of magnitude
    * past its first batch should pass an explicit count instead (or
    * rebuild when it outgrows — `compactStore` keeps the layout flat
    * either way). */
  def storePartsFor(
      expectedStoreRows: Long,
      targetRowsPerPart: Long = 4096L,
      minParts: Int = 32,
      maxParts: Int = 65536): Int = {
    require(expectedStoreRows >= 0 && targetRowsPerPart >= 1 &&
      minParts >= 1 && maxParts >= minParts)
    val needed = math.max(1L,
      math.ceil(expectedStoreRows.toDouble / targetRowsPerPart).toLong)
    val pow2 = java.lang.Long.highestOneBit(needed) match {
      case h if h == needed => needed
      case h => h << 1
    }
    math.min(math.max(pow2, minParts.toLong), maxParts.toLong).toInt
  }

  /** The store's whole manifest as a map (empty if absent or
    * unparseable) — the read surface for tooling (CLI `store-info`);
    * the batch cycles use the strict per-key check instead. */
  def storeManifest(spark: SparkSession, dir: String): Map[String, String] = {
    val p = new org.apache.hadoop.fs.Path(dir, "_graft_store.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      if (!fs.exists(p)) Map.empty
      else {
        val in = fs.open(p)
        val body =
          try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
          finally in.close()
        val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(body)
        import scala.jdk.CollectionConverters._
        node.properties().asScala.map(e => e.getKey -> e.getValue.asText).toMap
      }
    } catch { case _: Exception => Map.empty }
  }

  private[ops] def bpOf(parts: Int, keys: Column*): Column =
    pmod(xxhash64(keys: _*), lit(parts)).cast("int")

  /** The `collect_set(bp)` observe metric as partition ids. The metric
    * rides the batch checkpoint's own materialization (the Components
    * convergence pattern), so warm cycles get their touched-partition
    * set WITHOUT a separate probe job. */
  private[ops] def intSeqOf(v: Any): Seq[Int] = v match {
    case s: scala.collection.Seq[_] =>
      s.map(_.asInstanceOf[Number].intValue).toIndexedSeq
    case a: Array[_] =>
      a.toIndexedSeq.map(_.asInstanceOf[Number].intValue)
    case other => throw new IllegalStateException(
      s"unexpected touched-metric shape: $other")
  }

  /** Geometry known before any compute? Explicit beats manifest; None
    * means creation-with-auto (the only shape that must count first). */
  private[ops] def knownPartsFrom(mParts: Option[Int], requested: Int): Option[Int] =
    requested match {
      case AutoStoreParts           => mParts
      case AdoptOrDefaultStoreParts => Some(mParts.getOrElse(DefaultStoreParts))
      case r                        => Some(r)
    }

  /** Store geometry manifest (`_graft_store.json`, `_`-prefixed so
    * parquet discovery ignores it): a store is only readable under the
    * EXACT constants it was written with — partition count, hash count,
    * banding, plane geometry. Those constants live in call-site
    * defaults today, which makes a mismatched caller (say bands=8
    * against a bands=16 store) a silent-wrong-answer bug: signatures
    * band differently, buckets stop aligning, and near-dup pairs
    * quietly vanish. The manifest turns that into a loud
    * IllegalArgumentException on the first batch: written at store
    * creation, verified key-by-key on every later cycle. */
  /** Feature tokens THIS binary knows how to MAINTAIN when mutating a
    * store (r16 ADVICE #4). Each names a superset invariant a writer
    * must uphold on every append/retract — skipping it silently
    * corrupts later reads: `doc_index` (the `_doc_index` retraction
    * sidecar must over-claim every stored row's bp, else an indexed
    * takedown prunes discovery to the wrong partitions and leaves
    * retired rows), `gram_bloom` / `term_bloom` (the bloom sidecars
    * must stay supersets of the stored grams/terms, else pruned probes
    * miss real duplicates). A manifest can DEMAND features via
    * `required_features`; a writer that doesn't recognize one fails
    * loudly here instead of appending-and-corrupting — the
    * format-version discipline for forward compatibility. */
  private[ops] val UnderstoodFeatures: Set[String] =
    Set("doc_index", "gram_bloom", "term_bloom")

  /** The feature tokens a creation-time `meta` implies (manifest key →
    * token): used to stamp `required_features` into new manifests so
    * any FUTURE binary lacking one of these maintenance obligations
    * rejects the store instead of silently skipping the sidecar. */
  private def featuresOf(meta: Map[String, String]): Seq[String] =
    Seq(
      meta.get("doc_index").filter(_ == "1").map(_ => "doc_index"),
      meta.get("bloom_bits").map(_ => "gram_bloom"),
      meta.get("term_bloom_bits").map(_ => "term_bloom")).flatten

  private[ops] def checkOrWriteMeta(
      spark: SparkSession, dir: String, meta: Map[String, String]): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir, "_graft_store.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) {
      val in = fs.open(p)
      val body =
        try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
        finally in.close()
      // a parse failure here is a corrupt/truncated manifest — surface the
      // same actionable geometry message, not a raw Jackson stack trace
      // (the temp-write+rename below makes this unreachable for OUR
      // writes; a hand-edited or foreign file can still land here)
      val node =
        try new com.fasterxml.jackson.databind.ObjectMapper().readTree(body)
        catch {
          case e: Exception => throw new IllegalArgumentException(
            s"store $dir has an unparseable _graft_store.json manifest " +
              s"(${e.getMessage}) — expected " +
              meta.map { case (k, v) => s"$k=$v" }.mkString(", ") +
              "; restore or rewrite the manifest after verifying the " +
              "store's layout", e)
        }
      // required-features gate FIRST (r16 ADVICE #4): a manifest
      // demanding a maintenance obligation this binary doesn't
      // implement must fail loudly BEFORE any mutation — an older
      // writer appending to (say) a doc_index=1 store while silently
      // skipping appendDocIndex breaks the index's superset invariant,
      // and a later indexed takedown prunes discovery to the wrong
      // partitions, leaving retired rows in the store.
      val demanded = Option(node.get("required_features")).map(_.asText)
        .toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
      val unknown = demanded.filterNot(UnderstoodFeatures)
      require(unknown.isEmpty,
        s"store $dir requires feature(s) ${unknown.mkString(", ")} this " +
          s"writer does not implement (understood: " +
          s"${UnderstoodFeatures.toSeq.sorted.mkString(", ")}) — mutating " +
          "it would silently break the feature's superset invariant; " +
          "upgrade the writer or rebuild the store without the feature")
      val bad = meta.filter { case (k, v) =>
        node.get(k) == null || node.get(k).asText != v
      }
      require(bad.isEmpty,
        s"store $dir was created with different geometry: expected " +
          meta.map { case (k, v) => s"$k=$v" }.mkString(", ") +
          s", manifest has $body — a store must be read with the " +
          "constants it was written under")
    } else {
      // manifest absent: only legitimate for a store with NO data yet.
      // A data-bearing manifest-less dir is a foreign or pre-manifest
      // store — writing a fresh manifest over it would silently
      // re-initialize it (the pruned reads would drop its rows as
      // schema-less), exactly the failure the manifest exists to stop.
      val root = new org.apache.hadoop.fs.Path(dir)
      // any table of any known layout counts (the split, bm25,
      // components and IVF stores keep theirs one level down): a lost
      // manifest over any of them must be refused exactly like one over
      // root bp= dirs (re-initializing it would mix layouts or re-bucket
      // silently), as must loose parquet files at the root
      val hasData = StoreLayout.knownTables.exists(_.holdsData(spark, dir)) ||
        (fs.exists(root) &&
          fs.listStatus(root).exists(_.getPath.getName.endsWith(".parquet")))
      require(!hasData,
        s"store $dir holds data but no _graft_store.json manifest — " +
          "refusing to adopt a foreign or pre-manifest store; migrate " +
          "it explicitly (rebuild, or write the manifest by hand after " +
          "verifying the layout)")
      // stamp the maintenance obligations this meta implies so future
      // writers that can't uphold one reject the store loudly
      val feats = featuresOf(meta)
      writeManifest(fs, dir,
        if (feats.isEmpty) meta
        else meta + ("required_features" -> feats.sorted.mkString(",")))
    }
  }

  /** The manifest write itself — temp-write + rename (the
    * StoreLock.atomicRewrite pattern): a crash mid-write must not leave
    * a truncated manifest that fails every later batch until someone
    * repairs it by hand. The `_`-prefixed temp is invisible to parquet
    * discovery; callers hold the relevant lock, so no concurrent
    * creator races the rename. Sweeps tmp orphans a writer that crashed
    * between create and rename left behind — without it they accumulate
    * forever (and a later same-pid process would silently overwrite
    * one). Shared by creation (`checkOrWriteMeta`, behind the
    * foreign-store guard) and `rebuildStore`'s data-first commit (which
    * KNOWS the data is its own, so the guard must not apply). */
  private[ops] def writeManifest(
      fs: org.apache.hadoop.fs.FileSystem, dir: String,
      meta: Map[String, String]): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir, "_graft_store.json")
    val json = meta.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":"$v"""" }.mkString("{", ",", "}")
    val root2 = new org.apache.hadoop.fs.Path(dir)
    if (fs.exists(root2))
      fs.listStatus(root2)
        .filter(_.getPath.getName.startsWith("_graft_store.json.tmp-"))
        .foreach(s => fs.delete(s.getPath, false))
    val tmp = new org.apache.hadoop.fs.Path(dir,
      s"_graft_store.json.tmp-${ProcessHandle.current().pid()}")
    val out = fs.create(tmp, true)
    try out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    require(fs.rename(tmp, p), s"manifest rename failed: $tmp -> $p")
  }

  /** Rewrite an EXISTING store's manifest in place (store-fsck --repair
    * updating bloom geometry) — [[writeManifest]] assumes the
    * destination is absent (creation / rebuild into a fresh dir), so
    * the update path publishes through the scheme-aware atomic
    * small-file replace instead. Caller holds the store lock. */
  private[ops] def updateManifest(
      fs: org.apache.hadoop.fs.FileSystem, dir: String,
      meta: Map[String, String]): Unit = {
    val json = meta.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":"$v"""" }.mkString("{", ",", "}")
    graft.fs.AtomicRename.publishSmallFile(fs,
      new org.apache.hadoop.fs.Path(dir, "_graft_store.json"),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      s".tmp-${ProcessHandle.current().pid()}")
  }

  /** Shared geometry step of every batch cycle. Warm (geometry known):
    * `bp` rides the one eager checkpoint that feeds the join sides and
    * the append, and the touched-partition probe rides its
    * materialization as an observe metric — zero dedicated probe jobs
    * (r12; the Components convergence pattern). Creation-with-auto:
    * checkpoint first, size from the checkpointed row count (each
    * variant's rows-per-doc shape is documented at its call site), no
    * probe at all — the store it would prune is empty. Returns
    * (checkpointed rows carrying bp, touched partition ids, parts,
    * row count). The count rides the same observe/count action (r21):
    * callers that previously ran their own `.count()`/`.isEmpty` probe
    * jobs (bloom sizing, empty-batch guards) read it for free. */
  private[ops] def resolveGeometry(
      known: Option[Int],
      raw: DataFrame,
      keys: Seq[Column]): (DataFrame, Seq[Int], Int, Long) =
    known match {
      case Some(parts) =>
        val obs = Observation()
        val d = raw.withColumn("bp", bpOf(parts, keys: _*))
          .observe(obs, collect_set(col("bp")).as("touched"),
            count(lit(1)).as("n"))
          .localCheckpoint()
        val m = obs.get
        (d, intSeqOf(m("touched")), parts, m("n").asInstanceOf[Long])
      case None =>
        val base = raw.localCheckpoint()
        val n = base.count()
        val parts = storePartsFor(n)
        (base.withColumn("bp", bpOf(parts, keys: _*)),
          Seq.empty[Int], parts, n)
    }

  /** Partition-pruned store view: the isin over the partition column
    * becomes PartitionFilters on the scan — untouched bp directories are
    * never opened. */
  private[ops] def prune(store: DataFrame, parts: Seq[Int]): DataFrame =
    store.filter(col("bp").isin(parts: _*)).drop("bp")

  /** Exact-dedup one batch against the digest store at `storeDir`
    * (created if absent), returning (doc_id, digest, dup_of) for the
    * batch — `dup_of` is the keeper doc_id when the content was already
    * seen (in the store OR earlier in this batch, min doc_id wins), null
    * when the doc is novel. Appends the batch's novel digests to the
    * store.
    *
    * Null-text docs have no content to dedup and are EXCLUDED from the
    * verdicts (md5(null) digests to null, which equality joins cannot
    * carry) — filter them out, explicitly, rather than losing them to
    * join semantics silently.
    *
    * Multi-writer safety: the whole read-store → compute → append cycle
    * holds the store lock (`graft.fs.StoreLock`) — two pipelines
    * appending concurrently would otherwise both observe the same base
    * store and double-commit a shared digest under different keepers. A
    * concurrent writer fails loudly with the holder's identity instead
    * of corrupting the store. */
  def exactBatch(
      docsNew: DataFrame,
      storeDir: String,
      textCol: String = "text",
      storeParts: Int = AutoStoreParts,
      compactFiles: Int = 0): DataFrame =
    StoreCycle.run(docsNew, storeDir, storeParts, compactFiles) { mf =>
      val (binKeys, encMeta) = keyEncodingOf(mf)
      val digestExpr =
        if (binKeys) unhex(md5(col(textCol))) else md5(col(textCol))
      // no fanOut here (measured): one md5 per doc is too cheap to repay
      // the spread's exchange + per-task overhead at any batch size the
      // under-split gate fires on — A/B'd at sf0.1, fan-out cost ~0.6-1.4s
      // auto sizing sees one row per batch doc ≈ one distinct digest
      StoreCycle.Family(StoreLayout.named("exact"),
        docsNew.filter(col(textCol).isNotNull)
          .select(col("doc_id"), digestExpr.as("digest")),
        _ => encMeta, b => exactStep(b, binKeys))
    }

  /** Key-encoding resolution (r13 verdict #3): the md5-derived store
    * keys (exact `digest`, span `wh`) rest as 16-BYTE BINARY on stores
    * created since — half the 32-char hex string that dominated the
    * at-rest footprint — with bit-exact semantics (`unhex(md5(…))` on
    * both engines). The encoding is a structural constant like banding:
    * manifest beats everything; a pre-`key_encoding` manifest is a
    * legacy HEX store and stays keyless (the vec_type rule), readable
    * forever; `rebuildStore` migrates it to binary. Returns
    * (binary?, meta fragment for checkOrWriteMeta). */
  private[ops] def keyEncodingOf(
      manifest: Map[String, String]): (Boolean, Map[String, String]) = {
    val manifestExists = manifest.contains("store_parts")
    val mEnc = manifest.get("key_encoding")
    val bin = mEnc.map(_ == "binary").getOrElse(!manifestExists)
    val meta =
      if (manifestExists && mEnc.isEmpty) Map.empty[String, String]
      else Map("key_encoding" -> (if (bin) "binary" else "hex"))
    (bin, meta)
  }

  /** The exact family's compute: verdicts against the pruned store,
    * doc-index pairs from the keepers, the novel digests to append. */
  private def exactStep(b: StoreCycle.Batch,
      binKeys: Boolean): StoreCycle.Step[DataFrame] = {
    // batch-internal keeper: min doc_id per digest within the batch
    val batchKeep = b.rows.groupBy("digest")
      .agg(min("doc_id").as("batch_keep"))
    val out = b.rows.drop("bp")
      .join(b.store.withColumnRenamed("keep_doc_id", "store_keep"),
        Seq("digest"), "left")
      .join(batchKeep, Seq("digest"))
      // `store_keep =!= doc_id`: on a RETRIED batch the store already
      // holds this batch's keepers — a keeper must stay novel, not be
      // reported as a duplicate of itself (idempotent re-runs)
      .withColumn("dup_of",
        when(col("store_keep").isNotNull && col("store_keep") =!= col("doc_id"),
          col("store_keep"))
          .when(col("store_keep").isNull && col("batch_keep") < col("doc_id"),
            col("batch_keep"))
          .otherwise(lit(null).cast("long")))
      .select("doc_id", "digest", "dup_of")
      // materialize BEFORE the store append: the plan reads the store
      // directory, and a lazy frame re-evaluated after the append would
      // see the batch's own digests and mark every doc a dup.
      // (Unconditional: an A/B run skipping it on creation cycles —
      // where the store side is a local empty relation the append can't
      // invalidate — measured NEUTRAL-to-WORSE at the gate; deferring a
      // creation batch's verdict join into the caller's action just
      // moves the work under someone else's plan.)
      .localCheckpoint()
    val keepers = out.filter(col("dup_of").isNull)
    StoreCycle.Step(
      // the caller-facing digest is hex STRING regardless of the at-rest
      // encoding (lower(hex(binary)) ≡ md5 hex — bit-exact, and the gate's
      // DuckDB oracle never changes); a map-only projection over the
      // checkpointed verdicts
      if (binKeys) out.withColumn("digest", lower(hex(col("digest")))) else out,
      // index pairs from the CHECKPOINTED verdicts — a retried batch
      // re-derives the same pairs, and appendDocIndex tolerates the
      // duplicates (its per-batch distinct doesn't anti-join the stored
      // index; repeats are erased by retractDocIndex, and the
      // distinct-bps consult absorbs them as pruning cost only)
      keepers.select(col("doc_id").as("keep_doc_id"), b.bp.as("bp")),
      // the batch's NOVEL digests (one keeper per new digest); the
      // anti-join makes a RETRIED batch — whose keepers stay novel in the
      // verdicts but whose digests are already stored — append nothing
      // (equal digests share a bp, so the pruned view is a complete
      // witness)
      Some(keepers.join(b.store.select("digest"), Seq("digest"), "left_anti")
        .select(col("digest"), col("doc_id").as("keep_doc_id"))
        .withColumn("bp", b.bp)))
  }

  /** MinHash near-dup pairs of one batch against the signature store at
    * `storeDir` (created if absent): returns (doc_a, doc_b, est_jaccard)
    * for every pair with at least one side in the batch (store-internal
    * pairs were reported when THEIR batches arrived), then appends the
    * batch's banded signature rows to the store. Over a sequence of
    * batches the union of results equals the full-corpus
    * `Dedup.minhashLshPairs`.
    *
    * Holds the store lock for the read → compute → append cycle like
    * `exactBatch` — a concurrent writer fails loudly, never corrupts. */
  def minhashBatch(
      docsNew: DataFrame,
      storeDir: String,
      textCol: String = "text",
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.5,
      storeParts: Int = AutoStoreParts,
      compactFiles: Int = 0): DataFrame =
    StoreCycle.run(docsNew, storeDir, storeParts, compactFiles) { _ =>
      // the ONE banding implementation (Dedup.bandSignatures): the store
      // holds banded rows, so it is only usable if every batch bands
      // identically — same bands, same rowsPerBand, same hash. Auto
      // sizing sees banded rows = docs × bands exactly.
      val bandedRaw = Dedup.bandSignatures(
        Dedup.minhashSignatures(
          // fanOut: signature compute is the batch's CPU pass (see
          // Scale.fanOutForCompute — no-op on well-split scans)
          Scale.fanOutForCompute(docsNew, col("doc_id")),
          textCol, numHashes = numHashes),
        bands, numHashes / bands)
      StoreCycle.Family(StoreLayout.named("minhash"), bandedRaw,
        _ => Map("num_hashes" -> numHashes.toString, "bands" -> bands.toString),
        b => {
          val batchBanded = b.rows.drop("bp")
          // candidates: every bucket pair touching the batch. doc_a < doc_b
          // normalizes orientation and drops self-pairs; dropDuplicates
          // collapses pairs sharing several buckets.
          // MERGE hint (r18, found at the 1000× soak): both sides of the
          // bucket-candidate join scale with the corpus, but Catalyst's
          // static size estimate for the computed-signature side can land
          // under the auto-broadcast threshold — at 5M docs the optimizer
          // tried to build a ~2.7 GB driver broadcast and died on
          // maxResultSize (on a real cluster it would OOM executors). Pin
          // the join to sort-merge: corpus×corpus joins must never ride a
          // static-estimate broadcast.
          val out = b.store.unionByName(batchBanded).as("a")
            .join(batchBanded.as("b").hint("merge"), Seq("band", "bh"))
            .filter(col("a.doc_id") =!= col("b.doc_id"))
            .select(
              least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
              greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"),
              when(col("a.doc_id") < col("b.doc_id"), col("a.sig"))
                .otherwise(col("b.sig")).as("sig_a"),
              when(col("a.doc_id") < col("b.doc_id"), col("b.sig"))
                .otherwise(col("a.sig")).as("sig_b"))
            .dropDuplicates("doc_a", "doc_b")
            .withColumn("est_jaccard",
              Dedup.estJaccard(col("sig_a"), col("sig_b"), numHashes))
            .filter(col("est_jaccard") >= threshold)
            .select("doc_a", "doc_b", "est_jaccard")
            // materialize BEFORE the store append rewrites the directory
            // the `store` side of the join reads (unconditional — see the
            // exact variant's A/B note)
            .localCheckpoint()
          rowStep(out, b, "doc_id", "band")
        })
    }

  /** The step tail of the stores that append the batch's own rows: index
    * the whole batch, append the rows the pruned store lacks.
    *
    * Idempotent append: a retried batch (downstream failure, re-run)
    * must not duplicate its rows — a doubled store would inflate every
    * future batch's bucket join and break the batch-sequence =
    * full-corpus parity contract. ROW-granular (id, band/table)
    * anti-join, not id: a crashed append may have committed only SOME of
    * a doc's band rows, and an id-granular join would see one witness row
    * and drop the rest forever (silent permanent recall loss); per-row,
    * the retry appends exactly the missing rows and the store converges
    * to complete. A retried row hashes to the SAME bucket (deterministic
    * signatures and planes), so the pruned view is a complete per-row
    * witness. */
  private def rowStep(out: DataFrame, b: StoreCycle.Batch,
      rowKey: String*): StoreCycle.Step[DataFrame] =
    StoreCycle.Step(out, b.rows,
      Some(b.rows.join(b.store.select(rowKey.map(col): _*), rowKey, "left_anti")))

  /** Exact n-gram Jaccard near-dup pairs of one batch against the
    * posting-list store at `storeDir` (created if absent) — the
    * incremental inverted index: the store holds one row per
    * (doc, distinct gram hash) with the doc's gram count riding every
    * row, hive-partitioned by gram-hash bucket. A batch joins its own
    * posting rows against ONLY the store partitions its grams hash
    * into, so append cost is O(|batch postings| + touched buckets) —
    * never a full-corpus re-join. A warm cycle runs three pruned store
    * scans (idempotency anti-join, df aggregate, posting semi-join) —
    * one more than the sketch stores, the price of exact df; the
    * pruning pin bounds each below 10% of the store (scans are
    * columnar and embarrassingly parallel — the 100 TB trade
    * documented on the one-shot). Returns (doc_a, doc_b, n_common,
    * jaccard) for every pair at `threshold` with at least one side in
    * the batch; over a batch sequence the union equals the one-shot
    * `Dedup.ngramJaccardPairs` WHENEVER the one-shot itself is exact,
    * i.e. no gram's final document frequency exceeds `dfCap` (the
    * one-shot's own exactness condition — a gram crossing the cap
    * AFTER a pair was emitted would be dropped by the one-shot but was
    * counted at emission time here). df is computed per cycle over the
    * bucket-complete pruned view ∪ batch, so it is EXACT for every
    * gram the batch touches at that point in time.
    *
    * Pair counting discipline: the unified row set (store ∪ novel
    * batch rows) is duplicate-free by construction (the novel rows are
    * the append's own (doc_id, shingle) anti-join), and each unordered
    * pair is counted once — batch⋈batch pairs keep `a < b`, store-only
    * ⋈ batch pairs keep any orientation and normalize — so `n_common`
    * is the true shared-gram count, never doubled. A retried batch's
    * rows arrive from the STORE side (flagged as batch members by id),
    * so retries re-emit their pairs and append nothing.
    *
    * `n` is store geometry (every batch must shingle identically) and
    * rides the manifest; `threshold`/`dfCap` are per-call query
    * parameters — keep them constant across a store's lifetime or the
    * union-parity contract above is off. Holds the store lock for the
    * read → compute → append cycle like `exactBatch`. */
  def ngramBatch(
      docsNew: DataFrame,
      storeDir: String,
      textCol: String = "text",
      n: Int = 5,
      threshold: Double = 0.5,
      dfCap: Int = 1000,
      storeParts: Int = AutoStoreParts,
      compactFiles: Int = 0): DataFrame =
    StoreCycle.run(docsNew, storeDir, storeParts, compactFiles) { mf =>
      val grams = graft.functions.SketchExprs
        .gramHashes(col(textCol), n, distinct = true)
      val layout = StoreLayout.named("ngram")
      // gram-bloom geometry (r13): adopted from the manifest, or sized at
      // creation from this batch's posting rows (rows upper-bound
      // distinct grams; a store that outgrows the cap only DEGRADES the
      // bloom's fp rate — probes drift back toward the touched-partition
      // scan, never toward wrong answers — and `rebuildStore` re-sizes
      // it). Legacy pre-bloom manifests stay keyless and skip the
      // sidecar entirely (the vec_type rule).
      val bloom = layout.bloom.get
      // one row per (doc, distinct gram), the doc's gram count riding —
      // the posting-row trade (minhash variant doc): sizes are in hand at
      // the pair join, no O(corpus) size-fetch join afterwards. Auto
      // sizing sees one posting row per (doc, distinct gram) — more rows
      // per doc than the banded sketch stores, same 4 Ki target.
      // fanOut: gram hashing is the batch's CPU pass (see
      // Scale.fanOutForCompute — no-op on well-split scans)
      StoreCycle.Family(layout,
        Scale.fanOutForCompute(docsNew, col("doc_id"))
          .select(col("doc_id"),
            explode(grams).as("shingle"),
            coalesce(size(grams), lit(0)).cast("long").as("nsh")),
        rows => Map("n" -> n.toString) ++ bloom.meta(mf, rows),
        b => ngramStep(b, bloom.probe(b, storeDir), threshold, dfCap))
    }

  private def ngramStep(
      b: StoreCycle.Batch,
      store: DataFrame,
      threshold: Double,
      dfCap: Int): StoreCycle.Step[DataFrame] = {
    val newBatch = b.rows
    // `store` is the bloom probe's pruned view: a MISS gram is
    // definitively absent from the store, so partitions touched only by
    // never-seen grams drop out of every pruned scan below — the
    // dominant scan cost of fresh-document appends (BASELINE §r12: ~100
    // touched buckets per doc vs 16 for the sketch stores)
    // novel rows: the append payload AND the batch side of the unified
    // set — checkpointed once (bp riding for the partitioned append),
    // BEFORE the append rewrites the store dir
    val newRows = newBatch.join(store.select("doc_id", "shingle"),
        Seq("doc_id", "shingle"), "left_anti")
      .localCheckpoint()
    // ids off the CHECKPOINTED rows, not docsNew — the caller's
    // upstream plan must not re-execute for a flag column (a doc with
    // zero grams contributes no flagged rows, so its absence is moot)
    val batchIds = newBatch.select("doc_id").distinct()
    val flagged = store.unionByName(newRows.drop("bp"))
      .join(batchIds.withColumn("inb", lit(true)), Seq("doc_id"), "left")
      .withColumn("inb", coalesce(col("inb"), lit(false)))
    // document frequency over the bucket-complete view — exact for
    // every gram the batch touches; the (1, dfCap] filter is the same
    // quadratic-hazard bound as the one-shot
    val shared = flagged.groupBy("shingle").agg(count(lit(1)).as("__df"))
      .filter(col("__df") > 1 && col("__df") <= dfCap)
      .select("shingle")
    val capped = flagged.join(shared, Seq("shingle"), "left_semi")
      .localCheckpoint()
    val out = capped.as("a")
      // merge hint: corpus×corpus posting self-join — see the minhash
      // variant's r18 note (static-estimate broadcast blowup at 1000×)
      .join(capped.filter(col("inb")).as("b").hint("merge"), Seq("shingle"))
      .filter(col("a.doc_id") =!= col("b.doc_id") &&
        (!col("a.inb") || col("a.doc_id") < col("b.doc_id")))
      .select(
        least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"),
        when(col("a.doc_id") < col("b.doc_id"), col("a.nsh"))
          .otherwise(col("b.nsh")).as("size_a"),
        when(col("a.doc_id") < col("b.doc_id"), col("b.nsh"))
          .otherwise(col("a.nsh")).as("size_b"))
      .groupBy("doc_a", "doc_b", "size_a", "size_b")
      .agg(count(lit(1)).as("n_common"))
      .withColumn("jaccard",
        round(col("n_common").cast("double") /
          (col("size_a") + col("size_b") - col("n_common")).cast("double"), 4))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "n_common", "jaccard")
      // materialize BEFORE the append below rewrites the directory the
      // `store` side reads (unconditional — see the exact variant)
      .localCheckpoint()
    StoreCycle.Step(out, newBatch, Some(newRows))
  }

  /** SimHash near-dup pairs of one batch against the banded-signature
    * store at `storeDir` (created if absent): returns
    * (doc_a, doc_b, hamming) for every pair within `maxHamming` with at
    * least one side in the batch (store-internal pairs were reported
    * when THEIR batches arrived). Over a sequence of batches the union
    * of results equals the full-corpus `Dedup.simhashPairs` — and the
    * pigeonhole completeness proof carries over batch boundaries: a
    * cross-batch pair within the radius shares at least one exact band
    * value, the store holds every older doc's complete band rows, and
    * equal (band, bh) hashes to the same store partition, so the pruned
    * view always contains the witness row.
    *
    * Holds the store lock for the read → compute → append cycle like
    * `exactBatch` — a concurrent writer fails loudly, never corrupts. */
  def simhashBatch(
      docsNew: DataFrame,
      storeDir: String,
      textCol: String = "text",
      maxHamming: Int = 3,
      storeParts: Int = AutoStoreParts,
      compactFiles: Int = 0): DataFrame =
    StoreCycle.run(docsNew, storeDir, storeParts, compactFiles) { _ =>
      // the ONE banding implementation (Dedup.simhashBanded): the store
      // holds banded rows, so every batch must band identically — same
      // radius, same widths (max_hamming rides the manifest). Auto sizing
      // sees banded rows = docs × (radius + 1) exactly.
      val bandedRaw = Dedup.simhashBanded(
        // fanOut: signature compute is the batch's CPU pass (see
        // Scale.fanOutForCompute — no-op on well-split scans)
        Dedup.simhash(Scale.fanOutForCompute(docsNew, col("doc_id")), textCol),
        maxHamming)
      StoreCycle.Family(StoreLayout.named("simhash"), bandedRaw,
        _ => Map("max_hamming" -> maxHamming.toString),
        b => {
          val batchBanded = b.rows.drop("bp")
          // candidates: every bucket pair touching the batch; the Hamming
          // verify needs only the two 64-bit signatures already on the
          // rows. merge hint: corpus×corpus candidate join — see the
          // minhash variant's r18 note (static-estimate broadcast blowup
          // at 1000×)
          val out = b.store.unionByName(batchBanded).as("a")
            .join(batchBanded.as("b").hint("merge"), Seq("band", "bh"))
            .filter(col("a.doc_id") =!= col("b.doc_id"))
            .select(
              least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
              greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"),
              bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
                .cast("long").as("hamming"))
            .dropDuplicates("doc_a", "doc_b")
            .filter(col("hamming") <= maxHamming)
            // materialize BEFORE the store append rewrites the directory
            // the `store` side of the join reads (unconditional — see the
            // exact variant's A/B note)
            .localCheckpoint()
          rowStep(out, b, "doc_id", "band")
        })
    }

  /** Embedding near-dup pairs of one batch against the vector store at
    * `storeDir` (created if absent) — the cosine-domain member of the
    * incremental family: returns (id_a, id_b, cosine) for every pair
    * with true cosine ≥ `threshold` and at least one side in the batch
    * (store-internal pairs were reported when THEIR batches arrived),
    * then appends the batch's bucketed vector rows to the store. Over a
    * batch sequence the union of results equals the full-corpus
    * `Dedup.embeddingNearDupPairs` (the blocking planes are
    * deterministic, so batch order cannot change which pairs block).
    *
    * Scale shape mirrors the batch operator: multi-table hyperplane LSH
    * blocks candidates map-only (`tables` bucket rows per vector), only
    * buckets TOUCHING the batch are read (partition-pruned store scan),
    * the exact cosine is computed map-side while both vectors are in
    * hand from the bucket join, and the pair-dedupe exchange moves
    * (id, id, cosine) rows — vectors never ride it. The store pays
    * `tables`× vector duplication for that locality: the alternative —
    * a bucket index without payloads — needs an O(corpus) vector-fetch
    * join per append, which is exactly the scan this layout deletes.
    *
    * Holds the store lock for the read → compute → append cycle like
    * the other variants — a concurrent writer fails loudly, never
    * corrupts.
    *
    * Vector width: a store created from a FLOAT source stores
    * ARRAY<FLOAT> (`vec_type:float` in the manifest) — embeddings are
    * overwhelmingly fp32 at the source, and doubling them at rest was a
    * 2× tax on store bytes AND on every bucket-join shuffle (the r9
    * verdict's footprint finding). Scores are UNCHANGED: float→double
    * is exact, and the cosine/plane expressions accept either width
    * natively (VectorExprs accumulates in double for both). A store
    * created from a DOUBLE source — or any pre-`vec_type` manifest —
    * stores ARRAY<DOUBLE>, and float batches upcast exactly into it.
    * The one forbidden direction is double batches into a float store
    * (narrowing is lossy); the manifest check makes that loud. */
  /** Store layout is a structural constant like `planes`/`tables`:
    *  - `"inline"` (default): bucket rows carry the vector — `tables`×
    *    vector duplication at rest buys a verify with both vectors in
    *    hand from the bucket join (no fetch join at all).
    *  - `"split"`: the posting/forward-index split — `postings/` holds
    *    vector-free bucket rows (hive by bucket hash) and `vectors/`
    *    holds each vector ONCE (hive by id hash). Candidates come from
    *    the same pruned bucket join, DEDUPED while still vector-free,
    *    then the two vectors are fetched by a join against only the
    *    id-hash partitions the candidate ids live in (an O(k) driver
    *    collect of partition ids, the `touched` pattern). At rest this
    *    is ~`tables`× smaller, and the blocking exchange moves 24-byte
    *    posting rows instead of vectors — the trade to take when
    *    near-dup candidates are rare relative to corpus (always, at
    *    100 TB); inline wins only when the fetch join's two extra
    *    shuffles cost more than `tables`× scan+storage, i.e. tiny
    *    stores. Crash order: vectors append BEFORE postings — a crash
    *    between leaves a vector without postings (unreachable,
    *    harmless, repaired by the retry) and never a posting whose
    *    candidate pair would silently drop at the fetch join.
    * The layout rides the manifest. The default `"adopt"` follows the
    * store (creation ⇒ inline) — layout is discoverable and
    * result-neutral, so restarted streams and naive callers need no
    * foreknowledge; an EXPLICIT layout that disagrees with the store
    * fails loudly, same as mismatched banding. */
  def embeddingBatch(
      embsNew: DataFrame,
      storeDir: String,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      threshold: Double = 0.95,
      planes: Int = 8,
      tables: Int = 16,
      storeParts: Int = AutoStoreParts,
      compactFiles: Int = 0,
      layout: String = "adopt"): DataFrame =
    StoreCycle.run(embsNew, storeDir, storeParts, compactFiles) { mf =>
      // srcType: only a FLOAT source earns a float store; every other
      // element type (double, but also int/long/decimal arrays a caller
      // may hand us) is "double" and MUST be cast below — writing a raw
      // non-double array into a store whose schema says ARRAY<DOUBLE>
      // would make the store unreadable on the next batch
      val srcElem = embsNew.schema(vecCol).dataType match {
        case org.apache.spark.sql.types.ArrayType(e, _) => e
        case other => throw new IllegalArgumentException(
          s"$vecCol must be an array column, got ${other.sql}")
      }
      val srcType =
        if (srcElem == org.apache.spark.sql.types.FloatType) "float"
        else "double"
      // store width: the manifest's vec_type beats everything; a manifest
      // without one is a pre-vec_type store (always double); creation
      // adopts the source width
      require(layout == "inline" || layout == "split" || layout == "adopt",
        s"layout must be inline, split, or adopt: $layout")
      val manifestExists = mf.contains("store_parts")
      val mVecType = mf.get("vec_type")
      val vecType = mVecType.getOrElse(if (manifestExists) "double" else srcType)
      // explicit layout is strict like every other structural constant
      // (manifests predating the key are inline by construction); the
      // "adopt" default follows the manifest — layout is DISCOVERABLE
      // and result-neutral, so restarted streams and naive callers need
      // no foreknowledge, unlike banding (which silently changes rows)
      val mLayout = mf.get("store_layout")
      val storeLayout =
        if (layout == "adopt") mLayout.getOrElse("inline")
        else {
          require(!manifestExists || mLayout.getOrElse("inline") == layout,
            s"store $storeDir was created with layout " +
              s"${mLayout.getOrElse("inline")} but this batch requests $layout — " +
              "a store must be read with the constants it was written under")
          layout
        }
      require(vecType == "double" || srcType == "float",
        s"store $storeDir holds ARRAY<FLOAT> vectors (vec_type:float) but " +
          s"this batch's $vecCol is double — narrowing would change scores; " +
          "rebuild the store as double or cast the batch explicitly")
      // cast unless the batch's ELEMENT type already equals the store
      // width exactly — srcType alone is not enough (an int/long array is
      // labeled "double" but still needs the cast)
      val widthMatches = (vecType == "float" &&
        srcElem == org.apache.spark.sql.types.FloatType) ||
        (vecType == "double" &&
          srcElem == org.apache.spark.sql.types.DoubleType)
      // fanOut: the 16-table lshSignature explode below is the batch's CPU
      // pass (see Scale.fanOutForCompute — no-op on well-split scans)
      val newVecs = Scale.fanOutForCompute(embsNew, col(idCol))
        .select(col(idCol).cast("long").as("vec_id"),
          (if (widthMatches) col(vecCol)
           else transform(col(vecCol), x => x.cast(vecType))).as("vec"))
      // map-only bucket explode, shared with the batch path's geometry:
      // same planes ⇒ the store blocks identically for every batch
      def bucketed(v: DataFrame): DataFrame = v.select(
        col("vec_id"), col("vec"),
        explode(array((0 until tables).map { t =>
          struct(lit(t).as("tbl"),
            Similarity.lshSignature(col("vec"), planes, t * planes).as("bucket"))
        }: _*)).as("tb"))
        .select(col("vec_id"), col("vec"),
          col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
      // legacy (pre-vec_type) manifests: omit the key from the strict
      // check — their implicit width is double and vecType already is;
      // same legacy rule for a pre-layout manifest
      val meta = Map("planes" -> planes.toString, "tables" -> tables.toString) ++
        (if (manifestExists && mVecType.isEmpty) Map.empty
         else Map("vec_type" -> vecType)) ++
        (if (manifestExists && mLayout.isEmpty) Map.empty
         else Map("store_layout" -> storeLayout))
      // One eager checkpoint feeds both join sides and the append; auto
      // sizing sees bucketed rows = vectors × tables exactly
      if (storeLayout == "split") {
        // split postings never persist the vector, so the checkpoint that
        // feeds the bucket join and the append must not carry it either.
        // Split layout pins the caller's upstream plan ONCE here: postings
        // and the vectors/ rows must come from the same materialization —
        // a nondeterministic source (sample, generated ids) re-executed
        // per leg could commit vectors/ rows that disagree with postings/,
        // and a posting id missing from vectors/ silently drops its
        // candidate pair at the fetch join. Inline needs no pin: its one
        // checkpointed frame carries both the posting and the vector.
        val pinned = newVecs.localCheckpoint()
        val l = StoreLayout.named("embedding", "split")
        StoreCycle.Family(l, bucketed(pinned).drop("vec"), _ => meta,
          b => embeddingSplitStep(b, pinned, storeDir, l.tables(1), threshold))
      } else
        StoreCycle.Family(StoreLayout.named("embedding"), bucketed(newVecs),
          _ => meta, b => {
            val batchBucketed = b.rows.drop("bp")
            // fanOut on the JOIN key (r20): the candidate join's reduce
            // side is where every cosine runs, and AQE's byte-based
            // coalescing squeezed it to 2-3 tasks at small scale (2.1 s
            // serialized, profiled) — the explicit small-input repartition
            // pins a parallel width the coalescer can't see past; no-op
            // when the inputs already carry ≥ width partitions (the
            // at-scale case)
            val out = Scale.fanOutForCompute(
                b.store.unionByName(batchBucketed), col("tbl"), col("bucket")).as("a")
              // merge hint: corpus×corpus candidate join — see the minhash
              // variant's r18 note (static-estimate broadcast blowup at 1000×)
              .join(Scale.fanOutForCompute(batchBucketed, col("tbl"), col("bucket"))
                .as("b").hint("merge"), Seq("tbl", "bucket"))
              .filter(col("a.vec_id") =!= col("b.vec_id"))
              // score BEFORE the pair dedupe (cosine is symmetric,
              // orientation free): the dedupe exchange then moves 32-byte
              // rows, not vectors
              .select(
                least(col("a.vec_id"), col("b.vec_id")).as("id_a"),
                greatest(col("a.vec_id"), col("b.vec_id")).as("id_b"),
                round(Similarity.cosine(col("a.vec"), col("b.vec")), 4).as("cosine"))
              .dropDuplicates("id_a", "id_b")
              .filter(col("cosine") >= threshold)
              // materialize BEFORE the store append rewrites the directory
              // the `store` side of the join reads (unconditional — see
              // the exact variant's A/B note)
              .localCheckpoint()
            rowStep(out, b, "vec_id", "tbl")
          })
    }

  /** The split-layout step (see `embeddingBatch`'s layout doc):
    * candidates from the vector-free posting join, deduped, then both
    * vectors fetched from only the id-hash partitions the candidate ids
    * live in. The vectors append here, BEFORE the cycle's postings
    * append (the crash order in `embeddingBatch`'s doc). */
  private def embeddingSplitStep(
      b: StoreCycle.Batch,
      newVecs: DataFrame,
      storeDir: String,
      vectors: StoreTable,
      threshold: Double): StoreCycle.Step[DataFrame] = {
    val spark = b.rows.sparkSession
    val batchP = b.rows.drop("bp")
    // the batch's vectors, one row each, id-hash partitioned; the fused
    // observe yields the vector partitions the batch touches (append
    // witness + compaction scope)
    val obsV = Observation()
    val newVecRows = newVecs
      .withColumn("bp", bpOf(b.parts, col("vec_id")))
      .observe(obsV, collect_set(col("bp")).as("touched"))
      .localCheckpoint()
    val batchVps = intSeqOf(obsV.get("touched"))
    // candidates dedupe BEFORE any vector is in flight: the blocking
    // exchange moves 24-byte posting rows and the pair-dedupe 16-byte
    // id pairs — vectors never ride either
    val cand = b.store.unionByName(batchP).as("a")
      // merge hint: corpus×corpus candidate join — see the minhash
      // variant's r18 note (static-estimate broadcast blowup at 1000×)
      .join(batchP.as("b").hint("merge"), Seq("tbl", "bucket"))
      .filter(col("a.vec_id") =!= col("b.vec_id"))
      .select(
        least(col("a.vec_id"), col("b.vec_id")).as("id_a"),
        greatest(col("a.vec_id"), col("b.vec_id")).as("id_b"))
      .dropDuplicates("id_a", "id_b")
      .localCheckpoint()
    // O(k) driver edge, the `touched` pattern: the candidate ids'
    // vector partitions — the fetch below scans ONLY those
    val candVps = cand.select(explode(array(
        bpOf(b.parts, col("id_a")),
        bpOf(b.parts, col("id_b")))).as("vp"))
      .distinct().collect().map(_.getInt(0)).toIndexedSeq
    val readV = vectors.read(spark, storeDir, b.manifest)
    def stored(ps: Seq[Int]): DataFrame =
      if (readV._2) prune(readV._1, ps) else readV._1.drop("bp")
    val fetched = stored(candVps)
      .unionByName(newVecRows.drop("bp"))
      // a retried batch's ids exist on both sides; the rows are
      // identical, keep one
      .dropDuplicates("vec_id")
    val out = cand
      .join(fetched.select(col("vec_id").as("id_a"), col("vec").as("va")),
        Seq("id_a"))
      .join(fetched.select(col("vec_id").as("id_b"), col("vec").as("vb")),
        Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(Similarity.cosine(col("va"), col("vb")), 4).as("cosine"))
      .filter(col("cosine") >= threshold)
      // materialize before the appends rewrite the directories the
      // fetch/anti-join plans read
      .localCheckpoint()
    // vectors FIRST (crash-order contract in embeddingBatch's doc)
    appendStore(
      newVecRows.join(stored(batchVps).select("vec_id"), Seq("vec_id"), "left_anti"),
      vectors.dir(storeDir), math.max(1, batchVps.size))
    rowStep(out, b, "vec_id", "tbl").copy(alsoCompact = Seq((vectors, batchVps)))
  }

  /** Streaming form of `exactBatch`: dedup a document STREAM against
    * the persisted store. Each micro-batch runs the locked
    * read → compute → append cycle via `foreachBatch`, so the stream
    * inherits the batch operator's exactness, idempotent replay (a
    * re-run epoch appends nothing to the STORE — it keeps novel digests
    * only — and a replayed batch computes identical verdicts against
    * it), and multi-writer discipline. Verdict rows land under
    * `resultsDir/batch=<epoch>`, OVERWRITTEN per epoch — foreachBatch is
    * at-least-once, and the per-epoch overwrite is what upgrades the
    * results sink to exactly-once across replays (a blind append would
    * duplicate the replayed epoch's rows). This is the live-feed twin of
    * the backfill path — ONE operator definition serves both, the
    * property StreamingCurationSpec pins for the stateless curation
    * expressions and this method extends to stateful-store dedup.
    *
    * Streaming defaults to `AdoptOrDefaultStoreParts`: NOT auto-sizing
    * (a stream's first micro-batch is typically tiny — often empty —
    * and auto geometry sizes the store from batch 0 forever, freezing a
    * growing store at the 32-part floor), and NOT a bare fixed default
    * either (the strict manifest check would hard-fail every micro-batch
    * on RESTART against a store created under any other geometry). The
    * sentinel adopts an existing manifest and creates at
    * `DefaultStoreParts`. A caller who knows the expected corpus passes
    * `storePartsFor(expectedRows)` explicitly.
    *
    * `compactFiles` defaults ON for streams (64): per-epoch appends are
    * exactly the workload that dies of small files — a week of 1-minute
    * triggers is ~10k files per hot partition — and the touched-set
    * check amortizes one selective rewrite per 64 epochs. */
  /** Shared foreachBatch plumbing of the five stream twins: one locked
    * batch cycle per micro-batch, results under `resultsDir/batch=<epoch>`
    * with the per-epoch-overwrite exactly-once contract (a replayed
    * epoch overwrites its own output and appends nothing to the store —
    * the cycles' idempotency anti-joins). */
  private[ops] def streamCycles(
      docsStream: DataFrame, resultsDir: String, checkpointDir: String)(
      cycle: DataFrame => DataFrame): org.apache.spark.sql.streaming.StreamingQuery =
    docsStream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        cycle(batch.toDF())
          .write.mode("overwrite").parquet(s"$resultsDir/batch=$id")
        ()
      }
      .start()

  def exactStream(
      docsStream: DataFrame,
      storeDir: String,
      resultsDir: String,
      checkpointDir: String,
      textCol: String = "text",
      storeParts: Int = AdoptOrDefaultStoreParts,
      compactFiles: Int = 64): org.apache.spark.sql.streaming.StreamingQuery =
    streamCycles(docsStream, resultsDir, checkpointDir)(
      exactBatch(_, storeDir, textCol, storeParts, compactFiles))

  /** Streaming twin of `minhashBatch` — near-dup pairs of a document
    * stream against the persisted signature store, one locked cycle per
    * micro-batch; pair rows land under `resultsDir/batch=<epoch>` with
    * the same per-epoch-overwrite exactly-once contract as
    * `exactStream` — and the same `AdoptOrDefaultStoreParts` default
    * (adopt the manifest; create at the fixed default). */
  def minhashStream(
      docsStream: DataFrame,
      storeDir: String,
      resultsDir: String,
      checkpointDir: String,
      textCol: String = "text",
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.5,
      storeParts: Int = AdoptOrDefaultStoreParts,
      compactFiles: Int = 64): org.apache.spark.sql.streaming.StreamingQuery =
    streamCycles(docsStream, resultsDir, checkpointDir)(
      minhashBatch(_, storeDir, textCol, numHashes, bands,
        threshold, storeParts, compactFiles))

  /** Streaming twin of `ngramBatch` — exact-Jaccard near-dup pairs of
    * a document stream against the persisted posting-list store, one
    * locked cycle per micro-batch; pair rows land under
    * `resultsDir/batch=<epoch>` with the same per-epoch-overwrite
    * exactly-once contract as `exactStream` — and the same
    * `AdoptOrDefaultStoreParts` default (adopt the manifest; create at
    * the fixed default). */
  def ngramStream(
      docsStream: DataFrame,
      storeDir: String,
      resultsDir: String,
      checkpointDir: String,
      textCol: String = "text",
      n: Int = 5,
      threshold: Double = 0.5,
      dfCap: Int = 1000,
      storeParts: Int = AdoptOrDefaultStoreParts,
      compactFiles: Int = 64): org.apache.spark.sql.streaming.StreamingQuery =
    streamCycles(docsStream, resultsDir, checkpointDir)(
      ngramBatch(_, storeDir, textCol, n, threshold, dfCap,
        storeParts, compactFiles))

  /** Streaming twin of `simhashBatch` — near-dup pairs of a document
    * stream against the persisted banded-signature store, one locked
    * cycle per micro-batch; pair rows land under
    * `resultsDir/batch=<epoch>` with the same per-epoch-overwrite
    * exactly-once contract as `exactStream` — and the same
    * `AdoptOrDefaultStoreParts` default (adopt the manifest; create at
    * the fixed default). */
  def simhashStream(
      docsStream: DataFrame,
      storeDir: String,
      resultsDir: String,
      checkpointDir: String,
      textCol: String = "text",
      maxHamming: Int = 3,
      storeParts: Int = AdoptOrDefaultStoreParts,
      compactFiles: Int = 64): org.apache.spark.sql.streaming.StreamingQuery =
    streamCycles(docsStream, resultsDir, checkpointDir)(
      simhashBatch(_, storeDir, textCol, maxHamming,
        storeParts, compactFiles))

  /** Compact a store in place: every append leaves one file per touched
    * partition, so a store that has absorbed thousands of batches holds
    * thousands of small files per `bp=` directory — and small files,
    * not data volume, become the scan bottleneck (open/footer cost per
    * file; at 100 TB with hourly appends this is the classic
    * streaming-ingest small-file death). Run under the same store lock
    * as the batch cycles, so no reader/writer ever sees a half-swapped
    * store.
    *
    * Crash discipline: each table's fragmented partitions are rewritten
    * through the store layer's one partition swap,
    * [[Retract.replacePartitions]] — staged under `_retract_tmp`, then
    * committed by the `_retract_pending` marker and its roll-forward (or
    * one pointer PUT on a pointer store). A crash before the commit
    * leaves only staging the next sweep discards; after it, every locked
    * read and the lock-free readers' heal finish the swap, and the
    * epoch bump lets seqlock readers see it. Tables with a whole-table
    * swap of their own (the components labels, the IVF assignments) are
    * left to their modules. Returns the number of partition directories
    * rewritten. */
  def compactStore(spark: SparkSession, storeDir: String): Int =
    graft.fs.StoreLock.withLock(storeDir,
      spark.sparkContext.hadoopConfiguration) {
      // every table of the layout compacts under the one root lock (the
      // split embedding and bm25 stores keep theirs one level down)
      val mf = storeManifest(spark, storeDir)
      StoreLayout.of(mf).filter(_.swap.isEmpty).toSeq.flatMap(_.tables)
        .map(compactStoreLocked(spark, storeDir, _, mf)).sum
    }

  /** Rebuild a store under NEW partition geometry, into a fresh
    * directory — the migration path `storePartsFor`'s doc promises for
    * a store that outgrew its creation-time sizing (a 32-part gate
    * store that became a billion-row deployment prunes appends at
    * 1/32 forever until rebuilt). Rows are RE-BUCKETED, never
    * recomputed: signatures/postings/vectors — the expensive part —
    * copy verbatim; only `bp` is rehashed under `newParts`
    * (`AutoStoreParts` sizes from the store's actual row count, the
    * same policy creation uses). The copy is crash-safe by
    * construction: data lands in `dstDir` first and the manifest —
    * the only thing that makes a directory a store — commits LAST, so
    * a crashed rebuild leaves an unadoptable data-bearing dir that
    * `checkOrWriteMeta`'s foreign-store guard refuses (delete and
    * re-run), never a half-geometry store. Runs under the SOURCE
    * store's lock so the snapshot is consistent against concurrent
    * appends; callers repoint their pipeline to `dstDir` when it
    * returns (the table-rebuild-then-repoint discipline — in-place
    * geometry swap is deliberately not offered: its crash windows
    * would need recovery hooks in every cycle for a maintenance
    * operation that runs once per store lifetime). Returns the new
    * partition count. */
  def rebuildStore(
      spark: SparkSession,
      srcDir: String,
      dstDir: String,
      newParts: Int = AutoStoreParts): Int =
    graft.fs.StoreLock.withLock(srcDir,
      spark.sparkContext.hadoopConfiguration) {
      rebuildStoreLocked(spark, srcDir, dstDir, newParts)
    }

  private def rebuildStoreLocked(
      spark: SparkSession, srcDir: String, dstDir: String,
      requestedParts: Int): Int = {
    // distinguish "not a store" from "store with a broken manifest" —
    // the operator actions differ (wrong path vs repair the file)
    val mPath = new org.apache.hadoop.fs.Path(srcDir, "_graft_store.json")
    val srcFs = mPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(srcFs.exists(mPath),
      s"$srcDir has no _graft_store.json manifest — not a graft store")
    val manifest = storeManifest(spark, srcDir)
    require(manifest.contains("variant"),
      s"$srcDir has an unreadable _graft_store.json (or one without " +
        "'variant') — repair the manifest before rebuilding")
    val dstPath = new org.apache.hadoop.fs.Path(dstDir)
    val dstFs = dstPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(!dstFs.exists(dstPath) || dstFs.listStatus(dstPath).isEmpty,
      s"rebuild destination $dstDir exists and is not empty")
    val variant = manifest("variant")
    // the clusters store rebuilds THROUGH its merge log (resolution +
    // re-bucket in one) — its own module owns that logic
    if (variant == "components")
      return IncrementalComponents.rebuildLocked(
        spark, srcDir, dstDir, requestedParts, manifest)
    // every table re-buckets on the layout's keys — the SAME keys the
    // batch cycles hash, so the rebuilt store prunes identically to one
    // created at this size (IVF cells are learned, not hashed)
    val layout = StoreLayout.of(manifest).filter(_.tables.forall(_.keys.nonEmpty))
      .getOrElse(sys.error(s"unknown store variant in manifest: $variant " +
        "(exact|minhash|simhash|ngram|embedding|span|bm25|components)"))
    // key-encoding migration (r13 verdict #3): rebuilding a legacy HEX
    // exact/span store converts its md5 key to 16-byte BINARY — the
    // conversion runs BEFORE bp is rehashed, so the rebuilt store prunes
    // exactly like one created binary. Already-binary stores copy
    // verbatim. The dst manifest records the encoding either way.
    val hexKeyCol = layout.md5Key
      .filterNot(_ => manifest.get("key_encoding").contains("binary"))
    val encMeta: Map[String, String] =
      layout.md5Key.fold(Map.empty[String, String])(_ => Map("key_encoding" -> "binary"))
    // finish any crashed partition swap FIRST: partitions stranded
    // mid-swap are invisible to the parquet snapshot below, and a
    // rebuild that missed them would commit a silently smaller store
    layout.tables.foreach(t => Retract.sweep(spark, t.dir(srcDir)))
    // pointer-aware source reads (rename-less schemes): a rebuild that
    // listed only the legacy dirs would silently drop every versioned
    // generation
    val src = layout.tables.map(_.readRaw(spark, srcDir, manifest))
    val parts =
      if (requestedParts > 0) requestedParts
      else storePartsFor(src.head match {
        case (rows, true) => rows.count()
        case _            => 0L
      })
    layout.tables.zip(src).foreach {
      case (t, (rows, true)) => // a manifest-only store rebuilds to one
        val raw = rows.drop("bp")
        hexKeyCol.fold(raw)(k => raw.withColumn(k, unhex(col(k))))
          .withColumn("bp", bpOf(parts, t.keys.map(col): _*))
          .repartition(col("bp"))
          .write.partitionBy("bp").mode("errorifexists").parquet(t.dir(dstDir))
      case _ => ()
    }
    // the rebuilt tables, read as the new manifest will name them
    val dstMf = manifest ++ encMeta
    val (dstData, dstHas) = layout.data.readRaw(spark, dstDir, dstMf)
    // bm25: the O(1) totals sidecar carries over byte-identical
    if (variant == "bm25") {
      val sp = new org.apache.hadoop.fs.Path(srcDir, "_bm25_stats")
      val sfs = sp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (sfs.exists(sp))
        org.apache.hadoop.fs.FileUtil.copy(sfs, sp, dstFs,
          new org.apache.hadoop.fs.Path(dstDir, "_bm25_stats"),
          false, spark.sparkContext.hadoopConfiguration)
    }
    // the ngram gram bloom and the bm25 term bloom: FRESH sizing from
    // the rebuilt rows — rebuild is the saturation escape hatch for an
    // outgrown bloom, the retraction tightener (the incremental sidecar
    // stays a superset of retired keys), and the migration path that
    // gives a pre-bloom legacy store its first sidecar
    val bloomMeta: Map[String, String] = layout.bloom.filter(_ => dstHas)
      .fold(Map.empty[String, String])(_.rederive(dstData, dstDir))
    // doc→bp retraction index: re-derived fresh from the rebuilt rows
    // (bp was REHASHED above, so a carried-over index would be wrong) —
    // and the migration path that gives a pre-index legacy store its
    // first one, exactly like the gram bloom
    val docIdxMeta: Map[String, String] = layout.indexed
      .map(t => t -> t.readRaw(spark, dstDir, dstMf)) match {
        case Some((t, (rows, true))) =>
          val dp = dpPartsFor(parts)
          writeDocIndexFrom(rows, t.idCol, t.dir(dstDir), dp)
          Map("doc_index" -> "1", "doc_index_parts" -> dp.toString)
        case _ => Map.empty
      }
    // manifest LAST — the commit point; every other key carries over
    // (exact/span stores leave a rebuild binary-keyed, migrated or not)
    val merged = manifest + ("store_parts" -> parts.toString) ++
      bloomMeta ++ encMeta ++ docIdxMeta
    // re-stamp required_features from the REBUILT feature set (rebuild
    // is the migration path that grants legacy stores their first
    // sidecars — the obligations must follow, r16 ADVICE #4)
    val feats = featuresOf(merged)
    writeManifest(dstFs, dstDir,
      if (feats.isEmpty) merged - "required_features"
      else merged + ("required_features" -> feats.sorted.mkString(",")))
    parts
  }

  /** Fragmentation trigger for the batch cycles (`compactFiles` knob):
    * list the partitions THIS batch touched — O(touched) listings, never
    * the whole store — and compact when any holds more parquet files
    * than the threshold. The batch's own appends are what fragment its
    * partitions, so the touched set is exactly where fragmentation
    * shows first; amortized cost is one selective rewrite per
    * `threshold` appends, which is the knob's meaning. Runs under the
    * already-held cycle lock. */
  private[ops] def maybeCompactLocked(
      spark: SparkSession, storeDir: String, table: StoreTable,
      manifest: Map[String, String], parts: Seq[Int], threshold: Int): Unit = {
    val root = new org.apache.hadoop.fs.Path(table.dir(storeDir))
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ptr = graft.fs.PartitionPointer.readPtr(fs, root)
    if (parts.exists(p => fragmented(fs, root, ptr, threshold)(s"${table.partCol}=$p")))
      compactStoreLocked(spark, storeDir, table, manifest)
  }

  /** Whether partition `name` of the table at `root` holds more than
    * `threshold` parquet files in its live dir ([[graft.fs.PartitionPointer.liveDir]]
    * under the table's pointer `ptr`; nothing is live behind a tombstone). */
  private def fragmented(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, ptr: Option[graft.fs.PartitionPointer.Ptr],
      threshold: Int)(name: String): Boolean =
    graft.fs.PartitionPointer.liveDir(root, ptr, name).exists(d => fs.exists(d) &&
      fs.listStatus(d).count(_.getPath.getName.endsWith(".parquet")) > threshold)

  /** Rewrite each fragmented partition of `table` (more than one parquet
    * file live) as one file, through [[Retract.replacePartitions]]. The
    * rows are read with the table's pinned schema, pruned to those
    * partitions. Sweeps the table first; returns the partitions
    * rewritten. */
  private def compactStoreLocked(spark: SparkSession, storeDir: String,
      table: StoreTable, manifest: Map[String, String]): Int = {
    val dataDir = table.dir(storeDir)
    val root = new org.apache.hadoop.fs.Path(dataDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Retract.sweep(spark, dataDir)
    if (!fs.exists(root)) return 0
    val ptr = graft.fs.PartitionPointer.readPtr(fs, root)
    val frag = (fs.listStatus(root).map(_.getPath.getName)
      .filter(_.startsWith(s"${table.partCol}=")).toSeq ++
      ptr.toSeq.flatMap(_.entries.keys)).distinct
      .filter(fragmented(fs, root, ptr, 1))
    if (frag.nonEmpty)
      Retract.replacePartitions(spark, dataDir, table.partCol, frag,
        table.readRaw(spark, storeDir, manifest)._1.filter(col(table.partCol)
          .isin(frag.map(_.stripPrefix(s"${table.partCol}=").toInt): _*)))
    frag.length
  }

  /** Streaming twin of `embeddingBatch` — near-dup pairs of a vector
    * stream against the persisted bucket store, one locked cycle per
    * micro-batch; pair rows land under `resultsDir/batch=<epoch>` with
    * the same per-epoch-overwrite exactly-once contract as
    * `exactStream`, and the same `AdoptOrDefaultStoreParts` default
    * (adopt the manifest; create at the fixed default). Geometry
    * params feed the store manifest on first batch and are validated
    * against it ever after. */
  def embeddingStream(
      embsStream: DataFrame,
      storeDir: String,
      resultsDir: String,
      checkpointDir: String,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      threshold: Double = 0.95,
      planes: Int = 8,
      tables: Int = 16,
      storeParts: Int = AdoptOrDefaultStoreParts,
      compactFiles: Int = 64,
      layout: String = "adopt"): org.apache.spark.sql.streaming.StreamingQuery =
    streamCycles(embsStream, resultsDir, checkpointDir)(
      embeddingBatch(_, storeDir, idCol, vecCol, threshold,
        planes, tables, storeParts, compactFiles, layout))

  /** Append rows (carrying their `bp` column) under the hive layout.
    * The pre-write repartition ON the partition column is the file-count
    * bound: without it every task writes a file per bp value it holds
    * (tasks × partitions files per append); with it each bp's rows
    * coalesce into one task → one file per touched partition per
    * append. The exchange moves batch-sized data only.
    *
    * `widthHint` (r21, guide §2.5): the write's cost on a many-partition
    * append is parquet FILE CREATION (one writer open/close per bp dir),
    * which AQE's byte-based coalescing cannot see — a creation batch
    * writing 256 bp dirs was coalesced to 2 tasks that opened the files
    * serially. The hint is the caller's distinct-bp estimate (storeParts
    * on creation, touched partitions on warm cycles), clamped by the
    * session's parallelism: tiny warm appends stay narrow, creation
    * writes spread. Hash on bp keeps one file per bp either way; 0 keeps
    * the AQE-chosen width. */
  /** The cycle-standard [[appendStore]] width: distinct touched
    * partitions on warm cycles, the store's whole geometry on creation
    * (a creation batch populates every partition its keys hash into). */
  private[ops] def appendWidth(touched: Seq[Int], storeParts: Int): Int =
    if (touched.nonEmpty) touched.size else storeParts

  private[ops] def appendStore(
      rows: DataFrame, storeDir: String, widthHint: Int = 0): Unit =
    if (!graft.fs.PartitionPointer.appendPartitioned(
        rows.sparkSession, storeDir, rows, "bp")) {
      val shaped =
        if (widthHint > 0)
          rows.repartition(math.max(1, math.min(
            rows.sparkSession.sparkContext.defaultParallelism, widthHint)),
            col("bp"))
        else rows.repartition(col("bp"))
      shaped.write.partitionBy("bp").mode("append").parquet(storeDir)
    }

  // ---------- doc→bp retraction index (r16, r15 verdict #2) ----------

  /** Takedown discovery on a bucket-partitioned store is the one
    * remaining O(store) term of the retraction path: rows live in the
    * partitions their CONTENT hashes into (band/gram buckets), so
    * finding a retired doc's partitions means scanning the whole
    * store's id column. The doc index inverts that: a `_doc_index/`
    * parquet table under the store root holds one (doc_id, bp) row per
    * distinct partition a doc's rows land in, hive-partitioned by
    * `dp = hash(doc_id)` — the split layout's `vectors/` pattern — so
    * a takedown batch reads only the dp partitions its ids hash into
    * (O(batch)) and prunes the store discovery scan to exactly the
    * candidate bps. End-to-end the takedown is then O(touched), never
    * O(store).
    *
    * Crash discipline (the bloom sidecar's superset rule, inverted
    * store): index pairs append BEFORE the store rows they cover, so
    * the index is a SUPERSET of the store at every instant — a crash
    * between the two appends leaves pairs whose rows never landed
    * (pruning cost only), never store rows the index misses (a silent
    * takedown leftover). Idempotent via a dp-pruned (doc_id, bp)
    * anti-join, so retried batches converge without duplicates.
    *
    * Enablement rides the manifest (`doc_index=1`, stamped at store
    * CREATION and by `rebuildStore`): a pre-index legacy store keeps
    * full-scan discovery — consulting a partial index would MISS rows,
    * the one failure the takedown path cannot have. `rebuildStore` is
    * the migration path (it re-derives the index from the rebuilt
    * rows, exactly like the gram bloom). */
  private[ops] val DocIndexDir = "_doc_index"

  /** Index partition count, decoupled from the store's (r16 soak
    * finding): index rows are ~12 B vs ~1 KB store rows, so at
    * store_parts=2048 the index's own rewrite cost was pure
    * per-partition task overhead — a bulk takedown paid a second
    * 2048-task pass over a table 100× smaller than the store. Rides
    * the manifest (`doc_index_parts`) so append and consult always
    * hash identically. */
  private[ops] def dpPartsFor(storeParts: Int): Int =
    math.min(256, math.max(16, storeParts / 16))

  private[ops] def dpOf(parts: Int, id: Column): Column =
    pmod(xxhash64(id), lit(parts)).cast("int")

  private[ops] def docIndexEnabled(manifest: Map[String, String]): Boolean =
    manifest.get("doc_index").contains("1")

  /** Append the batch's (id, bp) pairs to the index — call BEFORE the
    * main store append (superset discipline above). `rows` is any frame
    * carrying `idCol` and `bp`; feeding the WHOLE batch (not the
    * anti-joined novel slice) is correct.
    *
    * Pure O(batch) map-side write, deliberately NO idempotency
    * anti-join (r16 inc-soak finding): the anti-join re-read an index
    * slice (index/dpParts rows per touched dp) on EVERY cycle — for the
    * ngram store, whose index is as large as its posting table, that
    * turned the bloom-pruned novel append's flat ~5 krec read into
    * ~200 krec at the 100× soak. Replayed batches (crash retries,
    * restarted streams) append their pairs AGAIN instead: duplicate
    * (doc_id, bp) rows are correctness-free at the only consumer
    * ([[docIndexBps]] collects DISTINCT bps) and are erased with the
    * doc by [[retractDocIndex]]; growth is bounded by the replay count
    * of each batch — crash-rare, never per-cycle. */
  private[ops] def appendDocIndex(
      rows: DataFrame, storeDir: String, idCol: String, dpParts: Int): Unit = {
    val pairs = rows
      .select(col(idCol).cast("long").as("doc_id"), col("bp").cast("int").as("bp"))
      .distinct()
      .withColumn("dp", dpOf(dpParts, col("doc_id")))
    if (!graft.fs.PartitionPointer.appendPartitioned(
        rows.sparkSession, s"$storeDir/$DocIndexDir", pairs, "dp"))
      pairs.repartition(col("dp")).write.partitionBy("dp").mode("append")
        .parquet(s"$storeDir/$DocIndexDir")
  }

  /** The candidate store partitions holding any retired id's rows,
    * via the index: dp-pruned read + id semi-join + distinct collect
    * (bounded by the store's partition count). Call only on
    * [[docIndexEnabled]] stores. None = the index DIRECTORY is gone
    * despite the manifest flag (operator damage) — the caller must
    * fall back to full-scan discovery; trusting an absent index would
    * silently retract nothing, the one failure takedown cannot have.
    * (An absent index over an EMPTY store is indistinguishable and
    * also safe under the fallback: the full scan of nothing is free.) */
  private[ops] def docIndexBps(
      spark: SparkSession, storeDir: String, ids: Seq[Long],
      dpParts: Int, manifest: Map[String, String]): Option[Seq[Int]] = {
    val dir = new org.apache.hadoop.fs.Path(storeDir, DocIndexDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return None
    val dps = Retract.bpsOf(ids, dpParts) // same pmod(xxhash64) hash
    // pointer-aware (the index is itself a dp-partitioned table and is
    // retracted through rewriteTouched, so on rename-less schemes it
    // carries its own pointer); only the batch's dp partitions are read
    val (index, _) = StoreLayout.docIndex.readRaw(spark, storeDir, manifest)
    Some(index.filter(col("dp").isin(dps: _*))
      .join(org.apache.spark.sql.functions.broadcast {
        import spark.implicits._
        ids.toDF("doc_id")
      }, Seq("doc_id"), "left_semi")
      .select("bp").distinct().collect().map(_.getInt(0)).toIndexedSeq)
  }

  /** Erase the retired ids' pairs from the index itself — run AFTER
    * the main rewrite (the superset rule in reverse: between the two
    * the index over-claims, which only costs pruning). The index is
    * id-hash partitioned, so this rewrite is O(batch) by construction. */
  private[ops] def retractDocIndex(
      spark: SparkSession, storeDir: String, ids: Seq[Long],
      dpParts: Int, manifest: Map[String, String]): Unit = {
    val t = StoreLayout.docIndex
    val p = new org.apache.hadoop.fs.Path(t.dir(storeDir))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return
    val dps = Retract.bpsOf(ids, dpParts)
    Retract.rewriteTouched(spark, t.dir(storeDir), t.partCol,
      t.readRaw(spark, storeDir, manifest),
      Retract.semiOn(spark, ids, "doc_id"),
      Retract.antiOn(spark, ids, "doc_id"),
      prefilter = Some(col("dp").isin(dps: _*)))
    ()
  }

  /** Derive a fresh, tight index for the table at `dataDir` from its
    * rows (carrying `idCol` and `bp`) — the rebuild migration path,
    * mirroring the gram-bloom regeneration. */
  private[ops] def writeDocIndexFrom(
      rows: DataFrame, idCol: String, dataDir: String, dpParts: Int): Unit =
    rows
      .select(col(idCol).cast("long").as("doc_id"), col("bp").cast("int").as("bp"))
      .distinct()
      .withColumn("dp", dpOf(dpParts, col("doc_id")))
      .repartition(col("dp")).write.partitionBy("dp").mode("errorifexists")
      .parquet(s"$dataDir/$DocIndexDir")

  // ---------- bloom sidecars (r13; see BloomSidecar) ----------

  /** (cap, bits) for a store whose creation batch carries `rows`
    * posting rows: 4× headroom over the rows (an upper bound on
    * distinct grams) at 3% fp when full. Both constants ride the
    * manifest so every later batch builds MERGE-COMPATIBLE blooms
    * (same bit count ⇒ same hash count). */
  private[ops] def gramBloomGeometry(rows: Long): (Long, Long) = {
    val cap = math.max(1L << 22, 4L * rows)
    // optimalNumOfBits(n, p) = -n·ln(p)/ln²2
    val bits = math.ceil(
      -cap.toDouble * math.log(0.03) / (math.log(2) * math.log(2))).toLong
    (cap, bits)
  }

  /** A bloom sidecar's bytes, if present. */
  private[ops] def readBloomSidecar(
      spark: SparkSession, storeDir: String, file: String): Option[Array[Byte]] = {
    val p = new org.apache.hadoop.fs.Path(storeDir, file)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(in.readAllBytes()) finally in.close()
    }
  }

  private[ops] def bloomToBytes(
      b: org.apache.spark.util.sketch.BloomFilter): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    b.writeTo(bos)
    bos.toByteArray
  }

  /** Temp-write + delete + rename (rename-onto-existing is not
    * portable across hadoop filesystems). A crash between the delete
    * and the rename leaves the sidecar MISSING under a bloom-keyed
    * manifest — the batch cycle self-heals that with one full table
    * scan; a crash after the rename is simply the new bloom. */
  private[ops] def writeBloomSidecar(
      spark: SparkSession, storeDir: String, file: String,
      bloom: org.apache.spark.util.sketch.BloomFilter): Unit = {
    import org.apache.hadoop.fs.Path
    val root = new Path(storeDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(root)
    fs.listStatus(root)
      .filter(_.getPath.getName.startsWith(s"$file.tmp-"))
      .foreach(s => fs.delete(s.getPath, false))
    val tmp = new Path(root, s"$file.tmp-${ProcessHandle.current().pid()}")
    val out = fs.create(tmp, true)
    try bloom.writeTo(out) finally out.close()
    val dst = new Path(root, file)
    // caches key sidecar versions on (mtime, length), but the bloom's
    // serialized length is GEOMETRY-fixed, so two same-geometry rewrites
    // within one coarse mtime tick (1 s on some local/HDFS configs,
    // object stores) would alias (r15 ADVICE). Force mtime strictly
    // monotonic across rewrites; schemes that refuse setTimes keep the
    // plain rename (their caches then rely on mtime alone, documented).
    val prevMtime =
      try Some(fs.getFileStatus(dst).getModificationTime)
      catch { case _: java.io.FileNotFoundException => None }
    fs.delete(dst, false)
    require(fs.rename(tmp, dst), s"bloom rename failed: $tmp -> $dst")
    prevMtime.foreach { pm =>
      try
        if (fs.getFileStatus(dst).getModificationTime <= pm)
          fs.setTimes(dst, pm + 1, -1)
      catch { case _: UnsupportedOperationException | _: java.io.IOException => () }
    }
  }

  /** Row bound on a search's query-side prelude (bm25 query terms, IVF
    * probed cells), which is collected to the driver and broadcast into
    * the scoring joins. */
  private[ops] val MaxPreludeRows = 1000000

  /** Collect a search prelude, failing with a clear message above `max`
    * rows before anything is broadcast or scored. The check reads the
    * collect's own result, so it starts no Spark job; the collect itself
    * stays capped by `spark.driver.maxResultSize`. */
  private[ops] def collectPrelude(
      df: DataFrame, what: String, max: Int = MaxPreludeRows): Array[Row] = {
    val rows = df.collect()
    require(rows.length <= max,
      s"$what: ${rows.length} query-side rows exceed the $max-row bound " +
        "on what a search collects to the driver; split the query batch")
    rows
  }
}
