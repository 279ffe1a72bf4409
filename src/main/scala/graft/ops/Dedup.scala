package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines.
  *
  * Scale design notes (the part that matters at 100 TB):
  *  - Exact / fingerprint dedup is ONE hash-partitioned aggregation on a
  *    64/128-bit digest — the only shuffle moves (digest, doc_id), never
  *    document bodies.
  *  - MinHash/LSH near-dup generates (band_hash, doc_id) candidate keys and
  *    finds pairs with a self-equi-join on band_hash — the classic
  *    shingle→minhash→band→bucket-join plan. No O(n²) pair scan ever
  *    materializes; the join key distributes uniformly by construction
  *    (hash values), so no skew salting is needed.
  *  - SimHash dedup joins on 64-bit signature bands (Hamming-ball blocking).
  *  - All candidate pairs are verified with an exact measure AFTER the
  *    blocking join, on the candidate set only.
  *
  * Self-join blocker frames are materialized with EAGER `localCheckpoint`
  * (not `persist`): persist leaks CacheManager entries a lazily-returned
  * frame can never safely unpersist, while checkpoint blocks are freed by
  * the ContextCleaner once unreachable. Two trade-offs ride that choice
  * (mirroring `Components.ofPairs`): localCheckpoint blocks are
  * UNRECOVERABLE on executor loss — a lost executor fails the job where
  * persist lineage would recompute — and the checkpoint runs a Spark job
  * at CALL time even if the returned frame is never consumed. On a
  * cluster where executor churn is routine, checkpoint to reliable
  * storage around these operators (`Components.ofPairs` threads a
  * `checkpointDir` for exactly that).
  */
object Dedup {

  // Gram construction for every shingle-based op lives in the fused
  // `gram_hashes` expression (functions/SketchExprs.scala — GramHashes),
  // including the positional/distinct distinction winnowing vs dedup need.

  /** Exact duplicates by content digest: one row per distinct digest with
    * the surviving (min) doc_id and the duplicate count. */
  def exact(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.groupBy(md5(col(textCol)).as("digest"))
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_copies"))

  /** Fingerprint (normalized) duplicates: whitespace/case-normalized md5. */
  def byFingerprint(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.groupBy(TextAnalysis.fingerprint(col(textCol)).as("fingerprint"))
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_copies"))

  /** Exact n-gram Jaccard near-dup pairs via a df-capped shingle
    * self-equi-join: explode distinct shingles → hash-aggregate document
    * frequency → semi-join keeps only shared, sub-cap shingles →
    * self-join on the hashed shingle with `doc_a < doc_b` → |A∩B| by
    * partial-agg count → |A∪B| = |A|+|B|−|A∩B|. Output: pairs with
    * jaccard ≥ threshold.
    *
    * Scale notes: every stage is codegen'd — the pairs STREAM through a
    * sort-merge/hash join and a map-side-combinable count; no operator
    * ever materializes a group's full pair set in one row. (The previous
    * inverted-index form built all d·(d−1)/2 pair structs of a shingle
    * group inside ONE row via interpreted higher-order functions — at
    * dfCap=1000 that is ~500k structs in a single row, with no codegen;
    * measured 6× slower than this join at sf0.1.) Shingles are
    * 64-bit-hashed BEFORE any shuffle: the join only needs equality, and
    * 8-byte keys instead of n-gram strings cut exchange volume
    * several-fold (collision odds at 100 TB corpus scale:
    * ~(distinct shingles)²/2⁶⁵ — vanishing, and deterministic).
    *
    * Plan shape (r5 rewrite): document frequency is a `groupBy(shingle)`
    * hash aggregate — map-side partial combine, NO sort — where the
    * previous unbounded-frame window paid a full per-partition sort of
    * every exploded shingle AND pinned that corpus-sized annotated frame
    * in MEMORY_AND_DISK (the bench's spill suspect). The df table is
    * then filtered to shingles shared by 2..dfCap docs — a tiny set on
    * real corpora (most shingles are unique) — and semi-joined back,
    * which AQE turns into a broadcast semi-join: the explode side never
    * shuffles for it. Only the post-filter `capped` frame (duplicate
    * shingles only) is persisted for the two self-join sides; per-doc
    * set sizes are recomputed map-only off the source text (the distinct
    * gram array's length IS the size — no shuffle, no persist
    * dependency). Net: the corpus is scanned twice (cheap, columnar)
    * instead of one scan + a corpus-sized sort + a corpus-sized cache —
    * the trade you want at 100 TB, where cache residency is the scarce
    * resource and rescans are embarrassingly parallel.
    *
    * `dfCap` bounds the quadratic hazard: a degenerate stop-shingle
    * present in d documents contributes d·(d−1)/2 join rows — at 100 TB a
    * shingle in 1% of the corpus is O(n²). Shingles with document
    * frequency > dfCap are dropped before the join (they carry ~zero
    * similarity signal), so one key yields at most dfCap²/2 streamed
    * rows, and AQE's skew-join split spreads any residual hot key across
    * tasks. Near-dup pairs still surface through their many sub-cap
    * shingles; their jaccard only loses the capped shingles from the
    * intersection count. dfCap must exceed the corpus' real
    * duplicate-cluster size to keep exact semantics — the default is far
    * above the gate corpus' document count, so the oracle-checked result
    * is exact there. */
  def ngramJaccardPairs(
      docs: DataFrame,
      textCol: String = "text",
      n: Int = 5,
      threshold: Double = 0.5,
      dfCap: Int = 1000): DataFrame = {
    val grams =
      graft.functions.SketchExprs.gramHashes(col(textCol), n, distinct = true)
    // one row per (doc, distinct gram) with the doc's gram count riding
    // — the posting-row trade the incremental variant already uses
    // (IncrementalDedup.ngramBatch): sizes are in hand at the pair join,
    // so the two O(corpus) size-fetch joins (each of which re-evaluated
    // gramHashes over the full corpus) disappear from the plan — 2
    // Exchanges and 2 gram passes fewer for 8 bytes/posting-row of
    // shuffle width.
    // fanOut: the gram hashing is the CPU-heavy pass; an under-parallel
    // scan (one small file) must not serialize it into one task
    val sh = Scale.fanOutForCompute(docs, col("doc_id"))
      .select(col("doc_id"), explode(grams).as("shingle"),
        coalesce(size(grams), lit(0)).cast("long").as("nsh"))
    // document frequency via hash aggregate, filtered to the shingles
    // that can contribute to a pair: df in (1, dfCap]
    val shared = sh.groupBy("shingle").agg(count(lit(1)).as("__df"))
      .filter(col("__df") > 1 && col("__df") <= dfCap)
      .select("shingle")
    val capped = sh.join(shared, Seq("shingle"), "left_semi")
      // feeds BOTH self-join sides (re-aliasing defeats ReuseExchange);
      // small by construction — duplicate shingles only. localCheckpoint
      // rather than persist: a persist here has no safe unpersist point
      // (the return is lazy) and would pin blocks in CacheManager for
      // the session; checkpoint blocks are freed once unreachable.
      .localCheckpoint()
    capped.select(col("shingle"), col("doc_id").as("doc_a"),
        col("nsh").as("size_a"))
      .join(capped.select(col("shingle"), col("doc_id").as("doc_b"),
        col("nsh").as("size_b")), Seq("shingle"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b", "size_a", "size_b")
      .agg(count(lit(1)).as("n_common"))
      .withColumn("jaccard",
        round(col("n_common").cast("double") /
          (col("size_a") + col("size_b") - col("n_common")).cast("double"), 4))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "n_common", "jaccard")
  }

  /** MinHash signatures as (doc_id, sig: array<long>) with
    * h_i(x) = (a_i·x + b_i) mod 2^31−1 over xxhash64 shingle hashes.
    *
    * Shape matters here: the signature is a per-document reduction, so
    * it runs as ONE fused codegen loop per row (`minhash_sig`,
    * SketchExprs.scala) — a map-only projection with NO shuffle. The
    * previous explode → 64-aggregate groupBy form was semantically
    * identical but exchanged every exploded shingle hash and paid 64
    * separate aggregate-buffer updates per row (measured 2.9 s → 0.4 s
    * at sf0.1); the naive `array(transform(hashes, …) × 64)` column form
    * is worse still — Catalyst inlines the whole shingle-hashing subtree
    * per permutation (64× slower). */
  def minhashSignatures(
      docs: DataFrame,
      textCol: String = "text",
      n: Int = 5,
      numHashes: Int = 64): DataFrame =
    docs.select(col("doc_id"),
      graft.functions.SketchExprs.minhashSig(
        graft.functions.SketchExprs.gramHashes(col(textCol), n, distinct = true),
        numHashes).as("sig"))
      .filter(col("sig").isNotNull)

  /** (doc_id, sig, band, bh) banding of a (doc_id, sig) signature table —
    * shared by the batch pair search and the incremental store path:
    * store compatibility REQUIRES both to band identically, so there is
    * exactly one implementation. */
  private[graft] def bandSignatures(
      sigs: DataFrame, bands: Int, rowsPerBand: Int): DataFrame =
    sigs.select(
      col("doc_id"), col("sig"),
      explode(array((0 until bands).map { b =>
        struct(lit(b).as("band"),
          xxhash64(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand)).as("bh"))
      }: _*)).as("bb"))
      .select(col("doc_id"), col("sig"), col("bb.band"), col("bb.bh"))

  /** Estimated Jaccard = fraction of equal signature positions — the
    * fused codegen count (the zip_with/filter/size chain is interpreted:
    * HOFs have no codegen, and this runs per candidate pair). */
  private[ops] def estJaccard(a: Column, b: Column, numHashes: Int): Column =
    round(graft.functions.SketchExprs.arrayEqCount(a, b)
      .cast("double") / numHashes, 4)

  /** MinHash-LSH candidate pairs: band the signature (`bands` ×
    * `rowsPerBand`), bucket-join on (band_id, band_hash), then verify with
    * estimated Jaccard = fraction of equal signature positions. */
  def minhashLshPairs(
      docs: DataFrame,
      textCol: String = "text",
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.5): DataFrame = {
    val rowsPerBand = numHashes / bands
    // fanOut here, not in minhashSignatures: the signature op itself is
    // pinned map-only (PlanSpec), and only pair search needs the spread
    val sigs = minhashSignatures(
      Scale.fanOutForCompute(docs, col("doc_id")), textCol,
      numHashes = numHashes)
    val banded = bandSignatures(sigs, bands, rowsPerBand)
      // the signature aggregation feeds both sides of the bucket self-join;
      // materialize it once (at production scale this is the "signature
      // table" a pipeline would checkpoint anyway). localCheckpoint, not
      // persist: no safe unpersist point exists for a lazy return, and
      // checkpoint blocks are freed once the frame is unreachable.
      .localCheckpoint()
    val cand = banded.as("a").join(banded.as("b"), Seq("band", "bh"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      .dropDuplicates("doc_a", "doc_b")
    cand
      .withColumn("est_jaccard", estJaccard(col("sig_a"), col("sig_b"), numHashes))
      .filter(col("est_jaccard") >= threshold)
      .select("doc_a", "doc_b", "est_jaccard")
  }

  /** MinHash-LSH near-dup pairs with EXACT verification — the
    * production near-dup shape: LSH banding blocks candidates (sub-
    * quadratic), then each candidate pair's TRUE n-gram Jaccard is
    * computed from the two docs' distinct gram-hash sets and pairs below
    * `threshold` are dropped. Unlike `minhashLshPairs` (whose estimated
    * Jaccard depends on this engine's hash permutations), the output is
    * engine-independent — {pairs with true Jaccard ≥ threshold} — which
    * makes it brute-force-oracle-checkable whenever the banding finds
    * every qualifying pair. With the default 16 bands × 4 rows, a pair
    * at Jaccard s survives blocking with probability 1−(1−s⁴)¹⁶ ≈
    * 0.9998 at s = 0.8 (and → 1 as s → 1, where real near-dups live);
    * the gate corpora's qualifying pairs all sit at s ≥ 0.94 and are
    * verified found (DedupSpec differential + the driver gate).
    *
    * Scale: signatures are map-only, banding self-join is the classic
    * bucket join, and the exact verify joins gram arrays onto the
    * CANDIDATE pairs only — never all pairs. The per-pair
    * `array_intersect` is interpreted, but runs on |candidates| rows,
    * not O(n²). */
  def minhashLshNearDupPairs(
      docs: DataFrame,
      textCol: String = "text",
      n: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.8): DataFrame = {
    val rowsPerBand = numHashes / bands
    // fanOut as in minhashLshPairs (signature compute is the heavy pass)
    val sigs = minhashSignatures(
      Scale.fanOutForCompute(docs, col("doc_id")), textCol, n, numHashes)
    val banded = bandSignatures(sigs, bands, rowsPerBand)
      .select("doc_id", "band", "bh")
      .localCheckpoint() // both join sides; freed once unreachable
    val cand = banded.as("a").join(banded.as("b"), Seq("band", "bh"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    verifyPairsExact(docs, cand, textCol, n, threshold)
  }

  /** SimHash near-dup pairs with EXACT verification — same contract as
    * `minhashLshNearDupPairs` but blocked by multi-index SimHash banding
    * (complete within `maxHamming` by pigeonhole; see simhashPairs).
    * SimHash Hamming distance tracks token-profile cosine, so docs with
    * n-gram Jaccard near 1 land within a small radius; the blocking is
    * heuristic for mid-range Jaccard, which is why the default verify
    * threshold sits at 0.9 — the tight near-identical band radius-3
    * SimHash reliably covers (verified on the gate corpora by the
    * driver's brute-force oracle). */
  def simhashNearDupPairs(
      docs: DataFrame,
      textCol: String = "text",
      n: Int = 3,
      maxHamming: Int = 3,
      threshold: Double = 0.9): DataFrame = {
    val cand = simhashPairsFromSignatures(
      simhash(Scale.fanOutForCompute(docs, col("doc_id")), textCol), maxHamming)
      .select("doc_a", "doc_b")
    verifyPairsExact(docs, cand, textCol, n, threshold)
  }

  /** Exact n-gram Jaccard verify of candidate pairs: joins each side's
    * distinct gram-hash array onto the pair (candidates only — the
    * blocking stage already bounded the row count) and filters on the
    * true Jaccard. Output matches `ngramJaccardPairs`' columns. |A∩B|
    * is the fused codegen hash-probe count (`array_intersect_count`,
    * SketchExprs) — the interpreted `size(array_intersect(…))` it
    * replaces materialized the common-element array per candidate pair
    * in the post-blocking hot loop. */
  private def verifyPairsExact(
      docs: DataFrame,
      cand: DataFrame,
      textCol: String,
      n: Int,
      threshold: Double): DataFrame = {
    // fanOut: gram hashing over the corpus again — same heavy pass as
    // the blocking side, same under-parallel-scan hazard
    val g = Scale.fanOutForCompute(docs, col("doc_id"))
      .select(col("doc_id"),
        graft.functions.SketchExprs.gramHashes(col(textCol), n, distinct = true)
          .as("g"))
    cand
      .join(g.select(col("doc_id").as("doc_a"), col("g").as("ga")), "doc_a")
      .join(g.select(col("doc_id").as("doc_b"), col("g").as("gb")), "doc_b")
      .withColumn("n_common",
        graft.functions.SketchExprs.arrayIntersectCount(col("ga"), col("gb"))
          .cast("long"))
      .withColumn("jaccard",
        round(col("n_common").cast("double") /
          (size(col("ga")) + size(col("gb")) - col("n_common")).cast("double"), 4))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "n_common", "jaccard")
  }

  /** 64-bit SimHash signature: per bit, weight +1/−1 by the token-hash
    * bit, sum over tokens, sign → bit. A per-document reduction, so it
    * runs as ONE fused codegen loop per row (`simhash_sig`,
    * SketchExprs.scala) — map-only, no shuffle; the explode → 64-sum
    * groupBy form it replaces exchanged every token hash. */
  def simhash(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(col("doc_id"),
      graft.functions.SketchExprs.simhashSig(
        // tokens = positional 1-grams, hashed off the text bytes
        graft.functions.SketchExprs.gramHashes(col(textCol), 1, distinct = false))
        .as("simhash"))
      .filter(col("simhash").isNotNull)

  /** SimHash near-dup pairs: multi-index banded blocking, then verify
    * exact Hamming distance on candidates.
    *
    * Completeness contract (pigeonhole): the 64-bit signature is split
    * into `maxHamming + 1` near-equal bands, so ANY pair within the
    * radius has too few differing bits to touch every band — at least
    * one band matches exactly and the bucket join finds the pair. The
    * result is therefore COMPLETE at every radius (at the default
    * radius 3 this is the classic 4×16-bit layout).
    *
    * Cost contract: radius r explodes r+1 band rows per doc and each
    * band carries only ~64/(r+1) bits, so bucket collision probability
    * grows ~2^(64/(r+1))-fold per band — large radii on a 100 TB corpus
    * produce near-quadratic candidate sets. Typical near-dup dedup runs
    * r ≤ 4; use large radii only on pre-filtered sets. */
  def simhashPairs(
      docs: DataFrame,
      textCol: String = "text",
      maxHamming: Int = 3): DataFrame =
    simhashPairsFromSignatures(
      simhash(Scale.fanOutForCompute(docs, col("doc_id")), textCol), maxHamming)

  /** Banding + verify over precomputed (doc_id, simhash) signatures —
    * split out so the pigeonhole boundary is testable on planted
    * signatures (see simhashPairs for the completeness contract). */
  def simhashPairsFromSignatures(
      sigs: DataFrame,
      maxHamming: Int): DataFrame = {
    val banded = simhashBanded(sigs, maxHamming)
      .localCheckpoint() // both join sides; freed once unreachable
    banded.as("a").join(banded.as("b"), Seq("band", "bh"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).cast("long")
          .as("hamming"))
      .dropDuplicates("doc_a", "doc_b")
      .filter(col("hamming") <= maxHamming)
  }

  /** The multi-index banding under `simhashPairsFromSignatures`, split
    * out so the incremental store (`IncrementalDedup.simhashBatch`) can
    * persist the SAME banded rows the one-shot path joins on — one
    * banding implementation, one completeness proof. Output:
    * (doc_id, simhash, band, bh), `maxHamming + 1` rows per doc; 64
    * bits distributed as evenly as possible — `rem` leading bands get
    * one extra bit (e.g. radius 4 → widths 13,13,13,13,12). */
  private[graft] def simhashBanded(
      sigs: DataFrame,
      maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64,
      s"maxHamming must be in [0, 64): $maxHamming")
    val bands = maxHamming + 1
    val base = 64 / bands
    val rem = 64 % bands
    val widths = Seq.tabulate(bands)(i => base + (if (i < rem) 1 else 0))
    val starts = widths.scanLeft(0)(_ + _).init
    val bandCols = starts.zip(widths).zipWithIndex.map { case ((st, w), i) =>
      val mask = if (w >= 64) -1L else (1L << w) - 1
      struct(lit(i).as("band"),
        shiftrightunsigned(col("simhash"), st).bitwiseAND(lit(mask)).as("bh"))
    }
    sigs.select(col("doc_id"), col("simhash"),
      explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("simhash"), col("bb.band"), col("bb.bh"))
  }

  /** Keep one representative per near-dup cluster — the step after pair
    * generation that actually shrinks the corpus: cluster the pair graph
    * (`Components.ofPairs`, min-id label), drop every member whose id is
    * not its cluster's minimum. Documents in no pair survive untouched
    * (they never enter the label table, and the anti-join lets them
    * through). Scale shape: the label table is (long, long) rows for
    * PAIRED docs only — usually a small fraction of the corpus — so the
    * anti-join broadcasts or shuffles ids, never documents. */
  def keepRepresentatives(
      docs: DataFrame,
      pairs: DataFrame,
      idCol: String = "doc_id",
      checkpointDir: Option[String] = None): DataFrame = {
    val dropIds = Components.ofPairs(pairs, checkpointDir = checkpointDir)
      .filter(col("v") =!= col("component"))
      .select(col("v").as(idCol))
    docs.join(dropIds, Seq(idCol), "left_anti")
  }

  /** Embedding near-dup pairs with EXACT verification — same contract as
    * `minhashLshNearDupPairs` in the cosine domain: multi-table
    * hyperplane LSH BLOCKS candidates (sub-quadratic), exact cosine on
    * the candidate set defines the output, so the result is the
    * engine-independent set {pairs : true cosine ≥ threshold} whenever
    * the blocking finds every qualifying pair. With the default 16
    * tables × 8 planes a pair at cosine 0.97 survives blocking with
    * probability ≈ 1 − 1e-5 (planes are deterministic, so recall on a
    * fixed corpus is reproducible — the gate corpora's qualifying pairs
    * are verified found by the DuckDB brute-force oracle and
    * SimilaritySpec's differential). Single-table `Similarity.lshPairs`
    * remains the cheap candidate-mining shape; this is the dedup shape,
    * where a missed true pair is a correctness defect. */
  def embeddingNearDupPairs(
      embs: DataFrame,
      threshold: Double = 0.95,
      planes: Int = 8,
      tables: Int = 16): DataFrame =
    Similarity.lshPairsMulti(embs, planes, tables)
      .filter(col("cosine") >= threshold)
}
