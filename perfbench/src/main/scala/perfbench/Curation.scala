package perfbench

import java.nio.file.Path

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.ops.{Bm25, Bm25Index, IncrementalComponents, IncrementalDedup, IvfIndex, Retract}

/** curation: a seeded document stream through the store-backed operators.
  *
  * The stream draws texts from the generated `documents` table and
  * vectors from `embeddings`. Batches hold 100 docs: 80 novel, 10 exact
  * copies and 10 near copies (one word appended) of earlier novel docs,
  * with fresh ascending doc ids. A copy keeps its source's vector.
  *
  * Set-up runs the first batch through every store (the initial build,
  * including `IvfIndex.build` with 8 cells) and searches it. Each round
  * is one batch and eight ops: `exactBatch`, `simhashBatch`,
  * `ngramBatch`, `IncrementalComponents.addPairs` over the near-dup
  * pairs, `indexBatch` and `IvfIndex.append`, then a 5-query
  * `Bm25Index.search` and `IvfIndex.search`. After the rounds each run
  * makes one `Retract.retract` of 5 keepers from the exact store and one
  * `compactStore` of it.
  *
  * Checks: exact verdicts equal the planted truth; every planted near pair
  * is found by `ngramBatch` and ends up in one component; the index's
  * BM25 top-3 equals the one-shot `Bm25.search` scan over every indexed
  * doc; the IVF index holds every appended vector once, in a nearest
  * cell, and each probe answers with the best true cosine over its 4
  * nearest cells (no row when those cells are empty); retracted ids are
  * gone from the store.
  */
final class CurationWl(spark: SparkSession, seed: Long, inputs: Path)
    extends Workload(spark, seed, inputs) {
  import spark.implicits._

  val BatchSize = 100
  val ExactCopies = 10
  val NearCopies = 10
  val Nlist = 8
  /** Cells one IVF search probes (the search's default). */
  val Nprobe = 4
  /** Words a near copy may end with. */
  val Appended: Seq[String] = Seq("lake", "curation", "store", "index", "copy")

  private var docs: IndexedSeq[String] = IndexedSeq.empty
  private var vecs: IndexedSeq[Seq[Float]] = IndexedSeq.empty
  private var dir: Path = _
  private def store(s: String) = dir.resolve(s).toString

  // stream state
  private var nextDoc = 0
  private var nextId = 0L
  private val novelIds = mutable.ArrayBuffer.empty[Long]
  private val textOf = mutable.Map.empty[Long, String]
  private val vecOf = mutable.Map.empty[Long, Seq[Float]]
  private val keeperOf = mutable.Map.empty[String, Long]
  private val nearPairs = mutable.ArrayBuffer.empty[(Long, Long)]
  private var userTotal = 0L

  final class Batch(val rows: Seq[(Long, String)], val expect: Map[Long, Option[Long]],
      val near: Seq[(Long, Long)]) {
    def df: DataFrame = rows.toDF("doc_id", "text")
    def vecDf: DataFrame = rows.map { case (id, _) => (id, vecOf(id)) }.toDF("vec_id", "embedding")
    def bytes: Long = rows.map(_._2.getBytes("UTF-8").length.toLong).sum
  }

  private def nextBatch(k: Int): Batch = {
    val rnd = new Random(seed * 104729L + k)
    val plan = rnd.shuffle(Seq.fill(BatchSize - ExactCopies - NearCopies)(0) ++
      Seq.fill(ExactCopies)(1) ++ Seq.fill(NearCopies)(2))
    val rows = mutable.ArrayBuffer.empty[(Long, String)]
    val expect = mutable.Map.empty[Long, Option[Long]]
    val near = mutable.ArrayBuffer.empty[(Long, Long)]
    plan.foreach { kind =>
      val id = nextId
      nextId += 1
      val (text, vec) =
        if (kind == 0 || novelIds.isEmpty) {
          val t = docs(nextDoc % docs.size)
          val v = vecs(nextDoc % vecs.size)
          nextDoc += 1
          (t, v)
        } else {
          val src = novelIds(rnd.nextInt(novelIds.size))
          if (kind == 2) near += ((src, id))
          (if (kind == 1) textOf(src) else textOf(src) + " " + Appended(rnd.nextInt(Appended.size)),
            vecOf(src))
        }
      expect(id) = keeperOf.get(text)
      if (!keeperOf.contains(text)) { keeperOf(text) = id; novelIds += id }
      textOf(id) = text
      vecOf(id) = vec
      rows += ((id, text))
    }
    nearPairs ++= near
    new Batch(rows.toSeq, expect.toMap, near.toSeq)
  }

  override def prepare(): Unit = {
    docs = spark.read.parquet(inputs.resolve("documents.parquet").toString)
      .orderBy("doc_id").select("text").as[String].collect().toIndexedSeq
    vecs = spark.read.parquet(inputs.resolve("embeddings.parquet").toString)
      .orderBy("vec_id").select("embedding").as[Seq[Float]].collect().toIndexedSeq
  }

  /** The initial store build: the first batch through every store. */
  override def build(d: Path): Unit = {
    dir = d
    val b = nextBatch(0)
    IvfIndex.build(b.vecDf, store("ivf"), nlist = Nlist)
    val warm = new Ops
    ingest(warm, b, withIvf = false)
    search(warm, b)
    check(warm.failures == 0, s"set-up ops failed: ${warm.failed}")
  }

  /** One batch through every store. */
  private def ingest(ops: Ops, b: Batch, withIvf: Boolean = true): Unit = {
    userTotal += b.bytes
    ops("exact_batch")(Trace.span("store.exact_batch")(
      IncrementalDedup.exactBatch(b.df, store("exact")).collect())).foreach { rows =>
      ops.userBytes += b.bytes
      val got = rows.map(r => r.getAs[Long]("doc_id") ->
        Option(r.getAs[Any]("dup_of")).map(_.asInstanceOf[Long])).toMap
      check(got == b.expect, s"exact verdicts differ from the planted truth " +
        s"(${b.expect.count { case (k, v) => got.get(k) != Some(v) }} docs)")
    }
    val sim = ops("simhash_batch")(Trace.span("store.simhash_batch")(
      IncrementalDedup.simhashBatch(b.df, store("simhash")).select("doc_a", "doc_b").collect()))
    val ng = ops("ngram_batch")(Trace.span("store.ngram_batch")(
      IncrementalDedup.ngramBatch(b.df, store("ngram")).select("doc_a", "doc_b").collect()))
    ng.foreach { rows =>
      val got = rows.map(r => (math.min(r.getLong(0), r.getLong(1)), math.max(r.getLong(0), r.getLong(1)))).toSet
      val missing = b.near.filterNot(got.contains)
      check(missing.isEmpty, s"ngramBatch missed planted near pairs $missing")
    }
    val pairs = (sim.getOrElse(Array.empty) ++ ng.getOrElse(Array.empty))
      .map(r => (r.getLong(0), r.getLong(1))).distinct.toSeq
    ops("components_add_pairs")(Trace.span("store.components_add_pairs")(
      IncrementalComponents.addPairs(pairs.toDF("doc_a", "doc_b"), store("components")).collect()))
    ops("bm25_index_batch")(Trace.span("store.bm25_index_batch")(
      Bm25Index.indexBatch(b.df, store("bm25"))))
    if (withIvf) ops("ivf_append")(Trace.span("store.ivf_append")(
      IvfIndex.append(b.vecDf, store("ivf"))))
  }

  /** Both indexes searched for five of the batch's novel docs. */
  private def search(ops: Ops, b: Batch): Unit = {
    val probes = b.rows.filter { case (id, _) => b.expect(id).isEmpty }.take(5)
    ops("bm25_search")(Trace.span("store.bm25_search")(Bm25Index.search(spark,
      store("bm25"), probes.toDF("query_id", "query"), k = 3).collect())).foreach { rows =>
      // the index must rank exactly as the one-shot BM25 scan over every
      // document indexed so far
      val want = Bm25.search(textOf.toSeq.toDF("doc_id", "text"),
        probes.toDF("query_id", "query"), k = 3).collect()
      def key(rs: Array[Row]) = rs.map(r => (r.getAs[Long]("query_id"),
        r.getAs[Long]("doc_id"), r.getAs[Double]("bm25"))).toSet
      check(key(rows) == key(want), "bm25 index search differs from the one-shot scan")
    }
    val queries = probes.map { case (id, _) => (id, vecOf(id)) }.toDF("vec_id", "embedding")
    ops("ivf_search")(Trace.span("store.ivf_search")(
      IvfIndex.search(spark, store("ivf"), queries, k = 1).collect())).foreach { rows =>
      val got = rows.map(r => r.getAs[Long]("query_id") ->
        (r.getAs[Long]("neighbor_id"), r.getAs[Double]("cosine"))).toMap
      check(got.keySet.subsetOf(probes.map(_._1).toSet), s"ivf search answered unknown queries $got")
      val (cells, cellOf) = ivfState()
      probes.foreach { case (q, _) =>
        val qv = vecOf(q)
        // the query's Nprobe nearest cells, ties by cell id, as the probe
        // ranks them (`cosine` is the engine's arithmetic, so ties match)
        val probed = cells.map { case (c, v) => (c, cosine(qv, v)) }
          .sortBy { case (c, s) => (-s, c) }.take(Nprobe).map(_._1).toSet
        val best = cellOf.collect { case (id, c) if probed(c) => cosine(qv, id) }.maxOption
        got.get(q) match {
          case Some((n, s)) =>
            check(math.abs(cosine(qv, n) - s) <= 1e-3, s"ivf search: wrong cosine $s for ($q, $n)")
            check(probed(cellOf(n)) && best.exists(s >= _ - 1e-3),
              s"ivf search: query $q got ($n, $s) from cell ${cellOf(n)}; probed cells " +
                s"${probed.toSeq.sorted} hold a best cosine of $best")
          case None =>
            check(best.isEmpty, s"ivf search: no row for query $q, whose probed " +
              s"cells ${probed.toSeq.sorted} hold a best cosine of $best")
        }
      }
    }
  }

  /** The IVF index's centroids and each vector's cell, read from the
    * store without the index's API, after checking that it holds every
    * vector appended so far, once, in one of its nearest cells. */
  private def ivfState(): (Seq[(Long, Seq[Double])], Map[Long, Long]) = {
    val cells = spark.read.parquet(store("ivf") + "/centroids")
      .select(col("cell").cast("long"), col("centroid").cast("array<double>")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    val assigned = spark.read.parquet(store("ivf") + "/assignments")
      .select(col("id"), col("cell").cast("long")).collect().map(r => (r.getLong(0), r.getLong(1)))
    val cellOf = assigned.toMap
    check(assigned.length == vecOf.size && cellOf.keySet == vecOf.keySet,
      s"ivf index holds ${assigned.length} rows for ${vecOf.size} appended vectors")
    val centroid = cells.toMap
    val misplaced = cellOf.filter { case (id, c) =>
      !centroid.contains(c) ||
        cosine(vecOf(id), centroid(c)) < cells.map(x => cosine(vecOf(id), x._2)).max - 1e-6
    }
    check(misplaced.isEmpty, s"ivf index: vectors not in a nearest cell: ${misplaced.take(3)}")
    (cells, cellOf)
  }

  /** Cosine as the engine computes it (graft.functions.CosineSimilarity):
    * one pass, double accumulators, so equal inputs give equal bits. */
  private def cosine(a: Seq[Float], b: Seq[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    a.iterator.zip(b.iterator).foreach { case (x, y) =>
      dot += x * y; na += x.toDouble * x; nb += y * y
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }
  private def cosine(a: Seq[Float], id: Long): Double = cosine(a, vecOf(id).map(_.toDouble))

  def warmUp(): Unit = ()

  def round(ops: Ops, r: Int): Unit = {
    val b = nextBatch(nextId.toInt / BatchSize)
    ingest(ops, b)
    search(ops, b)
  }

  override def finish(ops: Ops): Unit = {
    val rnd = new Random(seed + 17)
    val retired = rnd.shuffle(novelIds.toSeq).take(5)
    ops("retract")(Trace.span("store.retract")(Retract.retract(spark, store("exact"), retired)))
      .foreach(n => check(n == retired.size, s"retract removed $n rows for ${retired.size} keepers"))
    ops("compact_store")(Trace.span("store.compact")(IncrementalDedup.compactStore(spark, store("exact"))))
    check(spark.read.parquet(store("exact")).filter(col("keep_doc_id").isin(retired: _*)).isEmpty,
      s"retracted ids $retired still in the exact store")
    val label = IncrementalComponents.labels(spark, store("components"))
      .collect().map(r => r.getAs[Long]("v") -> r.getAs[Long]("component")).toMap
    val split = nearPairs.filterNot { case (a, b) => label.get(a).isDefined && label.get(a) == label.get(b) }
    check(split.isEmpty, s"planted near pairs not in one component: ${split.take(3)}")
  }

  private def stores = Seq("exact", "simhash", "ngram", "components", "bm25", "ivf")
    .map(s => Main.du(dir.resolve(s)))
  override def storedBytes: Option[Long] = Some(stores.map(_._1).sum)
  override def storedUserBytes: Long = userTotal
  override def layerCounts: Map[String, Double] = Map(
    "store.files" -> stores.map(_._2).sum.toDouble,
    "store.bytes_per_user_byte" -> storedBytes.get.toDouble / userTotal)
}
