package graft.perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.functions.Text
import graft.operators.{Curation, Similarity, TextDedup, TextStats}

/** A seeded document corpus with planted exact and near duplicate groups
  * (plus documents the language, quality and repetition filters must
  * drop), and a clustered embedding set with a batch of query vectors.
  * One round writes one curated corpus through `Curation.curate` (df-capped
  * n-gram Jaccard candidates, the `x_curate` composition) to plain
  * parquet, reads it back twice, and runs the query set's top-k through
  * `Similarity.ivfTopK`. No
  * transaction log is involved.
  */
final class CorpusWorkload(spark: SparkSession, seed: Long, rec: Recorder) extends Workload {
  import CorpusWorkload._

  val setupReps = 3
  val warmupRounds = 2
  val fixedRounds = 3

  private var root: String = _
  private var docs: DataFrame = _
  private var emb: DataFrame = _
  private var queries: DataFrame = _
  private var queryIds: Seq[Long] = Nil
  private val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val topk = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var pairCount = 0L

  private def rng(parts: Long*): SplittableRandom =
    new SplittableRandom(parts.foldLeft(seed * 0x9E3779B97F4A7C15L)((h, p) => (h ^ p) * 0xBF58476D1CE4E5B9L))

  private def word(r: SplittableRandom): String = {
    val n = r.nextInt(Vocab)
    "zq" + java.lang.Integer.toString(n, 36)
  }

  private def english(r: SplittableRandom): Array[String] =
    Array.fill(50 + r.nextInt(20))(
      if (r.nextInt(4) == 0) EnMarkers(r.nextInt(EnMarkers.size)) else word(r))

  /** Documents as (doc_id, text, grp, role): `grp` names the planted
    * duplicate group (-1 for none), `role` what the curation must do.
    */
  private def documents(): Seq[Row] = {
    val r = rng(1)
    val out = mutable.ArrayBuffer.empty[(String, Long, String)] // (text, group, role)
    var group = 0L
    while (out.size < Docs) {
      val roll = r.nextInt(100)
      if (roll < 10) { // exact duplicate group
        val t = english(r).mkString(" ")
        (0 until 2 + r.nextInt(3)).foreach(_ => out += ((t, group, "dup")))
        group += 1
      } else if (roll < 20) { // near-duplicate group: one-token edits of a base
        val base = english(r)
        out += ((base.mkString(" "), group, "dup"))
        (0 until 1 + r.nextInt(3)).foreach { _ =>
          val v = base.clone()
          v(r.nextInt(v.length)) = word(r)
          out += ((v.mkString(" "), group, "dup"))
        }
        group += 1
      } else if (roll < 28) { // not English
        out += ((Array.fill(50 + r.nextInt(20))(
          if (r.nextInt(3) == 0) EsMarkers(r.nextInt(EsMarkers.size)) else word(r)).mkString(" "), -1L, "drop"))
      } else if (roll < 33) { // repetitive
        val phrase = Array.fill(3)(word(r)) :+ "the"
        out += ((Array.fill(15)(phrase.mkString(" ")).mkString(" "), -1L, "drop"))
      } else if (roll < 36) { // low quality: mostly punctuation
        out += ((Array.fill(6)(word(r) + " !!!???### the").mkString(" "), -1L, "drop"))
      } else out += ((english(r).mkString(" "), -1L, "keep"))
    }
    // ids are a seeded permutation, so group members are scattered
    val ids = (0L until out.size).toArray
    (ids.length - 1 to 1 by -1).foreach { i =>
      val j = r.nextInt(i + 1)
      val t = ids(i); ids(i) = ids(j); ids(j) = t
    }
    out.zipWithIndex.map { case ((t, g, role), i) => Row(ids(i) + 1, t, g, role) }.toSeq
  }

  /** Vectors in `NList` equal gaussian blobs, member `i` in blob
    * `i % NList`: the `NList` lowest ids, which `ivfTopK` takes as its
    * centroids, sit one per blob, so every inverted list holds one blob
    * and every seed does the same work.
    */
  private def vectors(tag: Long, n: Int, idBase: Long): Seq[Row] = {
    val r = rng(2)
    val centers = Array.fill(NList, Dim)(r.nextGaussian())
    val v = rng(3, tag)
    (0 until n).map { i =>
      val c = centers(i % NList)
      Row(idBase + i, c.map(x => (x + 0.35 * v.nextGaussian()).toFloat).toSeq)
    }
  }

  def setup(rep: Int, dir: String): Unit = {
    root = dir
    val docSchema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
      StructField("grp", LongType), StructField("role", StringType)))
    val vecSchema = StructType(Seq(StructField("id", LongType),
      StructField("vec", ArrayType(FloatType, containsNull = false))))
    spark.createDataFrame(java.util.Arrays.asList(documents(): _*), docSchema)
      .write.parquet(s"$dir/input/documents")
    spark.createDataFrame(java.util.Arrays.asList(vectors(0, Vectors, 1L): _*), vecSchema)
      .repartition(16).write.parquet(s"$dir/input/embeddings")
    spark.createDataFrame(java.util.Arrays.asList(vectors(1, Queries, QueryIdBase): _*), vecSchema)
      .write.parquet(s"$dir/input/queries")
    // load: the program receives only (doc_id, text) and the vectors
    docs = spark.read.parquet(s"$dir/input/documents").select("doc_id", "text").cache()
    emb = spark.read.parquet(s"$dir/input/embeddings").cache()
    queries = spark.read.parquet(s"$dir/input/queries").cache()
    docs.count(); emb.count()
    queryIds = queries.select("id").collect().map(_.getLong(0)).toSeq
  }

  private val th = Curation.Thresholds()
  private def pairs(kept: DataFrame): DataFrame =
    TextDedup.ngramJaccardPairsCapped(kept, "doc_id", "text", th.shingleK, th.jaccard,
      th.maxShingleFreq)

  def round(i: Int): Unit = {
    val out = s"$root/curated"
    rec.op("write", "curate") {
      rec.layer("operators", "Curation.curate") {
        Curation.curate(docs, "doc_id", "text", th)
          .write.mode("overwrite").parquet(out)
      }
    }
    // the read: a consumer loads the curated corpus, first right after
    // the pass (new files to list and open) and then again
    Seq("curated", "again.curated").foreach { kind =>
      val kept = rec.op("read", kind)(spark.read.parquet(out).collect())
      passes += Map("kept" -> kept.map(_.getLong(0)).sorted.toSeq)
    }
    if (rec.tracer.enabled && rec.measuring) pieces()
    // top-k runs and is checked every round, but is not a timed read: its
    // time takes one of two levels per JVM (see the README), so it is
    // reported only as the traced run's `operators.topk_ms`
    val rows = rec.op("query", "topk") {
      rec.layer("operators", "Similarity.ivfTopK", "operators.topk_ms") {
        Similarity.ivfTopK(emb, queries, "id", "vec", K, NList, NProbe).collect()
      }
    }
    topk += Map("queries" -> queryIds, "rows" -> rows.toSeq.map(Json.row))
  }

  /** The traced run also times `curate`'s pieces one at a time on the
    * same input: scoring, candidate pairs, connected components.
    */
  private def pieces(): Unit = {
    val kept = rec.layer("operators", "score", "operators.score_ms") {
      val k = docs.select(col("doc_id"), col("text"),
          Text.langId(col("text")).as("lang_pred"),
          Text.qualityScore(col("text")).as("score"),
          TextStats.repetitionScore(col("text")).as("repetition"))
        .filter(col("lang_pred") === th.lang && col("score") >= th.minQuality &&
          col("repetition") <= th.maxRepetition)
        .localCheckpoint()
      k.count()
      k
    }
    val p = rec.layer("operators", "TextDedup.ngramJaccardPairsCapped", "operators.pairs_ms") {
      val p = pairs(kept.select("doc_id", "text")).localCheckpoint()
      pairCount = p.count()
      p
    }
    rec.layer("operators", "TextDedup.connectedComponents", "operators.components_ms") {
      TextDedup.connectedComponents(kept, "doc_id", p).count()
    }
  }

  def storedDirs: Seq[String] = Seq(s"$root/curated")

  override def traceMetrics: Map[String, Double] = Map("operators.pairs" -> pairCount.toDouble)

  def checkData: Map[String, Any] = Map(
    "documents" -> s"$root/input/documents", "embeddings" -> s"$root/input/embeddings",
    "queries" -> s"$root/input/queries", "k" -> K, "passes" -> passes.toSeq, "topk" -> topk.toSeq)
}

/** Sizes. The engine's own curation and ANN queries (`x_curate`,
  * `x_ann_ivf` in `queries/Extensions.scala`) run at sf0.1 over 5,000
  * documents of 54 words on average and 2,000 64-wide embeddings, with
  * nlist 32 and nprobe 4. The corpus keeps about that document length
  * (50 to 69 words), the width, nlist and nprobe. It has 2,000
  * documents, so that a curation pass takes about three seconds, and
  * 10,000 vectors, so that the 48 queries take about two seconds: long
  * enough to time, short enough that a run fits its time.
  */
object CorpusWorkload {
  val Docs = 2000
  val Vocab = 20000
  val Vectors = 10000
  val Queries = 48
  val QueryIdBase = 1000000000L
  val Dim = 64
  val K = 10
  val NList = 32
  val NProbe = 4
  val EnMarkers = Seq("the", "and", "of", "to", "in", "is", "that", "it", "for")
  val EsMarkers = Seq("que", "el", "y", "los", "del", "se", "las", "de", "la")
}
