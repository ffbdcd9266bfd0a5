package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.{HashPartitioner, SparkException}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** The graph kernel under [[TextDedup.connectedComponents]] and
  * [[Rank.pageRank]]: an undirected pair graph keyed on `Long`
  * (GraphX's `VertexId` design).
  *
  *  - Keys: integral ids (long, int, short, byte) are their own keys —
  *    `toLong` keeps SQL order and equality, so they need no encode. Every
  *    other id type gets a sorted dictionary: `distinct` over the node
  *    ids and both pair ends, `orderBy`, `zipWithIndex`, joined to the
  *    pairs and nodes. Keys then follow SQL order and equality (strings
  *    by code point, `-0.0` = `0.0`, NaN = NaN, decimals, unsigned
  *    binary) for every id type. A null id raises
  *    `IllegalArgumentException`.
  *  - Graph: the pair plan is read once. `edges` holds both directions of
  *    every pair (key = one end, value = the other) and `vertices` every
  *    node once as (key, key), both on the one retained `part`, so a
  *    loop's per-round joins against state keyed the same way are narrow.
  *  - Decode: [[IdGraph.run]] maps the loop's key-keyed result back to
  *    the ids.
  */
private[operators] final class IdGraph private (
    nodes: DataFrame, pairs: DataFrame, held: ArrayBuffer[RDD[_]]) {
  import IdGraph.{key, notNull}

  /** Caches `r` until [[IdGraph.run]] returns. */
  def persist[T](r: RDD[T]): RDD[T] = {
    held += r
    r.persist(IdGraph.Lvl)
  }

  private val idField: StructField = nodes.schema.head
  private val spark = nodes.sparkSession
  private val ns = nodes.toDF("id")
  private val ps = pairs.select(
    col("id_a").cast(idField.dataType).as("id_a"), col("id_b").cast(idField.dataType).as("id_b"))

  // decode: `Row(id, value)` for every key of a result; a `valueIsId`
  // value is decoded to an id too
  private val (nodeKeys, edgeKeys, decode) = IdGraph.Integral.get(idField.dataType) match {
    case Some(id) =>
      (ns.rdd.map(key(_, 0)), ps.rdd.map(r => (key(r, 0), key(r, 1))),
        (r: RDD[(Long, Long)], valueIsId: Boolean) =>
          r.map { case (k, v) => Row(id(k), if (valueIsId) id(v) else v) })
    case None =>
      // the pair plan runs once: the dictionary and the encode read its cache
      val p = spark.createDataFrame(persist(ps.rdd), ps.schema)
      val keyed = persist(ns.union(p.select("id_a")).union(p.select("id_b"))
        .distinct().orderBy("id").rdd.map(r => notNull(r.get(0)))).zipWithIndex()
      val dict = spark.createDataFrame(keyed.map { case (id, k) => Row(id, k) },
        StructType(Seq(idField.copy(name = "id"), StructField("k", LongType, nullable = false))))
      val ids = keyed.map(_.swap)
      (ns.join(dict, "id").rdd.map(_.getLong(1)),
        p.join(dict.toDF("id_a", "a"), "id_a").join(dict.toDF("id_b", "b"), "id_b")
          .select("a", "b").rdd.map(r => (r.getLong(0), r.getLong(1))),
        (r: RDD[(Long, Long)], valueIsId: Boolean) => {
          val valueToId = r.join(ids).values
          if (valueIsId) valueToId.join(ids).values.map { case (id, v) => Row(id, v) }
          else valueToId.map { case (v, id) => Row(id, v) }
        })
  }

  val part = new HashPartitioner(
    math.max(spark.sparkContext.defaultParallelism, edgeKeys.getNumPartitions))

  val edges: RDD[(Long, Long)] =
    persist(edgeKeys.flatMap { case (a, b) => Iterator((a, b), (b, a)) }.partitionBy(part))

  // deduplicated in the same shuffle that partitions it
  val vertices: RDD[(Long, Long)] =
    persist(nodeKeys.map(k => (k, k)).reduceByKey(part, (a, _) => a))
}

private[operators] object IdGraph {
  private val Lvl = StorageLevel.MEMORY_AND_DISK

  /** The id types that are their own keys, each with its key-to-id map. */
  private val Integral: Map[DataType, Long => Any] = Map(
    LongType -> ((k: Long) => k), IntegerType -> ((k: Long) => k.toInt),
    ShortType -> ((k: Long) => k.toShort), ByteType -> ((k: Long) => k.toByte))

  private def notNull(id: Any): Any =
    if (id == null) throw new IllegalArgumentException("graph ids must not be null") else id

  private def key(r: Row, i: Int): Long = notNull(r.get(i)).asInstanceOf[Number].longValue

  /** Builds the graph of `nodes` (one column: the ids) and
    * `pairs` (`id_a`, `id_b`, cast to the node id type), runs `loop` on
    * it and returns the `(key, value)` rows it yields as columns
    * (`idCol`, `valueCol`). A `valueIsId` value is a key, returned as an
    * id of the node id type; any other value is a non-null `Long`. The
    * result is materialized with one persist + count, and every other
    * cache is released before returning, so the returned frame reads
    * that one cached RDD.
    */
  def run(nodes: DataFrame, pairs: DataFrame, idCol: String, valueCol: String, valueIsId: Boolean)(
      loop: IdGraph => RDD[(Long, Long)]): DataFrame = {
    val held = ArrayBuffer.empty[RDD[_]]
    try {
      val g = new IdGraph(nodes, pairs, held)
      val out = g.decode(loop(g), valueIsId).persist(Lvl)
      out.count()
      nodes.sparkSession.createDataFrame(out, StructType(Seq(g.idField.copy(name = idCol),
        if (valueIsId) g.idField.copy(name = valueCol)
        else StructField(valueCol, LongType, nullable = false))))
    } catch {
      // a null id is refused inside a task; surface the refusal itself
      case e: SparkException => throw Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).collectFirst { case r: IllegalArgumentException => r }.getOrElse(e)
    } finally held.foreach(_.unpersist(blocking = false))
  }
}
