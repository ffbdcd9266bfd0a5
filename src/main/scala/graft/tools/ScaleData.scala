package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

/** Scale-rehearsal data generator: replicates a driver testdata dir
  * `factor`× with key shifting, producing e.g. sf1 from sf0.1 so the
  * bench board's sf0.1→sf1 wall-time ratios can be measured (the
  * empirical check on every "survives 100×" plan-audit claim —
  * VERDICT r8 item 1). The driver ships no sf1; this scratch data is
  * for PERFORMANCE ratios only — correctness stays gated on the
  * driver's sf0.01 DuckDB oracle.
  *
  * Replication is NOT naive duplication, because naive copies distort
  * the very workloads being measured:
  *
  *  - every key column is shifted by `replica · 10⁸` so uniqueness
  *    and join relationships hold exactly (10× customers each with
  *    their own 10× orders — fan-outs stay constant, never ×factor);
  *  - name columns that are 1:1 with keys (c_name, s_name, p_name)
  *    get a replica suffix, so name-derived surrogate keys (F17)
  *    keep their 1:1 property instead of colliding 10 replicas onto
  *    one hash → accidental 100× join fan-out;
  *  - `documents.text` is passed through a per-replica Caesar cipher
  *    (`translate` over [a-zA-Z] — a bijection, so length, token
  *    count, whitespace/punctuation ratios and WITHIN-replica shingle
  *    equality are preserved exactly) so cross-replica Jaccard ≈ 0:
  *    dedup pair outputs scale ~linearly with the corpus as they
  *    would on real grown data, instead of every doc gaining
  *    `factor-1` artificial twins (output ×factor², measuring an
  *    explosion the operator didn't cause);
  *  - `embeddings.embedding` is rotated by `replica` dimensions — a
  *    coordinate permutation preserves norms and all intra-replica
  *    dot products bit-exactly while cross-replica cosine drops to
  *    the random background (measured: pass-rate at the 0.35 pair
  *    threshold ≈ the 0.2% random tail, same as unrelated vectors);
  *  - `region`/`nation` are copied as-is: dimension tables don't
  *    scale with fact data, and keeping them fixed preserves the
  *    broadcast-join shape the queries are designed around;
  *  - `events.ts` keeps its range (10× event density in the same
  *    window — the realistic shape for higher traffic, and a genuine
  *    stress on windowed aggregation state).
  *
  * Usage: runMain graft.tools.ScaleData <srcDir> <dstDir> [factor]
  */
object ScaleData {

  /** Key offset per replica; far above any driver-generated key and
    * far below Long overflow at factor ≤ ~10⁹.
    */
  val Offset: Long = 100000000L

  private val Lower = "abcdefghijklmnopqrstuvwxyz"
  private val Upper = Lower.toUpperCase

  private def rot(s: String, r: Int): String = {
    val k = ((r % s.length) + s.length) % s.length
    s.substring(k) + s.substring(0, k)
  }

  /** Per-replica letter-substitution cipher; r=0 is the identity. */
  private def cipher(c: org.apache.spark.sql.Column, r: Int) =
    if (r == 0) c
    else translate(c, Lower + Upper, rot(Lower, r) + rot(Upper, r))

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ScaleData <srcDir> <dstDir> [factor]")
    val (src, dst) = (args(0), args(1))
    val factor = if (args.length > 2) args(2).toInt else 10
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = graft.LocalSession(cpus)

    /** `factor` key-shifted replicas of one table, unioned. */
    def replicate(name: String, keys: Seq[String], files: Int)(
        extra: (DataFrame, Int) => DataFrame): Unit = {
      val base = spark.read.parquet(s"$src/$name.parquet")
      val out = (0 until factor).map { r =>
        val shifted = keys.foldLeft(base) { (df, k) =>
          df.withColumn(k, col(k) + lit(r * Offset))
        }
        extra(shifted, r)
      }.reduce(_.unionAll(_))
      out.repartition(files).write.mode("overwrite")
        .parquet(s"$dst/$name.parquet")
      println(s"[scale] $name -> $dst/$name.parquet (${factor}x, $files files)")
    }

    def copy(name: String): Unit = {
      spark.read.parquet(s"$src/$name.parquet")
        .coalesce(1).write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"[scale] $name copied as-is (dimension table)")
    }

    def tag(c: String, r: Int)(df: DataFrame): DataFrame =
      if (r == 0) df else df.withColumn(c, concat(col(c), lit(s"~r$r")))

    copy("region")
    copy("nation")
    replicate("customer", Seq("c_custkey"), 2)((df, r) => tag("c_name", r)(df))
    replicate("supplier", Seq("s_suppkey"), 1)((df, r) => tag("s_name", r)(df))
    replicate("part", Seq("p_partkey"), 2)((df, r) => tag("p_name", r)(df))
    replicate("orders", Seq("o_orderkey", "o_custkey"), 4)((df, _) => df)
    replicate("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"), 8)((df, _) => df)
    replicate("events", Seq("event_id", "user_id"), 4)((df, _) => df)
    replicate("documents", Seq("doc_id"), 4) { (df, r) =>
      df.withColumn("text", cipher(col("text"), r))
    }
    replicate("embeddings", Seq("vec_id"), 2) { (df, r) =>
      val k = r % 64
      if (k == 0) df
      else df.withColumn("embedding", expr(
        s"concat(slice(embedding, ${k + 1}, size(embedding) - $k), " +
          s"slice(embedding, 1, $k))"))
    }

    spark.stop()
  }
}
