package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row

import graft.functions.{Text, Vectors}
import graft.operators.HyperplaneLsh

/** graft.plans fused expressions must be value-identical to the
  * Column-composition forms they replaced — the DuckDB oracle contract
  * depends on it (SURVEY.md §7.4).
  */
class PlansSpec extends SparkSpec {
  import spark.implicits._

  private lazy val texts = Seq(
    "the quick brown fox", "", "a", "héllo wörld", "tab\tand  spaces",
    "punctuation, everywhere! yes?", "números 123 foo_bar").toDF("t")

  test("PolyHash matches the split/ascii/aggregate composition") {
    val got = texts.select(
      Text.polyHash(col("t")).as("fused"),
      Text.polyHashReference(col("t")).as("ref")).collect()
    got.foreach { r => assert(r.get(0) == r.get(1), s"mismatch on $r") }
  }

  test("PolyHash iterates codepoints on astral-plane input (emoji, U+1D11E)") {
    // The oracle contract is codepoint iteration (DuckDB string_split('')
    // + ord is codepoint-based); the fused expression must fold the
    // SUPPLEMENTARY character's codepoint, not its surrogate halves.
    val astral = Seq("a😀b", "𝄞 clef", "mixed 😀 end")
    def expected(s: String): Long = {
      var acc = 0L
      var i = 0
      while (i < s.length) {
        val cp = s.codePointAt(i)
        acc = (acc * 31 + cp) % Text.HashMod
        i += Character.charCount(cp)
      }
      acc
    }
    val got = astral.toDF("t").select(col("t"), Text.polyHash(col("t"))).collect()
    got.foreach { r =>
      assert(r.getLong(1) == expected(r.getString(0)), s"codepoint fold mismatch on $r")
    }
    // parity with the split/ascii Column composition on the same input
    val both = astral.toDF("t").select(
      Text.polyHash(col("t")).as("fused"),
      Text.polyHashReference(col("t")).as("ref")).collect()
    both.foreach { r => assert(r.get(0) == r.get(1), s"composition mismatch on $r") }
  }

  test("PolyHash base-131 family differs from base-31 but is stable") {
    val r = texts.filter(length(col("t")) > 1).select(
      Text.polyHash(col("t")).as("h1"),
      Text.polyHash2(col("t")).as("h2")).collect()
    r.foreach { row =>
      assert(row.getLong(0) != row.getLong(1))
      assert(row.getLong(0) >= 0 && row.getLong(0) < Text.HashMod)
      assert(row.getLong(1) >= 0 && row.getLong(1) < Text.HashMod)
    }
  }

  test("IntersectSize matches size(array_intersect); fused Jaccard matches reference") {
    val pairs = Seq(
      (Seq("a", "b", "c"), Seq("b", "c", "d")),
      (Seq.empty[String], Seq("x")),
      (Seq("a", "a", "b"), Seq("a", "b", "b")), // duplicate elements
      (Seq("x"), Seq.empty[String]),
      (Seq("a b", "c d"), Seq("c d", "a b"))).toDF("a", "b")
    pairs.select(
      graft.plans.expressions.intersectSize(col("a"), col("b")).as("fused"),
      size(array_intersect(col("a"), col("b"))).as("ref")).collect()
      .foreach { r => assert(r.getInt(0) == r.getInt(1), s"mismatch on $r") }
    // null elements: counted once when present on both sides
    val withNulls = spark.range(1).select(
      array(lit("a"), lit(null).cast("string")).as("a"),
      array(lit(null).cast("string"), lit("b"), lit(null).cast("string")).as("b"))
    withNulls.select(
      graft.plans.expressions.intersectSize(col("a"), col("b")).as("fused"),
      size(array_intersect(col("a"), col("b"))).as("ref")).collect()
      .foreach { r => assert(r.getInt(0) == r.getInt(1), s"null mismatch on $r") }
    // Jaccard over pre-distinct arrays equals the intersect/union form
    Seq((Seq("a", "b", "c"), Seq("b", "c", "d")), (Seq("q"), Seq("q")))
      .toDF("a", "b")
      .select(
        Text.jaccard(col("a"), col("b")).as("fused"),
        Text.jaccardReference(col("a"), col("b")).as("ref")).collect()
      .foreach { r =>
        assert(java.lang.Double.compare(r.getDouble(0), r.getDouble(1)) == 0, s"jaccard mismatch on $r")
      }
  }

  test("DotProduct matches zip_with/aggregate composition bit-for-bit") {
    val vecs = Seq(
      (Seq(1.0f, 2.0f, 3.0f), Seq(0.5f, -1.5f, 2.25f)),
      (Seq(0.1f, 0.2f), Seq(0.3f, 0.7f)),
      (Seq.empty[Float], Seq.empty[Float])).toDF("a", "b")
    val got = vecs.select(
      Vectors.dot(Vectors.toDouble(col("a")), Vectors.toDouble(col("b"))).as("fused"),
      Vectors.dotReference(col("a"), col("b")).as("ref")).collect()
    got.foreach { r =>
      assert(java.lang.Double.compare(r.getDouble(0), r.getDouble(1)) == 0, s"mismatch on $r")
    }
  }

  test("DotProduct is null on length mismatch (zip_with null-poison parity)") {
    val vecs = Seq((Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0))).toDF("a", "b")
    val r = vecs.select(Vectors.dot(col("a"), col("b"))).collect()
    assert(r.head.isNullAt(0))
  }

  test("DotProduct is null on null elements, matching the reference form") {
    val df = spark.range(1)
      .select(
        array(lit(1.0), lit(null).cast("double"), lit(2.0)).as("a"),
        array(lit(1.0), lit(1.0), lit(1.0)).as("b"))
    val r = df.select(
      Vectors.dot(col("a"), col("b")).as("fused"),
      Vectors.dotReference(col("a"), col("b")).as("ref")).collect().head
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  test("MinHashSig matches the n-pass array_min composition") {
    val hs = Seq(
      Seq(17L, 9999999L, 31L, 123456789L),
      Seq(42L),
      Seq.empty[Long]).toDF("hs")
    val n = 16
    val got = hs.select(
      Text.minhashSignature(col("hs"), n).as("fused"),
      Text.minhashSignatureReference(col("hs"), n).as("ref")).collect()
    got.foreach { r => assert(r.getSeq[Any](0) == r.getSeq[Any](1), s"mismatch on $r") }
  }

  test("MinHashSig: a tiny shingle hash does not win every minimum") {
    // Jaccard 20/22: the signatures should agree on about 91% of entries.
    // With multipliers below 256, hashes 5 and 7 were the minimum of all
    // 128 functions and the two signatures agreed nowhere.
    val shared = (1 to 20).map(k => 1000000007L - 7919L * k)
    val sigs = Seq(shared :+ 5L, shared :+ 7L).toDF("hs")
      .select(Text.minhashSignature(col("hs"), 128)).as[Seq[Long]].collect()
    val agree = sigs(0).zip(sigs(1)).count { case (a, b) => a == b }
    assert(agree >= 0.75 * 128, s"signatures agree on $agree of 128 entries")
  }

  test("WordShingles matches the transform/slice/concat_ws composition") {
    val docs = Seq(
      "a b c d e", "a b", "a", "", "   ", "x  y\tz", "a b c a b c a b c",
      "word", "two words", "uno dos tres cuatro").toDF("t")
    for (k <- Seq(1, 2, 3, 5)) {
      val got = docs.select(
        Text.shingles(col("t"), k).as("fused"),
        Text.shinglesReference(col("t"), k).as("ref")).collect()
      got.foreach { r =>
        assert(r.getSeq[String](0) == r.getSeq[String](1), s"k=$k mismatch on $r")
      }
    }
  }

  test("saltedJoin equals the plain equi-join, inner and left") {
    import graft.operators.Skew
    // skewed big side: key 1 holds 80% of rows
    val big = (1L to 100L).map(i => (if (i <= 80) 1L else i % 7 + 2, i))
      .toDF("k", "row_id")
    val small = Seq((1L, "hot"), (3L, "warm"), (99L, "unmatched")).toDF("k", "name")
    for (jt <- Seq("inner", "left")) {
      val salted = Skew.saltedJoin(big, small, Seq("k"), col("row_id"), salts = 4, joinType = jt)
        .orderBy("row_id").collect().toSeq
      val plain = big.join(small, Seq("k"), jt).orderBy("row_id").collect().toSeq
      assert(salted == plain, s"$jt join mismatch")
    }
  }

  test("saltedJoin rejects join types replication would corrupt") {
    import graft.operators.Skew
    val big = Seq((1L, 1L)).toDF("k", "row_id")
    val small = Seq((1L, "x")).toDF("k", "name")
    intercept[IllegalArgumentException] {
      Skew.saltedJoin(big, small, Seq("k"), col("row_id"), 4, joinType = "right")
    }
    intercept[IllegalArgumentException] {
      Skew.saltedJoin(big, small, Seq("k"), col("row_id"), 4, joinType = "full_outer")
    }
    // Spark-accepted aliases of the safe types must keep working
    assert(Skew.saltedJoin(big, small, Seq("k"), col("row_id"), 4, joinType = "semi")
      .count() == 1)
    assert(Skew.saltedJoin(big, small, Seq("k"), col("row_id"), 4, joinType = "left_anti")
      .count() == 0)
  }

  test("hyperplane sign matrix is deterministic and ±1") {
    val m1 = HyperplaneLsh.signMatrix(8, 5)
    val m2 = HyperplaneLsh.signMatrix(8, 5)
    assert(m1.map(_.toSeq).toSeq == m2.map(_.toSeq).toSeq)
    assert(m1.flatten.forall(v => v == 1.0 || v == -1.0))
    // not degenerate: both signs occur
    assert(m1.flatten.distinct.length == 2)
  }

  test("whole-stage codegen stays enabled over every fused-expression projection") {
    // spark.range keeps a real physical scan (a LocalRelation would be
    // constant-folded into a LocalTableScan with no codegen span).
    val df = spark.range(100)
      .select(concat(lit("doc words more tail "), col("id")).as("t"),
        array(col("id").cast("double"), lit(2.0)).as("v"))
      .select(
        Text.polyHash(col("t")).as("h"),
        Vectors.dot(col("v"), col("v")).as("d"),
        Text.shingles(col("t"), 2).as("sh"),
        graft.plans.expressions.minhashSig(
          array(Text.polyHash(col("t"))), 4).as("sig"),
        graft.plans.expressions.intersectSize(
          Text.shingles(col("t"), 2), Text.shingles(col("t"), 3)).as("isz"))
    val plan = df.queryExecution.executedPlan.toString
    // the `*(n)` prefix marks operators inside a WholeStageCodegen span —
    // one CodegenFallback expression would break the whole projection out
    assert(plan.contains("*(1) Project [graft_polyhash"), s"no codegen span in:\n$plan")
    // with fallback disabled, a Janino compile error in any doGenCode
    // would fail the collect instead of silently interpreting
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val rows = df.collect()
      assert(rows.length == 100)
      // generated and interpreted paths agree
      val viaInterp = graft.plans.WordShingles.compute(
        org.apache.spark.unsafe.types.UTF8String.fromString("doc words more tail 0"), 2)
      assert(rows.head.getSeq[String](2) == (0 until viaInterp.numElements)
        .map(i => viaInterp.getUTF8String(i).toString))
    } finally spark.conf.set("spark.sql.codegen.fallback", "true")
  }

  test("r=64 single-band LSH keys on the full signature, not bucket 0") {
    // mask regression: (1L << 64) - 1 is 0 under Scala's mod-64 shift,
    // which collapsed every signature into one all-pairs bucket. With
    // the -1L >>> (64 - r) mask, a single 64-bit band collides ONLY
    // equal signatures — so a high-cosine pair engineered to differ in
    // exactly one signature bit must NOT be emitted, while an identical
    // pair must.
    val dim = 6
    val signs = HyperplaneLsh.signMatrix(64, dim)
    val vA = Array(0.83, 0.21, -0.44, 0.57, 0.12, -0.35)
    def dot(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => x * y }.sum
    // reflect vA across the hyperplane whose |dot| is smallest: bit k*
    // provably flips, cosine stays near 1 because the component removed
    // is tiny
    val kStar = signs.indices.minBy(k => math.abs(dot(vA, signs(k))))
    val d = dot(vA, signs(kStar))
    val vB = vA.zip(signs(kStar)).map { case (x, h) => x - 2.0 * d / dim * h }
    def sig(v: Array[Double]) = signs.map(h => if (dot(v, h) > 0) 1 else 0).toSeq
    require(sig(vA) != sig(vB), "engineered pair must differ in signature")
    val cosAB = dot(vA, vB) / math.sqrt(dot(vA, vA) * dot(vB, vB))
    require(cosAB >= 0.9, s"engineered pair must clear the threshold: $cosAB")
    val vC = Array(0.5, -0.5, 0.25, 0.1, -0.9, 0.3)
    val emb = Seq((1L, vA), (2L, vB), (3L, vC), (4L, vC))
      .toDF("doc_id", "emb")
    val pairs = HyperplaneLsh.cosinePairs(
      emb, "doc_id", "emb", dim, threshold = 0.9, nbits = 64, r = 64)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // identical vectors share a signature -> emitted; the one-bit-off
    // pair does not -> excluded (the buggy mask emitted (1, 2) too)
    assert(pairs == Set((3L, 4L)))
  }
}
