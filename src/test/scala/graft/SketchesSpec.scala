package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}

import graft.operators.Sketches
import graft.plans.expressions

/** KMV aggregate and count-min sketch semantics: exact small-group
  * behavior, dedup, partition-order independence, and the CMS
  * never-underestimates guarantee on random data.
  */
class SketchesSpec extends SparkSpec {
  import spark.implicits._

  test("kMinValues returns the k smallest DISTINCT values, ascending") {
    val df = Seq(5L, 3L, 9L, 3L, 1L, 7L, 1L, 8L).toDF("v")
    val got = df.agg(expressions.kMinValues(col("v"), 4)).as[Seq[Long]].head
    assert(got == Seq(1L, 3L, 5L, 7L))
  }

  test("kMinValues with fewer than k distinct values returns them all") {
    val df = Seq(2L, 2L, 2L, 6L).toDF("v")
    val got = df.agg(expressions.kMinValues(col("v"), 8)).as[Seq[Long]].head
    assert(got == Seq(2L, 6L))
  }

  test("kMinValues ignores nulls and is partition-order independent") {
    val vals: Seq[java.lang.Long] =
      Seq[java.lang.Long](40L, null, 10L, 30L, null, 20L, 50L)
    val a = vals.toDF("v").repartition(1)
      .agg(expressions.kMinValues(col("v"), 3)).as[Seq[Long]].head
    val b = vals.toDF("v").repartition(7)
      .agg(expressions.kMinValues(col("v"), 3)).as[Seq[Long]].head
    assert(a == Seq(10L, 20L, 30L) && b == a)
  }

  test("kMinValues agrees with sort-limit on random data across partitionings") {
    val rnd = new scala.util.Random(11)
    val vals = Seq.fill(5000)(rnd.nextLong() % 1000L) // heavy duplication
    val want = vals.distinct.sorted.take(64)
    for (parts <- Seq(1, 4, 13)) {
      val got = vals.toDF("v").repartition(parts)
        .agg(expressions.kMinValues(col("v"), 64)).as[Seq[Long]].head
      assert(got == want, s"parts=$parts")
    }
  }

  test("count-min estimate is never below the true count and exact without collisions") {
    val rnd = new scala.util.Random(3)
    val items = Seq.fill(4000)(s"tok${rnd.nextInt(300)}")
    val df = items.toDF("item")
    val sketch = Sketches.countMinBuild(df, "item", 4, 512)
    val exact = df.groupBy("item").agg(count(lit(1)).as("n_true"))
    val est = Sketches.countMinLookup(sketch, exact, "item", 4, 512)
      .select("item", "n_true", "est_n").as[(String, Long, Long)].collect()
    assert(est.length == 300)
    assert(est.forall { case (_, t, e) => e >= t },
      "CMS must never underestimate")
    // d=4 × w=512 on 300 distinct items: expect most estimates exact
    val exactFrac = est.count { case (_, t, e) => e == t }.toDouble / est.length
    assert(exactFrac > 0.5, s"collision rate implausibly high: $exactFrac")
  }

  test("count-min sketch never exceeds d*w rows") {
    val df = (0 until 2000).map(i => s"t$i").toDF("item")
    assert(Sketches.countMinBuild(df, "item", 3, 64).count() <= 3 * 64)
  }

  test("pageRank: star center outranks leaves, symmetric pairs tie, isolated stay base") {
    val pairs = Seq((0L, 1L), (0L, 2L), (0L, 3L), (7L, 8L)).toDF("id_a", "id_b")
    val nodes = (0L to 9L).toDF("id")
    val r = graft.operators.Rank.pageRank(pairs, nodes, 5)
      .as[(Long, Long)].collect().toMap
    assert(r(0L) > r(1L), "star center must outrank a leaf")
    assert(r(1L) == r(2L) && r(2L) == r(3L), "symmetric leaves must tie exactly")
    assert(r(7L) == r(8L), "an isolated pair's ends must tie")
    assert(r(9L) == 150000L + 0L, "isolated node converges to the base rank")
  }

  test("pageRank is partition-count independent (integer arithmetic)") {
    val pairs = Seq((0L, 1L), (1L, 2L), (2L, 3L), (0L, 3L), (1L, 3L)).toDF("id_a", "id_b")
    val nodes = (0L to 4L).toDF("id")
    val a = graft.operators.Rank.pageRank(pairs.repartition(1), nodes.repartition(1), 4)
      .as[(Long, Long)].collect().toMap
    val b = graft.operators.Rank.pageRank(pairs.repartition(7), nodes.repartition(3), 4)
      .as[(Long, Long)].collect().toMap
    assert(a == b)
  }

  test("pageRank keys ids by SQL equality: a pair end -0.0 is the node 0.0") {
    val nodes = Seq(0.0, 1.0).toDF("id")
    def ranks(a: Double) = graft.operators.Rank.pageRank(
        Seq((a, 1.0)).toDF("id_a", "id_b"), nodes, 3)
      .as[(Double, Long)].collect().sortBy(_._1).toSeq
    val pos = ranks(0.0)
    assert(pos.map(_._2).forall(_ > 150000L), s"linked nodes must gain rank: $pos")
    assert(ranks(-0.0) == pos)
  }

  test("pageRank ranks a repeated node row as one vertex") {
    val pairs = Seq((0L, 1L), (1L, 2L), (2L, 0L), (2L, 3L)).toDF("id_a", "id_b")
    val nodes = (0L to 3L).toDF("id")
    val once = graft.operators.Rank.pageRank(pairs, nodes, 4).as[(Long, Long)].collect()
    val twice = graft.operators.Rank.pageRank(pairs, nodes.union(Seq(2L).toDF("id")), 4)
      .as[(Long, Long)].collect()
    assert(twice.length == 4 && twice.toMap == once.toMap)
  }

  test("pageRank keeps int ids as int, ranked as the long run") {
    val pairs = Seq((0, 1), (0, 2), (0, 3), (7, 8)).toDF("id_a", "id_b")
    val nodes = (0 to 9).toDF("id")
    val ints = graft.operators.Rank.pageRank(pairs, nodes, 5)
    assert(ints.schema.map(_.dataType) == Seq(IntegerType, LongType))
    val longs = graft.operators.Rank.pageRank(pairs, nodes.select(col("id").cast("long")), 5)
    assert(ints.as[(Int, Long)].collect().map { case (k, r) => (k.toLong, r) }.toMap ==
      longs.as[(Long, Long)].collect().toMap)
  }

  test("pageRank refuses a null id in the nodes or the pairs") {
    val nodes = Seq(Some(1L), Some(2L)).toDF("id")
    val pairs = Seq((Some(1L), Some(2L))).toDF("id_a", "id_b")
    val nullNode = Seq(Some(1L), None).toDF("id")
    val nullEnd = Seq((Some(1L), Option.empty[Long])).toDF("id_a", "id_b")
    for ((p, n) <- Seq((pairs, nullNode), (nullEnd, nodes),
        (pairs, nullNode.select(col("id").cast("string")))))
      intercept[IllegalArgumentException] {
        graft.operators.Rank.pageRank(p, n, 3).collect()
      }
  }

  test("pageRank leaves at most its result's RDD persisted") {
    val pairs = Seq((0L, 1L), (1L, 2L)).toDF("id_a", "id_b")
    val nodes = (0L to 3L).toDF("id")
    for (n <- Seq(nodes, nodes.select(col("id").cast("string")))) {
      val before = spark.sparkContext.getPersistentRDDs.size
      graft.operators.Rank.pageRank(pairs, n, 3).collect()
      assert(spark.sparkContext.getPersistentRDDs.size <= before + 1,
        s"persisted: ${spark.sparkContext.getPersistentRDDs.values.mkString(", ")}")
    }
  }

  test("count-min lookup of an unseen item estimates zero") {
    val sketch = Sketches.countMinBuild(Seq("a", "b").toDF("item"), "item", 4, 512)
    val est = Sketches.countMinLookup(
        sketch, Seq("zzz-unseen").toDF("item"), "item", 4, 512)
      .select("est_n").as[Long].head
    assert(est == 0L)
  }
}
