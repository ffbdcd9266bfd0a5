package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

import graft.operators.{Multimodal, Similarity, TextDedup}

class DedupAndSimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (1L, "the quick brown fox jumps over the lazy dog near the river bank tonight"), // near-dup of 0
    (2L, "completely different words about spark shuffles and partition pruning here"),
    (3L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 0
    (4L, "yet another unrelated document mentioning joins aggregates and windows only"))
    .toDF("doc_id", "text")

  test("spread raises sub-parallelism frames to the task-slot count and is a no-op above it") {
    val slots = spark.sparkContext.defaultParallelism
    val narrow = docs.coalesce(1)
    assert(TextDedup.spread(narrow).rdd.getNumPartitions === slots,
      "a single-partition frame must spread to the session's task slots")
    val wide = docs.repartition(slots + 3)
    // already ≥ slots: spread must NOT add an exchange (same plan object)
    assert(TextDedup.spread(wide) eq wide)
    // content is unchanged by spreading (round-robin repartition only)
    assert(TextDedup.spread(narrow).as[(Long, String)].collect().sorted
      === docs.as[(Long, String)].collect().sorted)
  }

  test("exact dedup groups identical texts under the minimal id") {
    val out = TextDedup.exact(docs, "doc_id", "text")
    val m = out.as[(Long, Long)].collect().toMap
    assert(m(0L) === 2L) // docs 0 and 3
    assert(out.count() === 4)
  }

  test("repeatedSubstrings reports cross-document windows, skipping short docs") {
    val boiler = "LICENSE HEADER: this text is identical boilerplate across documents!"
    val subs = Seq(
      (0L, boiler + " unique tail zero zero zero zero zero zero zero zero"),
      (1L, boiler + " different tail one one one one one one one one one"),
      (2L, "no shared content here at all, just some filler words to pass sixty-four"),
      (3L, "tiny")) // under the window size — contributes nothing
      .toDF("doc_id", "text")
    val out = TextDedup.repeatedSubstrings(subs, "doc_id", "text",
      window = 64, stride = 4)
    val rows = out.as[(String, Long, Long)].collect()
    assert(rows.nonEmpty, "the shared boilerplate must surface")
    assert(rows.forall { case (win, nDocs, nOcc) =>
      win.length == 64 && nDocs == 2 && nOcc >= nDocs })
    // every reported window is genuinely shared: it appears in both
    // boilerplate docs' texts at some aligned stride position
    assert(rows.forall { case (win, _, _) =>
      (boiler + " unique").contains(win.take(20)) ||
        Seq(0L, 1L).forall(i => subs.filter(col("doc_id") === i)
          .head.getString(1).contains(win)) })
    // a single-doc repeated window does NOT qualify (cross-doc only)
    val selfRep = Seq((9L, ("abcd" * 40))).toDF("doc_id", "text")
    assert(TextDedup.repeatedSubstrings(selfRep, "doc_id", "text", 64, 4).count() == 0)
  }

  test("cutRepeatedSpans removes exactly the covered spans, byte for byte") {
    // 64 chars of shared boilerplate at the START of both docs, aligned
    // to the stride lattice (pos 1), so the covered interval is [1, 64]
    // extended by every later stride window still inside the repeat
    val boiler = "B" * 80
    val d = Seq(
      (0L, boiler + "zero-tail that is unique to document number zero indeed"),
      (1L, boiler + "one-tail entirely different from the other document one!"),
      (2L, "short and unshared")).toDF("doc_id", "text")
    val out = TextDedup.cutRepeatedSpans(d, "doc_id", "text", window = 64, stride = 8)
      .orderBy("doc_id")
      .as[(Long, String, Long)].collect()
    // windows at pos 1,9,17 of an 80-char repeat are all 'B'*64 and
    // shared; the merged covered interval per doc is [1, 80] exactly
    // (pos 17 + 63 = 80), so the cut text is the tail alone
    assert(out(0)._2 == "zero-tail that is unique to document number zero indeed")
    assert(out(1)._2 == "one-tail entirely different from the other document one!")
    assert(out(0)._3 == 80L && out(1)._3 == 80L)
    // untouched doc passes through verbatim with a zero cut count
    assert(out(2)._2 == "short and unshared" && out(2)._3 == 0L)
  }

  test("cutRepeatedSpans works when the caller's id column is literally \"id\"") {
    // regression: the internal island key used to be hardcoded to "id",
    // making the final join ambiguous for this (perfectly reasonable)
    // caller schema
    val boiler = "B" * 80
    val d = Seq(
      (0L, boiler + "zero-tail that is unique to document number zero indeed"),
      (1L, boiler + "one-tail entirely different from the other document one!"))
      .toDF("id", "text")
    val out = TextDedup.cutRepeatedSpans(d, "id", "text", window = 64, stride = 8)
      .orderBy("id").as[(Long, String, Long)].collect()
    assert(out(0)._2 == "zero-tail that is unique to document number zero indeed")
    assert(out(1)._3 == 80L)
  }

  test("ngramJaccardPairs finds exact and near duplicates, nothing else") {
    val pairs = TextDedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.6)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((0L, 1L), (0L, 3L), (1L, 3L)))
  }

  test("minhashLshPairs agrees with exact jaccard at threshold 0.8") {
    val lsh = TextDedup.minhashLshPairs(docs, "doc_id", "text", 3, 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val exact = TextDedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(lsh === exact)
    assert(lsh.contains((0L, 3L)))
  }

  test("simhash: identical texts get identical signatures, hamming 0 pair found") {
    val sig = TextDedup.simhashSignatures(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(sig(0L) === sig(3L))
    val pairs = TextDedup.simhashPairs(docs, "doc_id", "text", maxHamming = 0)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 3L)))
  }

  test("dropNearDuplicates removes the higher id of each pair") {
    val pairs = TextDedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.6)
    val kept = TextDedup.dropNearDuplicates(docs, "doc_id", pairs)
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(0L, 2L, 4L))
  }

  private val vecs = Seq(
    (0L, Array(1f, 0f, 0f)),
    (1L, Array(0.9f, 0.1f, 0f)), // close to 0
    (2L, Array(0f, 1f, 0f)),
    (3L, Array(0f, 0.95f, 0.05f)), // close to 2
    (4L, Array(0f, 0f, 1f)))
    .toDF("vec_id", "embedding")

  test("bruteForcePairs finds the two near-parallel pairs") {
    val pairs = Similarity.bruteForcePairs(vecs, "vec_id", "embedding", 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((0L, 1L), (2L, 3L)))
  }

  test("bruteForceTopK ranks by cosine with self excluded") {
    val top1 = Similarity.bruteForceTopK(vecs, vecs.filter(col("vec_id") === 0), "vec_id", "embedding", 1)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toSeq
    assert(top1 === Seq((0L, 1L)))
  }

  test("ivfTopK with nprobe == nlist degrades to exact brute force") {
    val bf = Similarity.bruteForceTopK(vecs, vecs.limit(2), "vec_id", "embedding", 3)
      .select("q_id", "vec_id", "rank").as[(Long, Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(vecs, vecs.limit(2), "vec_id", "embedding", 3, nlist = 5, nprobe = 5)
      .select("q_id", "vec_id", "rank").as[(Long, Long, Long)].collect().toSet
    assert(ivf === bf)
  }

  test("capped ngram dedup still catches mass duplicates above the cap") {
    import spark.implicits._
    // 8 identical copies of one short text: its whole-text shingle has
    // df = 8 > cap = 3, but min-df retention must still pair them all
    val docs = ((1L to 8L).map(i => (i, "tiny boilerplate disclaimer")) ++
      Seq((100L, "something entirely different and unique here today"))).toDF("doc_id", "text")
    val pairs = TextDedup.ngramJaccardPairsCapped(docs, "doc_id", "text", 3, 0.9, maxShingleFreq = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == (for { a <- 1L to 8L; b <- a + 1 to 8L } yield (a, b)).toSet)
  }

  test("capped ngram dedup is a subset of the uncapped exact pairs (precision contract)") {
    import spark.implicits._
    // the corpus-independent half of the operator contract: exact
    // verification means capping can only DROP pairs, never invent or
    // mis-score one (x_dedup_ngram_capped's oracle additionally asserts
    // full recall, a property OF THAT corpus)
    val mixed = (docs.collect().map(r => (r.getLong(0), r.getString(1))) ++
      (10L to 14L).map(i => (i, "shared common phrase padding " + ("x" * i.toInt)))).toSeq
      .toDF("doc_id", "text")
    val exact = TextDedup.ngramJaccardPairs(mixed, "doc_id", "text", 3, 0.5)
      .as[(Long, Long, Double)].collect().toSet
    val capped = TextDedup.ngramJaccardPairsCapped(mixed, "doc_id", "text", 3, 0.5, maxShingleFreq = 2)
      .as[(Long, Long, Double)].collect().toSet
    assert(capped.subsetOf(exact), s"capped produced pairs outside the exact set: ${capped -- exact}")
  }

  test("connectedComponents works with string ids and verifies convergence at maxIter") {
    import spark.implicits._
    val nodes = Seq("a", "b", "c", "d").toDF("doc_id")
    val chain = Seq(("a", "b"), ("b", "c"), ("c", "d")).toDF("id_a", "id_b")
    // diameter 3 with maxIter = 3: the last allowed round completes the
    // fixpoint; the verification round must accept instead of throwing
    val comps = TextDedup.connectedComponents(nodes, "doc_id", chain, maxIter = 3)
      .as[(String, String)].collect().toMap
    assert(comps == Map("a" -> "a", "b" -> "a", "c" -> "a", "d" -> "a"))
    // genuinely insufficient rounds must still fail loudly
    intercept[IllegalStateException] {
      TextDedup.connectedComponents(nodes, "doc_id", chain, maxIter = 1).collect()
    }
  }

  test("connectedComponents: chains cluster transitively, singletons self-label") {
    import spark.implicits._
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("doc_id")
    // chain 1-2-3 (no direct 1-3 edge), pair 4-5, isolated 6
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val comps = TextDedup.connectedComponents(nodes, "doc_id", pairs)
      .as[(Long, Long)].collect().toMap
    assert(comps === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 6L -> 6L))
  }

  /** `connectedComponents` over `docs` (doc_id, grp), whose `pairs` link
    * each `grp`, labels every doc with the SQL `min(doc_id)` of its grp
    * (compared with SQL equality, so NaN and -0.0 compare as SQL does).
    * Partition coalescing is off, so the ids span several sort ranges.
    */
  private def assertSqlMinLabels(docs: DataFrame, pairs: DataFrame): Unit = {
    val coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    spark.conf.set(coalesce, "false")
    val got = try TextDedup.connectedComponents(docs, "doc_id", pairs)
      finally spark.conf.unset(coalesce)
    val want = docs.join(docs.groupBy("grp").agg(min("doc_id").as("component")), "grp")
      .select("doc_id", "component")
    val matched = got.as("g").join(want.as("w"),
      col("g.doc_id") <=> col("w.doc_id") && col("g.component") <=> col("w.component"))
    assert(got.count() == want.count() && matched.count() == want.count(),
      s"labels ${got.collect().mkString(" ")} differ from SQL min ${want.collect().mkString(" ")}")
  }

  test("connectedComponents labels double ids by SQL min and equality (NaN, -0.0)") {
    // NaN sorts above every number; the pair end 0.0 is the node -0.0
    val docs = Seq((Double.NaN, 1), (1.5, 1), (-0.0, 2), (2.0, 2), (5.0, 2), (-3.0, 3))
      .toDF("doc_id", "grp")
    val pairs = Seq((Double.NaN, 1.5), (-0.0, 2.0), (0.0, 5.0)).toDF("id_a", "id_b")
    assertSqlMinLabels(docs, pairs)
  }

  test("connectedComponents labels decimal and binary ids by SQL min") {
    val dec = Seq(("10.00", 1), ("2.25", 1), ("1.50", 1), ("3.00", 2)).toDF("s", "grp")
      .select(col("s").cast("decimal(10,2)").as("doc_id"), col("grp"))
    val decPairs = Seq(("10.00", "2.25"), ("2.25", "1.50")).toDF("a", "b")
      .select(col("a").cast("decimal(10,2)").as("id_a"), col("b").cast("decimal(10,2)").as("id_b"))
    assertSqlMinLabels(dec, decPairs)
    // unsigned byte order: 0x00 0x01 < 0x01 < 0x7F < 0xFF
    val (b00, b01, b7f, bff) =
      (Array[Byte](0, 1), Array[Byte](1), Array[Byte](0x7f), Array[Byte](-1))
    val bin = Seq((bff, 1), (b00, 1), (b7f, 2), (b01, 2)).toDF("doc_id", "grp")
    assertSqlMinLabels(bin, Seq((bff, b00), (b7f, b01)).toDF("id_a", "id_b"))
  }

  test("connectedComponents orders string ids by code point, as SQL min does") {
    // U+1F600 is a surrogate pair in UTF-16 (0xD83D…) and so sorts below
    // U+FF21 there; by code point (SQL, UTF-8 bytes) U+FF21 is smaller
    val docs = Seq(("\uD83D\uDE00", 1), ("\uFF21", 1), ("a", 2)).toDF("doc_id", "grp")
    val pairs = Seq(("\uD83D\uDE00", "\uFF21")).toDF("id_a", "id_b")
    val comps = TextDedup.connectedComponents(docs, "doc_id", pairs)
      .as[(String, String)].collect().toMap
    assert(comps == Map("\uD83D\uDE00" -> "\uFF21", "\uFF21" -> "\uFF21", "a" -> "a"))
    assertSqlMinLabels(docs, pairs)
  }

  test("connectedComponents keeps int ids as int, labelled as the long run") {
    val pairs = Seq((1, 2), (2, 3), (4, 5), (5, 9)).toDF("id_a", "id_b")
    val nodes = Seq(3, 1, 2, 4, 5, 6, 7).toDF("doc_id")
    val ints = TextDedup.connectedComponents(nodes, "doc_id", pairs)
    assert(ints.schema.map(_.dataType) == Seq(IntegerType, IntegerType))
    val longs = TextDedup.connectedComponents(
      nodes.select(col("doc_id").cast("long")), "doc_id", pairs)
    assert(ints.as[(Int, Int)].collect().map { case (a, b) => (a.toLong, b.toLong) }.toMap ==
      longs.as[(Long, Long)].collect().toMap)
    assert(longs.as[(Long, Long)].collect().toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 6L -> 6L, 7L -> 7L))
  }

  test("connectedComponents refuses a null id in the nodes or the pairs") {
    val nodes = Seq(Some(1L), Some(2L)).toDF("doc_id")
    val pairs = Seq((Some(1L), Some(2L))).toDF("id_a", "id_b")
    val nullNode = Seq(Some(1L), None).toDF("doc_id")
    val nullEnd = Seq((Some(1L), Option.empty[Long])).toDF("id_a", "id_b")
    for ((n, p) <- Seq((nullNode, pairs), (nodes, nullEnd),
        (nullNode.select(col("doc_id").cast("string")), pairs)))
      intercept[IllegalArgumentException] {
        TextDedup.connectedComponents(n, "doc_id", p).collect()
      }
  }

  test("connectedComponents leaves at most its result's RDD persisted") {
    val nodes = Seq(1L, 2L, 3L, 4L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    for (n <- Seq(nodes, nodes.select(col("doc_id").cast("string")))) {
      val before = spark.sparkContext.getPersistentRDDs.size
      TextDedup.connectedComponents(n, "doc_id", pairs).collect()
      assert(spark.sparkContext.getPersistentRDDs.size <= before + 1,
        s"persisted: ${spark.sparkContext.getPersistentRDDs.values.mkString(", ")}")
    }
  }

  test("curation pipeline: filters by lang/quality/repetition, keeps one doc per dup cluster") {
    import spark.implicits._
    import graft.operators.Curation
    val en = "the fox and the hound went to the market for a basket of fresh fruit today"
    val docs = Seq(
      (1L, en),                           // kept: representative of {1,2}
      (2L, en + " indeed"),               // near-dup of 1 -> dropped
      (3L, "la casa de la playa es de los padres y el mar de verano aqui"), // spanish -> dropped
      (4L, "the " * 30),                  // pure repetition -> dropped
      (5L, en + " but entirely different second half about sailing ships and harbors")
    ).toDF("doc_id", "text")
    val kept = Curation.curate(docs, "doc_id", "text",
        Curation.Thresholds(jaccard = 0.3))
      .select("doc_id").as[Long].collect().toSet
    assert(kept.contains(1L) && !kept.contains(2L), "near-dup cluster should keep min id")
    assert(!kept.contains(3L), "non-English should be filtered")
    assert(!kept.contains(4L), "repetitive doc should be filtered")
  }

  test("multimodal: deterministic stub features, video frame sampling, binary transport") {
    val media = Multimodal.mediaFromDocuments(
      docs.withColumn("n_chars", length(col("text"))))
    val feats = Multimodal.extractFeatures(media, frameStride = 16)
    val rows = feats.collect()
    assert(rows.length === 5)
    assert(rows.forall(_.feature.length === Multimodal.FeatureDim))
    val byId = rows.map(r => r.media_id -> r).toMap
    // identical payloads → identical features (doc 0 and 3 share text)
    assert(byId(0L).feature.toSeq === byId(3L).feature.toSeq)
    val video = rows.filter(_.kind == "video")
    assert(video.forall(v => v.n_frames === ((v.n_bytes + 15) / 16).toInt))
    assert(rows.filter(_.kind != "video").forall(_.n_frames === 1))
  }
}
