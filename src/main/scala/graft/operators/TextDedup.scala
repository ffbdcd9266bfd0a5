package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

import graft.functions.Text

/** Document deduplication operators for the training-data pipeline
  * extensions (BASELINE.json north star): exact, n-gram Jaccard
  * (inverted index), MinHash+LSH, and SimHash.
  *
  * Scale design: nothing here is O(n²) on the corpus.
  *   - exact dedup: one hash-partition shuffle on the text (fingerprint).
  *   - n-gram Jaccard / MinHash LSH: candidate pairs come from an
  *     inverted-index self-join on shingles / band keys, so cost follows
  *     the number of *colliding* pairs, not n². Exact verification runs
  *     only on candidates.
  *   - SimHash: pairs via (maxHamming+1)-chunk blocking over a 60-bit
  *     signature (pigeonhole: hamming ≤ m over m+1 chunks ⇒ at least one
  *     chunk equal — full recall), again an equi-join.
  * The O(n²) form exists only in the DuckDB oracle SQL.
  *
  * Frequent-shingle skew: a shingle shared by k docs produces k² join
  * rows. `maxShingleFreq` routes to `ngramJaccardPairsCapped`: candidate
  * generation keeps only shingles under the document-frequency cap PLUS
  * each document's minimum-frequency shingles (so exact duplicates are
  * always paired however large their cluster), and candidates are
  * verified against the full uncapped shingle sets. Both the capped and
  * uncapped formulations are oracle-checked (x_dedup_ngram_capped /
  * x_dedup_ngram).
  */
object TextDedup {

  /** Spread a frame for CPU-DENSE map work (shingling, per-token
    * hashing, signature aggregation — ~10³ the per-byte cost of a plain
    * scan): when the upstream scan or checkpoint yields fewer partitions
    * than the session's task slots (the tiny-file / single-row-group
    * case — a 580 KB parquet is ONE split however many cores the host
    * has), the whole map stage runs on one core while the rest idle,
    * and no AQE conf can help because the bottleneck is the scan stage,
    * not a shuffle read (guide §2.5 "input skew: … repartition
    * immediately after the read"). Scale-adaptive by construction: at
    * corpus scale the scan already carries ≥ slots partitions and this
    * is a no-op; below that the round-robin repartition shuffles only
    * the small input once, before the expensive expressions run.
    */
  private[graft] def spread(df: DataFrame): DataFrame = {
    val slots = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < slots) df.repartition(slots) else df
  }

  /** Repeated-SUBSTRING detection (the exact-substring dedup of Lee et
    * al. 2022, "Deduplicating Training Data Makes Language Models
    * Better" — arXiv:2107.06499 — at character-window granularity):
    * slides a `window`-char window with `stride` over every document
    * and reports each window content that occurs in ≥ 2 DISTINCT
    * documents, with its document and occurrence counts. Whole-doc
    * dedup misses these — boilerplate headers, license blocks, quoted
    * passages repeat across otherwise-distinct documents — and they
    * are exactly what substring dedup removes from training corpora.
    *
    * Shape at scale: `sequence` + `explode` + `substring` are all
    * codegen'd built-ins; the one shuffle hash-partitions on the
    * window content, so cost follows corpus_chars / stride — linear,
    * never all-pairs. Removal composes downstream: join a document's
    * positions against the repeated-window set and cut the covered
    * spans (the reporting form is the oracle-checked operator).
    */
  def repeatedSubstrings(
      docs: DataFrame, idCol: String, textCol: String,
      window: Int = 64, stride: Int = 8): DataFrame =
    docs
      .filter(length(col(textCol)) >= window)
      .select(
        col(idCol).as("id"),
        explode(sequence(
          lit(1), length(col(textCol)) - (window - 1), lit(stride))).as("pos"),
        col(textCol))
      .select(col("id"), col(textCol).substr(col("pos"), lit(window)).as("win"))
      .groupBy("win")
      .agg(
        count_distinct(col("id")).as("n_docs"),
        count(lit(1)).as("n_occ"))
      .filter(col("n_docs") >= 2)

  /** The ACTIONABLE half of exact-substring dedup: removes from every
    * document the character spans covered by cross-document repeated
    * windows ([[repeatedSubstrings]]' qualifying set), returning
    * `(id, text_clean, n_cut)` — Lee et al. cut repeated spans from
    * training text rather than dropping whole documents, and this is
    * that cut at the same window/stride lattice.
    *
    * Plan shape: windows → qualifying-window semi-join → per-doc
    * INTERVAL MERGE (the gaps-and-islands window trick — one sort per
    * doc partition) → gap reassembly with `transform`/`substr` over the
    * merged-interval array. No per-character explosion: cost rides the
    * window lattice (corpus_chars / stride) plus one window function
    * over covered positions, and reassembly is array arithmetic per
    * doc. Documents with nothing covered pass through verbatim.
    */
  def cutRepeatedSpans(
      docs: DataFrame, idCol: String, textCol: String,
      window: Int = 64, stride: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wins = repeatedSubstrings(docs, idCol, textCol, window, stride)
      .select(col("win"))
    // the island key rides under a reserved internal name so the final
    // join stays unambiguous even when the caller's idCol is "id"
    val positions = docs
      .filter(length(col(textCol)) >= window)
      .select(
        col(idCol).as("__island_id"),
        explode(sequence(
          lit(1), length(col(textCol)) - (window - 1), lit(stride))).as("pos"),
        col(textCol).as("__text"))
      .withColumn("win", col("__text").substr(col("pos"), lit(window)))
      .join(wins, Seq("win"))
      .select(col("__island_id"),
        col("pos").as("s"), (col("pos") + (window - 1)).as("e"))
    val byStart = Window.partitionBy("__island_id").orderBy("s", "e")
    val islands = positions
      .withColumn("maxe", max(col("e")).over(
        byStart.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("ni",
        when(col("maxe").isNull || col("s") > col("maxe"), 1L).otherwise(0L))
      .withColumn("island", sum(col("ni")).over(
        byStart.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("__island_id", "island")
      .agg(min(col("s")).as("s"), max(col("e")).as("e"))
      .groupBy("__island_id")
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("iv"))
    val t = col(textCol)
    // kept text = the gaps before each island + the tail after the last
    val gaps = concat_ws("",
      transform(col("iv"), (ivK, i) => {
        val prevE = when(i === 0, lit(0L))
          .otherwise(element_at(col("iv"), i).getField("e"))
        t.substr((prevE + 1).cast("int"),
          greatest(ivK.getField("s") - prevE - 1, lit(0L)).cast("int"))
      }))
    val tail = t.substr(
      (element_at(col("iv"), size(col("iv"))).getField("e") + 1).cast("int"),
      length(t))
    docs.join(islands, docs(idCol) === islands("__island_id"), "left")
      .select(
        docs(idCol),
        when(col("iv").isNull, t).otherwise(concat(gaps, tail)).as("text_clean"),
        when(col("iv").isNull, lit(0L))
          .otherwise(length(t) - length(concat(gaps, tail)))
          .cast("long").as("n_cut"))
  }

  /** Exact dedup: one row per distinct text with the minimal id as the
    * canonical keeper and the duplicate count.
    */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(col(textCol))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"))

  /** (id, shingle-set) projection shared by the Jaccard-based operators.
    * `spreadInput` spreads the docs BEFORE shingling so the shingle
    * expression runs at full task-slot parallelism even when the doc
    * scan is a single split. Measured per consumer (r17): a WIN for the
    * uncapped inverted index and MinHash (their cost is the per-side
    * shingling + join map work), a LOSS for the df-capped pipeline
    * (multi-partition input inflates the df-count partial-aggregate
    * output ~7× — each shingle's count arrives once per partition — and
    * the hot stages there are post-shuffle, which spreading cannot
    * help), so the capped caller opts out.
    */
  private def shingled(docs: DataFrame, idCol: String, textCol: String, k: Int,
      spreadInput: Boolean = true): DataFrame = {
    val base = if (spreadInput) spread(docs) else docs
    base.select(col(idCol).as("id"), Text.shingles(col(textCol), k).as("sh"))
      .withColumn("sz", size(col("sh")))
  }

  /** Exact n-gram Jaccard near-dup pairs via inverted-index self-join:
    * explode distinct shingles, equi-join on the shingle, count shared
    * shingles per pair, `J = c / (|A| + |B| - c)`. Emits (id_a, id_b,
    * jaccard) for J ≥ threshold, id_a < id_b.
    *
    * With `maxShingleFreq` set, delegates to `ngramJaccardPairsCapped`:
    * capping must apply only to CANDIDATE GENERATION (with an exact
    * full-set verify) — capping the shared-shingle count itself would
    * underestimate J and silently drop qualifying pairs.
    */
  def ngramJaccardPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      threshold: Double,
      maxShingleFreq: Int = Int.MaxValue): DataFrame = {
    if (maxShingleFreq != Int.MaxValue)
      return ngramJaccardPairsCapped(docs, idCol, textCol, k, threshold, maxShingleFreq)
    val s = shingled(docs, idCol, textCol, k)
    // NOT checkpointed despite the self-join below reading this subtree
    // twice: materializing the EXPLODED index (rows ≈ corpus shingles,
    // deserialized strings) measured strictly slower than recomputing
    // the projection per side — cache pressure beat the saved explode
    // (r16 optimization round; the per-doc minhash/simhash signature
    // checkpoints in this file are the cases where caching wins)
    val ex = s.select(col("id"), col("sz"), explode(col("sh")).as("s"))
    val a = ex.select(col("id").as("id_a"), col("sz").as("sz_a"), col("s"))
    val b = ex.select(col("id").as("id_b"), col("sz").as("sz_b"), col("s"))
    a.join(b, Seq("s")).filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b", "sz_a", "sz_b")
      .agg(count(lit(1)).as("c"))
      .withColumn("jaccard", col("c") / (col("sz_a") + col("sz_b") - col("c")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** MinHash + LSH near-dup pairs: signature of `numHashes` permutations
    * over shingle hashes, banded into `bands` groups of `numHashes/bands`
    * rows; docs colliding on any band become candidates; candidates are
    * verified with the exact Jaccard on the shingle sets. With r=4, b=32
    * the probability of missing a pair at J ≥ 0.8 is (1−J⁴)³² < 5e-8, so
    * the verified output equals the exact O(n²) answer (the oracle) with
    * overwhelming probability while scaling like LSH.
    */
  def minhashLshPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      threshold: Double,
      numHashes: Int = 128,
      bands: Int = 32): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    // materialize signatures once: `banded` below is self-joined, and
    // without a checkpoint each join side re-runs the whole shingle +
    // `numHashes`-permutation MinHash computation — the most expensive
    // map work in this operator — and the verification stage would
    // re-shingle a third and fourth time
    val s = shingled(docs, idCol, textCol, k)
      .withColumn("hs", array_distinct(transform(col("sh"), h => Text.polyHash(h))))
      .withColumn("sig", Text.minhashSignature(col("hs"), numHashes))
      .localCheckpoint()

    // (id, band_idx, band_key): band key = the band's r signature values.
    val banded = s.select(
      col("id"),
      posexplode(transform(
        sequence(lit(0), lit(bands - 1)),
        i => concat_ws(":", slice(col("sig"), i * r + 1, lit(r))))))
      .toDF("id", "band", "key")

    val candA = banded.select(col("id").as("id_a"), col("band"), col("key"))
    val candB = banded.select(col("id").as("id_b"), col("band"), col("key"))
    val cands = candA.join(candB, Seq("band", "key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()

    // Exact verification on the candidate pairs only.
    verifyJaccard(cands, s.select(col("id"), col("sh")), threshold)
  }

  /** Exact-Jaccard verification of candidate pairs against the full
    * shingle sets — shared by the LSH and capped candidate generators.
    */
  private def verifyJaccard(
      cands: DataFrame, sets: DataFrame, threshold: Double): DataFrame =
    cands
      .join(sets.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("jaccard", Text.jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")

  /** The 100 TB formulation of n-gram Jaccard dedup: candidate pairs
    * come from shingles shared by ≤ `maxShingleFreq` documents
    * (stop-shingles like common phrases are excluded from candidate
    * generation — they are what makes the inverted-index self-join
    * quadratic on natural text) PLUS each document's minimum-frequency
    * shingles regardless of the cap, then candidates are verified with
    * the EXACT Jaccard over the full, uncapped shingle sets.
    *
    * Recall: exact duplicates are ALWAYS found — identical docs share
    * the same minimum-frequency shingle, which stays in candidate
    * generation however large the duplicate cluster gets (the k²
    * candidates that produces are exactly the k² output pairs the
    * cluster requires — output-bound, not waste). A near-dup pair all
    * of whose shared shingles are frequent AND whose min-df shingles
    * differ can still be missed; overlap at J ≥ threshold is dominated
    * by shared content, so this needs the pair's distinctive shingles
    * to be independently corpus-frequent. Verification keeps precision
    * exact regardless.
    */
  def ngramJaccardPairsCapped(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      threshold: Double,
      maxShingleFreq: Int): DataFrame = {
    // shingling feeds candidate generation (2×) and verification (2×):
    // materialize once (spreadInput=false: see shingled — the capped
    // pipeline's cost is post-shuffle and multi-partition input only
    // inflates the df-count partial aggregates, measured +40%)
    val s = shingled(docs, idCol, textCol, k, spreadInput = false).localCheckpoint()
    val ex = s.select(col("id"), col("sz"), explode(col("sh")).as("s"))
    val dfCounts = ex.groupBy(col("s")).agg(count(lit(1)).as("__df"))
    val exDf = ex.join(dfCounts, Seq("s"))
    // per-doc min df as a window over the id partitioning — one shuffle,
    // where a groupBy(id)+self-join would shuffle the exploded set twice
    val kept = exDf
      .withColumn("__mindf",
        min(col("__df")).over(org.apache.spark.sql.expressions.Window.partitionBy("id")))
      .filter(col("__df") <= maxShingleFreq || col("__df") === col("__mindf"))
      .select("id", "sz", "s")
    // NOT checkpointed despite the self-join reading `kept` twice: the
    // capped index is still EXPLODED rows, and materializing it measured
    // 4-6× slower under bench memory pressure than recomputing the
    // df-count + min-df window per side (r16 optimization round) —
    // recompute-vs-cache goes to recompute for exploded intermediates.
    // Two restructures of this candidate stage were measured and
    // REVERTED in r17 (both oracle-green but slower at sf0.1/32 cores):
    // (a) one-pass per-doc kept-set aggregate (collect_list+min instead
    // of the per-side window) + self-join of the checkpointed sets —
    // 7.9 → 9.5 s: the kept-set checkpoint materialization plus the
    // SMJ the stats-less checkpoint leaves forced cost more than the
    // saved duplicate window; (b) the same one-pass kept-set feeding
    // per-shingle COMBINATION generation (groupBy(s) + sorted-array
    // nested transform, no self-join) — 7.9 → 9.7 s: candidate
    // generation itself got 2.5× faster but the distinct+verify stages
    // lost the fusion with the probe side and re-read the candidate
    // shuffle twice under AQE. The window+self-join form keeps
    // candidate gen, distinct and verify in two fused codegen spans,
    // which beats both "cleaner" shapes.
    // Size prefilter via the BEST-CASE Jaccard — min(|A|,|B|) shared
    // shingles — computed with the very FP operations and `>=` the
    // verifier uses. Provably lossless against the verifier: J(c) =
    // c/(|A|+|B|−c) is increasing in c and FP rounding is monotone, so
    // fl(J(c)) ≤ fl(J(min)) for every real c — any pair the verifier
    // would keep passes this test. (The naive `t·|A| ≤ |B|` form is NOT
    // lossless: fl(100·0.55) = 55.000…01 > 55 drops an exactly-at-
    // threshold pair.) Prunes before the distinct shuffle and the
    // exact-verify stage.
    val cands = kept.select(col("id").as("id_a"), col("sz").as("sz_a"), col("s"))
      .join(kept.select(col("id").as("id_b"), col("sz").as("sz_b"), col("s")), Seq("s"))
      .filter(col("id_a") < col("id_b") &&
        least(col("sz_a"), col("sz_b")).cast("double") /
          (col("sz_a") + col("sz_b") - least(col("sz_a"), col("sz_b"))).cast("double")
          >= threshold)
      .select("id_a", "id_b").distinct()
    verifyJaccard(cands, s.select(col("id"), col("sh")), threshold)
  }

  /** Signature width: two independent 30-bit portable polyhashes (bases
    * 31 and 131) concatenated — 60 usable bits, wide enough that random
    * doc pairs land ~30 bits apart and chunk blocking gets real buckets.
    */
  val SimhashBits = 60

  /** Per-document 60-bit SimHash over distinct whitespace tokens.
    * Token hash = polyHash(tk) | polyHash2(tk) << 30 (each < 2^30).
    * Bit j of the signature is set iff
    * Σ_tokens (bit_j(hash(token)) ? +1 : −1) > 0.
    * One explode + one hash-aggregate (map-side combinable); fully
    * distributed, no windows.
    */
  def simhashSignatures(docs: DataFrame, idCol: String, textCol: String,
      bits: Int = SimhashBits): DataFrame = {
    require(bits <= SimhashBits, s"at most $SimhashBits portable bits available, got $bits")
    val tok = docs.select(
      col(idCol).as("id"),
      explode(array_distinct(Text.tokens(col(textCol)))).as("tk"))
      .withColumn("hv",
        Text.polyHash(col("tk")) + Text.polyHash2(col("tk")) * lit(1L << 30))
    // NB: bit extraction must be integral — `col / lit` is DOUBLE
    // division in Spark and silently loses bits above 2^53.
    val sums = (0 until bits).map { j =>
      val bit = col("hv").bitwiseAND(lit(1L << j))
      sum(when(bit =!= 0, 1).otherwise(-1)).as(s"b$j")
    }
    val combined = (0 until bits)
      .map(j => when(col(s"b$j") > 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)
    tok.groupBy(col("id"))
      .agg(sums.head, sums.tail: _*)
      .withColumn("simhash", combined.cast("long"))
      .select(col("id").as("doc_id"), col("simhash"))
  }

  /** SimHash near-dup pairs with hamming distance ≤ maxHamming.
    * Blocking splits the 60-bit signature into `maxHamming + 1` equal
    * chunks — by pigeonhole, any pair within the hamming budget agrees
    * exactly on at least one chunk, so candidate generation is a pure
    * equi-join on (chunk index, chunk value) with full recall. With the
    * default maxHamming = 2 the chunk key is 20 bits (~1M buckets);
    * maxHamming = 3 gives 15-bit chunks (32k buckets). maxHamming ≤ 4 is
    * enforced: beyond that the chunks get too narrow to block usefully
    * (12-bit chunks = 4k buckets) and candidate sets degrade toward n².
    */
  def simhashPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 2): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 4,
      s"chunk blocking supports maxHamming in [0, 4], got $maxHamming")
    val nChunks = maxHamming + 1
    require(SimhashBits % nChunks == 0, s"$nChunks chunks must divide $SimhashBits bits")
    val chunkBits = SimhashBits / nChunks
    // materialize signatures once: the chunk frame is self-joined below,
    // and each side would otherwise re-run the 60-bit signature
    // aggregation (token explode + 60 window sums) from scratch
    val sig = simhashSignatures(docs, idCol, textCol).localCheckpoint()
    val chunks = sig.select(col("doc_id"), col("simhash"),
      explode(array((0 until nChunks).map { i =>
        struct(lit(i).as("chunk"),
          shiftright(col("simhash"), chunkBits * i)
            .bitwiseAND(lit((1L << chunkBits) - 1)).as("ckey"))
      }: _*)).as("c"))
      .select(col("doc_id"), col("simhash"), col("c.chunk").as("chunk"), col("c.ckey").as("ckey"))
    val a = chunks.select(col("doc_id").as("id_a"), col("simhash").as("sig_a"), col("chunk"), col("ckey"))
    val b = chunks.select(col("doc_id").as("id_b"), col("simhash").as("sig_b"), col("chunk"), col("ckey"))
    a.join(b, Seq("chunk", "ckey"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "sig_a", "sig_b").distinct()
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
  }

  /** Greedy near-duplicate removal: drops the higher-id document of every
    * near-dup pair (deterministic; not connected-components — a chain
    * a~b~c keeps only a). For transitive clusters use
    * `connectedComponents` + keep one doc per component.
    */
  def dropNearDuplicates(
      docs: DataFrame,
      idCol: String,
      pairs: DataFrame): DataFrame =
    docs.join(pairs.select(col("id_b").as(idCol)).distinct(), Seq(idCol), "left_anti")

  /** Connected components over a near-dup pair graph: every document
    * gets the MINIMUM doc id reachable through pairs as its component
    * label (singletons label themselves) — the transitive-closure
    * upgrade of `dropNearDuplicates` (a~b~c clusters as one component;
    * keep `min(id)` per component to dedup).
    *
    * Implementation: iterative min-label propagation on the [[IdGraph]]
    * kernel's `Long` keys — per round one narrow join (labels ⋈ edges)
    * and one map-side-combined min `reduceByKey`, the round's only
    * shuffle, until a fixpoint (bounded by `maxIter`). Edges and labels
    * share ONE retained HashPartitioner (a DataFrame loop re-shuffled the
    * loop-invariant edge side every round — AQE reports
    * UnknownPartitioning through checkpoint leaves, r16 negative result).
    * Rounds needed = graph diameter; near-dup clusters are shallow
    * (diameter a handful), so this converges in a few shuffles at any
    * scale. (Pathologically long chains would want the large-star/
    * small-star O(log n) variant; same per-round plan shape.) The
    * fixpoint is unique, so the output is deterministic regardless of
    * execution order — the DuckDB oracle replays it as a recursive
    * reachability CTE.
    *
    * Ids keep their type and follow SQL order and equality: integral ids
    * (long, int, short, byte) are the kernel's keys themselves, and any
    * other id type (string, double, decimal, binary, …) is keyed through
    * a sorted dictionary, so the smallest key is the SQL `min` (strings
    * by code point, NaN above every number, `-0.0` = `0.0`). A null id
    * raises `IllegalArgumentException`. A pair end outside `docs` passes
    * no label.
    */
  def connectedComponents(
      docs: DataFrame,
      idCol: String,
      pairs: DataFrame,
      maxIter: Int = 25): DataFrame =
    IdGraph.run(docs.select(col(idCol)), pairs, idCol, "component", valueIsId = true) { g =>
      // one propagation round; returns (labels', changed-count). The
      // count is the round's one action; it also materializes labels'.
      def propagate(ls: RDD[(Long, Long)]): (RDD[(Long, Long)], Long) = {
        val neighborMin = g.edges.join(ls).values.reduceByKey(g.part, math.min(_, _))
        val next = g.persist(ls.leftOuterJoin(neighborMin)
          .mapValues { case (c, n) => n.fold(c)(math.min(c, _)) })
        (next, next.join(ls).filter { case (_, (a, b)) => a != b }.count())
      }

      var labels = g.vertices
      var changed = 1L
      var iter = 0
      while (changed > 0 && iter < maxIter) {
        val (next, c) = propagate(labels)
        labels.unpersist(blocking = false)
        labels = next
        changed = c
        iter += 1
      }
      if (changed > 0) {
        // the final allowed round still changed labels — it may have been
        // exactly the round that reached the fixpoint. One verification
        // round decides; an under-merged result is silent data corruption
        // for dedup, so genuine non-convergence fails loudly (raise
        // maxIter, or port to the O(log n) large-star/small-star variant).
        val (next, c) = propagate(labels)
        if (c > 0)
          throw new IllegalStateException(
            s"connectedComponents did not converge in $maxIter rounds " +
              s"($c labels still changing) — component diameter exceeds maxIter")
        labels = next
      }
      labels
    }
}
