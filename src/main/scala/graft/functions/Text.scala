package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for the training-data pipeline extensions
  * (BASELINE.json north star; no reference-notebook counterpart — the
  * reference has zero string functions beyond trim/case, SURVEY.md §2.8).
  *
  * Everything here is built from codegen'd Spark built-ins and — by
  * design — is reproducible in ANSI-ish SQL, so every operator can be
  * oracle-checked against DuckDB. In particular the hash is a portable
  * polynomial rolling hash (base 31, mod 1e9+7) rather than Spark's
  * murmur3, because the oracle must compute identical values.
  */
object Text {

  /** Modulus for all portable hashes. Small enough that `acc*31 + ch`
    * stays far below 2^63 (< 2^36), so the same arithmetic is exact in
    * any engine with 64-bit integers.
    */
  val HashMod: Long = 1000000007L
  val HashBase: Long = 31L

  /** Whitespace tokenization; trim first so leading/trailing space can't
    * produce empty tokens.
    */
  def tokens(c: Column): Column = split(trim(c), "\\s+")

  /** Whitespace token count. */
  def tokenCount(c: Column): Column = size(tokens(c))

  /** BPE-ish subword token count: runs of letters, runs of digits, or a
    * single other non-space char each count as one token — the classic
    * pre-tokenizer split, as a cheap proxy for LLM token budgeting.
    */
  def subwordCount(c: Column): Column =
    size(regexp_extract_all(lower(c), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))

  /** Portable polynomial rolling hash of a string:
    * `h = fold(chars, 0, (acc, ch) -> (acc*31 + ascii(ch)) % 1e9+7)`.
    * Used as the document fingerprint and as the shingle hash feeding
    * MinHash/SimHash. Evaluated by the fused codegen expression
    * graft.plans.PolyHash (one pass over the string, no per-character
    * array); `polyHashReference` keeps the built-in-composition form the
    * spec checks it against.
    */
  def polyHash(c: Column): Column = graft.plans.expressions.polyHash(c)

  /** Second independent hash family (different base) — combined with
    * `polyHash` it yields 60 portable bits (each hash < 2^30), used by
    * the 60-bit SimHash signatures.
    */
  val HashBase2: Long = 131L
  def polyHash2(c: Column): Column = graft.plans.expressions.polyHash(c, HashBase2)

  /** The pre-fusion Column-composition form of `polyHash`; retained as
    * the oracle for graft.plans.PolyHash's equality spec.
    */
  private[graft] def polyHashReference(c: Column): Column =
    aggregate(
      transform(split(c, ""), ch => ascii(ch).cast("long")),
      lit(0L),
      (acc, x) => (acc * lit(HashBase) + x) % lit(HashMod))

  /** Word k-gram shingles, space-joined, distinct.
    * `shingles("a b c d", 3) = ["a b c", "b c d"]`. Documents shorter than
    * k words yield a single shingle of the whole text so they still
    * participate in dedup. Evaluated by graft.plans.WordShingles (one
    * JVM pass per doc; the slice/concat lambda form below is kept as the
    * equality-spec reference).
    */
  def shingles(c: Column, k: Int): Column = graft.plans.expressions.wordShingles(c, k)

  /** Pre-fusion form of `shingles` (equality-spec oracle). */
  private[graft] def shinglesReference(c: Column, k: Int): Column = {
    val toks = tokens(c)
    val n = size(toks)
    val full = transform(
      sequence(lit(1), n - lit(k - 1)),
      i => concat_ws(" ", slice(toks, i, lit(k))))
    array_distinct(when(n >= k, full).otherwise(array(concat_ws(" ", toks))))
  }

  /** Hashed distinct shingles — the MinHash/Jaccard input set. */
  def shingleHashes(c: Column, k: Int): Column =
    array_distinct(transform(shingles(c, k), s => polyHashExpr(s)))

  /** polyHash over an arbitrary (lambda-bound) string expression. */
  private def polyHashExpr(s: Column): Column = graft.plans.expressions.polyHash(s)

  /** MinHash signature: for hash family i in [0, n), n ≤ 1024,
    * `sig_i = min over shingle hashes h of (a_i*h + b_i) mod 1e9+7`
    * with `a_i`, `b_i` from the fixed table `graft.plans.MinHashSig.A`/`B`
    * (exact in 64-bit: a_i*h < 2^60). Returns `array<bigint>` of length n. Evaluated by
    * graft.plans.MinHashSig — all n minima in one traversal of the
    * shingle-hash array (the round-1 form ran n separate
    * `array_min(transform(...))` passes and dominated the bench).
    */
  def minhashSignature(shingleHashes: Column, n: Int): Column =
    graft.plans.expressions.minhashSig(shingleHashes, n)

  /** Pre-fusion form of `minhashSignature` (equality-spec oracle). */
  private[graft] def minhashSignatureReference(shingleHashes: Column, n: Int): Column =
    array((0 until n).map { i =>
      val (a, b) = (graft.plans.MinHashSig.A(i), graft.plans.MinHashSig.B(i))
      array_min(transform(shingleHashes, h => (lit(a) * h + lit(b)) % lit(HashMod)))
    }: _*)

  /** Exact Jaccard similarity of two pre-distinct arrays; integer set
    * sizes divided as doubles — bit-identical across engines. The
    * intersection size comes from the fused graft.plans.IntersectSize
    * (no intersect/union array materialization), and for distinct
    * arrays |A∪B| = |A| + |B| − |A∩B| exactly, so the value is
    * unchanged from the size(array_intersect)/size(array_union) form
    * (PlansSpec asserts the equality).
    */
  def jaccard(a: Column, b: Column): Column = {
    val c = graft.plans.expressions.intersectSize(a, b)
    c.cast("double") / (size(a) + size(b) - c).cast("double")
  }

  /** Pre-fusion form of `jaccard` (equality-spec oracle). */
  private[graft] def jaccardReference(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      size(array_union(a, b)).cast("double")

  // ---- language ID ---------------------------------------------------

  /** Tiny per-language marker-word lists (top function words). Public
    * knowledge; deliberately short so the oracle SQL stays readable.
    * Order = deterministic tie-break precedence.
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "that", "it", "for"),
    "es" -> Seq("de", "la", "que", "el", "en", "y", "los", "del", "se", "las"),
    "fr" -> Seq("le", "de", "et", "la", "les", "des", "un", "une", "du", "est"),
    "de" -> Seq("der", "die", "und", "den", "von", "zu", "das", "mit", "sich", "des"),
    "zh" -> Seq("的", "了", "在", "是", "我", "有", "和", "就", "不", "人"))

  /** N-gram-heuristic language ID: score = |tokens ∩ markers(lang)|,
    * argmax with first-listed-language precedence on ties ("und" when all
    * scores are 0 — i.e. undetermined).
    */
  def langId(c: Column): Column = {
    val toks = array_distinct(tokens(lower(c)))
    val scores = LangMarkers.map { case (lang, words) =>
      lang -> size(array_intersect(toks, array(words.map(lit): _*)))
    }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und")) { case ((lang, s), els) =>
      when(s === best && s > 0, lit(lang)).otherwise(els)
    }
  }

  // ---- quality scoring -------------------------------------------------

  val Stopwords: Seq[String] = LangMarkers.head._2

  /** Heuristic document quality in [0,1]:
    * 0.4·min(1, tokens/20) + 0.4·(distinct tokens/tokens) + 0.2·(1 − punct
    * chars/chars). Pure integer counts + double division ⇒ deterministic
    * and oracle-reproducible.
    */
  def qualityScore(c: Column): Column = {
    val toks = tokens(c)
    val nTok = size(toks).cast("double")
    val uniqRatio = size(array_distinct(toks)).cast("double") / nTok
    // punct COUNT via strip-and-length-diff: one regex pass and no
    // per-match string array (regexp_extract_all materialized a
    // one-char string per punct char just to take its size) — the
    // integer count, and therefore the score, is unchanged
    val punct =
      (length(c) - length(regexp_replace(c, "[^a-zA-Z0-9\\s]", ""))).cast("double")
    val punctRatio = punct / length(c).cast("double")
    lit(0.4) * least(lit(1.0), nTok / lit(20.0)) +
      lit(0.4) * uniqRatio +
      lit(0.2) * (lit(1.0) - punctRatio)
  }
}
