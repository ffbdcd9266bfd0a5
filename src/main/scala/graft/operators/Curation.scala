package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

import graft.functions.Text

/** The canonical training-data curation pipeline, composed from the
  * engine's verified pieces: language filter → quality floor →
  * repetition ceiling → transitive near-duplicate removal (connected
  * components over ngram-Jaccard pairs, keep the minimum doc id per
  * cluster). One call takes a raw document table to a curated corpus.
  *
  * Every stage is deterministic and SQL-expressible, so the WHOLE
  * pipeline is oracle-checkable end to end — filters, clustering, and
  * representative selection in one hash-compared result.
  */
object Curation {

  final case class Thresholds(
      lang: String = "en",
      minQuality: Double = 0.5,
      maxRepetition: Double = 0.2,
      jaccard: Double = 0.6,
      shingleK: Int = 3,
      // Document-frequency cap for near-dup CANDIDATE generation
      // (TextDedup.ngramJaccardPairsCapped): a shingle shared by k docs
      // contributes k² join rows, so uncapped candidate generation goes
      // quadratic on common phrases at natural-text scale. Verification
      // stays exact over the full shingle sets; each doc's min-df
      // shingles bypass the cap so exact duplicates always pair.
      maxShingleFreq: Int = 50)

  /** Curated corpus: kept documents with their curation signals.
    * Output columns: (idCol, lang_pred, score, repetition).
    */
  def curate(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      th: Thresholds = Thresholds()): DataFrame =
    curateWith(docs, idCol, textCol, th,
      kept => TextDedup.ngramJaccardPairsCapped(
        kept, idCol, textCol, th.shingleK, th.jaccard, th.maxShingleFreq))

  /** [[curate]] with a pluggable near-dup candidate strategy: `pairGen`
    * maps the kept (id, text) docs to their near-dup pair set — swap in
    * `TextDedup.minhashLshPairs` when exact-Jaccard candidate recall is
    * negotiable and the corpus is at the scale where even the df-capped
    * inverted index is the dominant stage (LSH cost follows band
    * collisions, the sharpest candidate bound available at 100 TB).
    */
  def curateWith(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      th: Thresholds,
      pairGen: DataFrame => DataFrame): DataFrame = {
    // spread BEFORE the scoring expressions: lang-id + quality +
    // repetition are the pipeline's heaviest per-byte map work, and a
    // single-split doc scan would run them all on one core (see
    // TextDedup.spread — a no-op at corpus scale).
    // When spreading actually repartitioned, checkpoint the SPREAD DOCS
    // as a pushdown barrier: the threshold filter above would otherwise
    // be predicate-pushed below the exchange, and since its condition
    // references the scoring expressions, Catalyst duplicates ALL of
    // them into the pre-spread single-task map side (measured: a 2.8 s
    // one-task stage scoring every doc a second time). Checkpointing
    // the SCORED frame instead (pre-filter) also works but materializes
    // every doc's text + scores — measured 10.1 → 18.3 s at sf1, where
    // the extra full-corpus materialization outgrows the scoring win.
    val base = {
      val sp = TextDedup.spread(docs)
      if (sp eq docs) docs else sp.localCheckpoint()
    }
    val scored = base.select(
      col(idCol),
      col(textCol),
      Text.langId(col(textCol)).as("lang_pred"),
      Text.qualityScore(col(textCol)).as("score"),
      TextStats.repetitionScore(col(textCol)).as("repetition"))
    // materialize once: kept feeds pair generation, component nodes, and
    // the final representative join — without this the lang/quality/
    // repetition scoring re-runs for every consumer
    val kept = scored.filter(
      col("lang_pred") === th.lang &&
        col("score") >= th.minQuality &&
        col("repetition") <= th.maxRepetition)
      .localCheckpoint()

    val pairs = pairGen(kept.select(col(idCol), col(textCol)))
    val comps = TextDedup.connectedComponents(kept, idCol, pairs)

    // representative per near-dup cluster = the component's min id
    kept.join(comps, Seq(idCol))
      .filter(col(idCol) === col("component"))
      .select(col(idCol), col("lang_pred"), col("score"), col("repetition"))
  }
}
