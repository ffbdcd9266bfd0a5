package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** MERGE/upsert re-implemented without Delta Lake (SURVEY.md §2.2, §7.3).
  *
  * The reference's four merge variants, all built on
  * `DeltaTable.merge(...)`:
  *   - M1 insert-only (`01_bronze_csv_to_delta.py:58-68`)
  *   - M2 conditional-update / last-writer-wins
  *     (`02_bronze_to_silver.py:67-87` and six more entities)
  *   - M3 unconditional-update (`03_gold_dimensions.py:64-81`, `05:65-85`)
  *   - M4 update-all (`02:463-475`)
  *
  * Design: MERGE == a full-outer equi-join of target and source on the key
  * columns, with per-column conditional selection. Spark executes it as a
  * single shuffle on the keys (or a broadcast join when one side is small);
  * no driver-side iteration. Like Delta, the source must be key-unique —
  * the reference guarantees this by running W1 dedup before every merge.
  *
  * Scale: Delta prunes untouched *files*; this rewrite reprocesses the
  * whole target. That is the documented trade-off (§4) — at 100 TB one
  * would partition the target by a key prefix and rewrite only partitions
  * containing source keys (see `partitionedMergePlan` note below).
  */
object Upsert {

  private val T = "__t__"
  private val S = "__s__"

  /** M1 — insert-only merge: rows of `source` whose key is absent from
    * `target`, appended. Re-running with the same source never duplicates
    * (file-level idempotence when keyed on `source_file`, `01:64-67`).
    * Physical plan: left-anti join, broadcastable when the distinct key
    * set of the target is small.
    */
  def insertOnly(target: DataFrame, source: DataFrame, keys: Seq[String]): DataFrame =
    target.unionByName(newRows(target, source, keys))

  /** Just the to-insert slice of M1 (what an incremental writer appends). */
  def newRows(target: DataFrame, source: DataFrame, keys: Seq[String]): DataFrame =
    source.join(target.select(keys.map(col): _*), keys, "left_anti")

  /** M2/M3/M4 — matched-update + not-matched-insert merge.
    *
    * @param updateWhen matched rows take the source version only when this
    *                   predicate (over prefixed column refs, see `tcol`/
    *                   `scol`) holds; `lit(true)` gives M3/M4 semantics.
    *                   The reference's LWW condition is
    *                   `scol("ingestion_ts") > tcol("ingestion_ts")`.
    * @param setCols    columns the matched-update writes; others keep the
    *                   target value (M2's explicit set-lists). Default =
    *                   all non-key columns (M4 `whenMatchedUpdateAll`).
    */
  def merge(
      target: DataFrame,
      source: DataFrame,
      keys: Seq[String],
      updateWhen: Column = lit(true),
      setCols: Seq[String] = Nil): DataFrame = {
    require(target.columns.sameElements(source.columns) ||
      target.columns.toSet == source.columns.toSet,
      s"merge requires same columns; got ${target.columns.toSeq} vs ${source.columns.toSeq}")
    val cols = target.columns.toSeq
    val sets = if (setCols.isEmpty) cols.filterNot(keys.contains) else setCols

    val t = cols.foldLeft(target)((d, c) => d.withColumnRenamed(c, T + c))
      .withColumn(T + "present", lit(true))
    val s = cols.foldLeft(source)((d, c) => d.withColumnRenamed(c, S + c))
      .withColumn(S + "present", lit(true))

    val on = keys.map(k => t.col(T + k) === s.col(S + k)).reduce(_ && _)
    val j = t.join(s, on, "full_outer")

    val tPresent = col(T + "present").isNotNull
    val sPresent = col(S + "present").isNotNull
    val matched = tPresent && sPresent
    val takeSource = (matched && updateWhen) || (!tPresent && sPresent)

    val out = cols.map { c =>
      if (keys.contains(c)) coalesce(col(S + c), col(T + c)).as(c)
      else if (sets.contains(c)) when(takeSource, col(S + c)).otherwise(col(T + c)).as(c)
      else when(tPresent, col(T + c)).otherwise(col(S + c)).as(c)
    }
    j.select(out: _*)
  }

  /** Column ref helpers for `updateWhen` predicates. */
  def tcol(name: String): Column = col(T + name)
  def scol(name: String): Column = col(S + name)

  /** One WHEN clause of the full Delta-style MERGE grammar. Conditions
    * are predicates over [[tcol]]/[[scol]] refs (like `updateWhen`);
    * a NULL condition value means "does not apply" (SQL semantics).
    * Clauses in one slot are first-match-wins, in declaration order —
    * so every clause except the last must carry a condition.
    *
    *   - matched slot: [[MergeClause.Update]] (empty `set` = `SET *`,
    *     every non-key column from the source) or [[MergeClause.Delete]]
    *   - not-matched slot: [[MergeClause.Insert]] (whole source row;
    *     condition over [[scol]] refs only)
    *   - not-matched-by-source slot: [[MergeClause.Delete]] or
    *     [[MergeClause.Update]] with a non-empty `set` over [[tcol]]
    *     refs only (there is no source row to take values from)
    */
  sealed trait MergeClause { def cond: Option[Column] }
  object MergeClause {
    final case class Update(
        cond: Option[Column] = None,
        set: Map[String, Column] = Map.empty) extends MergeClause
    final case class Delete(cond: Option[Column] = None) extends MergeClause
    final case class Insert(cond: Option[Column] = None) extends MergeClause
  }

  /** The joined-frame name a [[tcol]] ref resolves to — lets a caller
    * evaluate a clause condition against a plain (un-joined) target
    * scan by aliasing each column under its target-prefixed name (the
    * touched-file discovery of NOT MATCHED BY SOURCE clauses). A
    * [[scol]] ref in such a condition fails resolution there — correct,
    * since a by-source clause addresses rows with NO source match.
    */
  private[graft] def tname(c: String): String = T + c

  /** The full MERGE action grammar as one relational plan — Delta's
    * `whenMatched[Update|Delete] / whenNotMatchedInsert /
    * whenNotMatchedBySource[Update|Delete]` semantics over a full-outer
    * equi-join (single shuffle or broadcast, no driver iteration):
    *
    *   - matched rows: the first `matched` clause whose condition holds
    *     applies (update or delete); none → the row keeps its target
    *     version;
    *   - source-only rows: the first `notMatched` (insert) clause whose
    *     condition holds inserts the whole source row; none → dropped;
    *   - target-only rows: the first `notMatchedBySource` clause whose
    *     condition holds applies; none → the row carries unchanged.
    *
    * [[merge]] (the reference's M2–M4 shapes) is exactly
    * `matched = Seq(Update(cond, set←source))`,
    * `notMatched = Seq(Insert())` under this engine.
    */
  def mergeFull(
      target: DataFrame,
      source: DataFrame,
      keys: Seq[String],
      matched: Seq[MergeClause] = Nil,
      notMatched: Seq[MergeClause] = Seq(MergeClause.Insert()),
      notMatchedBySource: Seq[MergeClause] = Nil): DataFrame =
    mergeFullTagged(target, source, keys, matched, notMatched, notMatchedBySource, Nil)
      .filter(col(KeepCol)).select(target.columns.toSeq.map(col): _*)

  /** Flag columns of [[mergeFullTagged]]: `KeepCol` — the row is in the
    * merge output; `ChangedCol` — a clause acted on it (matched or
    * by-source UPDATE/DELETE on a target row, or an INSERT).
    */
  private[graft] val KeepCol = "__m_keep"
  private[graft] val ChangedCol = "__m_changed"

  /** [[mergeFull]] before its survivor filter: EVERY joined row, with
    * its output values, the `carry` columns of its target row (NULL on
    * source-only rows) and the [[KeepCol]]/[[ChangedCol]] flags. A
    * target row no clause acted on keeps its values and has
    * `ChangedCol = false`, so a writer can leave it where it is — the
    * merge-on-read path of [[graft.table.Versioned.mergeFull]] carries
    * each target row's (file, position) through here. `carry` columns
    * belong to the target only and never meet the source.
    */
  private[graft] def mergeFullTagged(
      target: DataFrame,
      source: DataFrame,
      keys: Seq[String],
      matched: Seq[MergeClause],
      notMatched: Seq[MergeClause],
      notMatchedBySource: Seq[MergeClause],
      carry: Seq[String]): DataFrame = {
    import MergeClause._
    val cols = target.columns.toSeq.filterNot(carry.contains)
    // the source may be WIDER than the target: extra source columns are
    // visible to clause conditions/SET expressions via [[scol]] but
    // never reach the output (Delta's rule — a CDC feed carries
    // operation flags and sequence metadata the table never stores)
    require(cols.toSet.subsetOf(source.columns.toSet),
      s"merge source must carry every target column; got target " +
        s"${target.columns.toSeq} vs source ${source.columns.toSeq}")
    def slotCheck(cs: Seq[MergeClause], slot: String, ok: MergeClause => Boolean): Unit = {
      cs.foreach(c => require(ok(c),
        s"$slot does not accept ${c.getClass.getSimpleName} clauses"))
      // first-match-wins: a non-last clause without a condition makes
      // every later clause dead code — reject loudly (Delta's rule)
      cs.dropRight(1).zipWithIndex.foreach { case (c, i) =>
        require(c.cond.nonEmpty,
          s"$slot clause ${i + 1} of ${cs.size} has no condition; only the " +
            "last clause in a slot may be unconditional")
      }
    }
    slotCheck(matched, "WHEN MATCHED", c => !c.isInstanceOf[Insert])
    slotCheck(notMatched, "WHEN NOT MATCHED", _.isInstanceOf[Insert])
    slotCheck(notMatchedBySource, "WHEN NOT MATCHED BY SOURCE",
      c => !c.isInstanceOf[Insert])
    (matched ++ notMatchedBySource).foreach {
      case Update(_, set) =>
        val badKeys = set.keySet.intersect(keys.toSet)
        require(badKeys.isEmpty,
          s"UPDATE SET must not assign merge key columns: ${badKeys.mkString(", ")}")
        val unknown = set.keySet -- cols
        require(unknown.isEmpty,
          s"UPDATE SET references unknown columns: ${unknown.mkString(", ")}")
      case _ => ()
    }
    notMatchedBySource.foreach {
      case Update(_, set) => require(set.nonEmpty,
        "NOT MATCHED BY SOURCE UPDATE needs an explicit SET — there is " +
          "no source row to take values from")
      case _ => ()
    }

    val t = target.columns.toSeq.foldLeft(target)((d, c) => d.withColumnRenamed(c, T + c))
      .withColumn(T + "present", lit(true))
    // prefix EVERY source column (incl. extras) so scol refs resolve
    val s = source.columns.toSeq.foldLeft(source)(
      (d, c) => d.withColumnRenamed(c, S + c))
      .withColumn(S + "present", lit(true))
    val on = keys.map(k => t.col(T + k) === s.col(S + k)).reduce(_ && _)
    val j = t.join(s, on, "full_outer")

    val tPresent = col(T + "present").isNotNull
    val sPresent = col(S + "present").isNotNull
    val isMatched = tPresent && sPresent
    val tOnly = tPresent && !sPresent

    // NULL conditions do not apply (SQL); clause choice is materialized
    // ONCE per slot so per-column projections share it
    def holds(c: Option[Column]): Column =
      c.map(x => coalesce(x, lit(false))).getOrElse(lit(true))
    def firstApplicable(cs: Seq[MergeClause]): Column =
      cs.zipWithIndex.foldRight(lit(-1): Column) { case ((cl, i), acc) =>
        when(holds(cl.cond), lit(i)).otherwise(acc)
      }
    val withActs = j
      .withColumn("__m_act", firstApplicable(matched))
      .withColumn("__b_act", firstApplicable(notMatchedBySource))
      .withColumn("__i_act", firstApplicable(notMatched))

    def deleteIdxs(cs: Seq[MergeClause]): Seq[Int] =
      cs.zipWithIndex.collect { case (_: Delete, i) => i }
    def survives(cs: Seq[MergeClause], act: Column): Column =
      deleteIdxs(cs).map(act =!= _).foldLeft(lit(true))(_ && _)
    val keep =
      when(isMatched, survives(matched, col("__m_act")))
        .when(tOnly, survives(notMatchedBySource, col("__b_act")))
        .otherwise(col("__i_act") =!= -1)

    // per-column value: chained over the slot's UPDATE clauses; set
    // expressions cast back to the column's type so the schema never
    // drifts. Matched SET * (empty map) = the source's value.
    def updVal(cs: Seq[MergeClause], act: Column, c: String,
        starSource: Boolean): Column = {
      val dt = target.schema(c).dataType
      val dflt = col(T + c)
      cs.zipWithIndex.collect { case (u: Update, i) => (u, i) }
        .foldRight(dflt) { case ((u, i), acc) =>
          val v = u.set.get(c).map(_.cast(dt)).getOrElse(
            if (u.set.isEmpty && starSource) col(S + c) else col(T + c))
          when(act === i, v).otherwise(acc)
        }
    }
    val out = cols.map { c =>
      val v =
        if (keys.contains(c)) coalesce(col(T + c), col(S + c))
        else when(isMatched, updVal(matched, col("__m_act"), c, starSource = true))
          .when(tOnly, updVal(notMatchedBySource, col("__b_act"), c, starSource = false))
          .otherwise(col(S + c))
      v.as(c)
    }
    val changed =
      when(isMatched, col("__m_act") =!= -1)
        .when(tOnly, col("__b_act") =!= -1)
        .otherwise(col("__i_act") =!= -1)
    withActs.select(out ++ carry.map(c => col(T + c).as(c)) ++
      Seq(keep.as(KeepCol), changed.as(ChangedCol)): _*)
  }

  /** Last-writer-wins merge (the reference's M2 shape): matched rows are
    * replaced only when the source's `versionCol` is strictly newer
    * (`02:74`, `02:208`, `02:345`, `02:656`, `02:749`, `02:844`, `04:117`).
    */
  def lastWriterWins(
      target: DataFrame,
      source: DataFrame,
      keys: Seq[String],
      versionCol: String): DataFrame =
    merge(target, source, keys, updateWhen = scol(versionCol) > tcol(versionCol))
}
