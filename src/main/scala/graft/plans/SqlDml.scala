package graft.plans

import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteFromTable, LogicalPlan, UpdateTable}
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.LongType
import org.apache.spark.sql.{Column, Row, SparkSession}

import graft.table.Versioned

/** SQL `DELETE FROM` / `UPDATE` over versioned tables — the statement
  * forms of [[Versioned.deleteWhere]] / [[Versioned.updateWhere]]
  * (Delta's `DELETE FROM delta./path` / `UPDATE` SQL), claimed by the
  * same analyzer rule that routes MERGE:
  *
  *   DELETE FROM `graft-versioned`.`/dir` WHERE user_id % 7 = 0;
  *   UPDATE `graft-versioned`.`/dir` SET value_c = value_c + 5
  *   WHERE event_type = 'view';
  *   DELETE FROM cat.ns.t WHERE ...          -- GraftCatalog names too
  *
  * Translation hands the statement's predicate/assignments to the
  * engine's row-level rewrite — per file, deletion vectors or a
  * copy-on-write rewrite of a file left under half live, zone-map
  * carry, the commuting conflict rule — so SQL DML is
  * the same transactional machinery as the Scala API, not a second
  * implementation.
  *
  * A DELETE/UPDATE statement names ONE table, so every column reference
  * in the WHERE clause and SET expressions addresses that table;
  * translation strips any alias/table qualifier down to the column name
  * (Spark itself resolves the refs against the snapshot when the
  * rewrite's filter/select analyzes). Subqueries in WHERE are not
  * supported — pre-compute the key set and MERGE, or use the Scala API.
  */
object SqlDml {

  private def err(stmt: String, msg: String): Nothing =
    throw new IllegalArgumentException(s"$stmt graft-versioned: $msg")

  /** Statement-side expression → Column over the bare snapshot frame:
    * qualifiers drop (single-table statement), everything else passes
    * through for Spark's own resolution inside the rewrite.
    */
  private def unqualified(stmt: String, e: Expression): Column =
    Bridge.column(e.transformUp {
      case ua: UnresolvedAttribute =>
        if (ua.nameParts.size > 2) err(stmt,
          s"column ref ${ua.nameParts.mkString(".")} is over-qualified for a " +
            "single-table statement")
        Bridge.expression(col(ua.nameParts.last))
    })

  def translateDelete(
      spark: SparkSession, d: DeleteFromTable, dir: String): LogicalPlan =
    GraftDeleteCommand(dir, unqualified("DELETE FROM", d.condition))

  def translateUpdate(
      spark: SparkSession, u: UpdateTable, dir: String): LogicalPlan = {
    val set = u.assignments.map { case Assignment(k, v) =>
      val name = k match {
        case ua: UnresolvedAttribute => ua.nameParts.last
        case other => err("UPDATE", s"expected a SET column name, got $other")
      }
      name -> unqualified("UPDATE", v)
    }
    val dup = set.groupBy(_._1.toLowerCase).collect { case (c, vs) if vs.size > 1 => c }
    if (dup.nonEmpty) err("UPDATE", s"duplicate SET columns: ${dup.mkString(", ")}")
    // canonicalize SET names against the committed schema (same rule as
    // SqlMerge.translate): SQL identifiers are case-insensitive by
    // default while Versioned.updateWhere matches exact-case — a legal
    // case-variant (SET Value_C on column value_c) must resolve to the
    // table's own spelling, and an unknown column must error HERE with
    // the schema named rather than inside the rewrite
    val committed = Versioned.currentVersion(spark, dir)
      .flatMap(v => Versioned.schemaAt(spark, dir, v))
    val canonSet = committed match {
      case Some(sch) => set.map { case (c, v) =>
        sch.fieldNames.find(_.equalsIgnoreCase(c)).getOrElse(err("UPDATE",
          s"SET column $c is not a table column " +
            s"(${sch.fieldNames.mkString(", ")})")) -> v
      }
      case None => set
    }
    GraftUpdateCommand(dir,
      u.condition.map(unqualified("UPDATE", _))
        .getOrElse(org.apache.spark.sql.functions.lit(true)),
      canonSet)
  }
}

/** SQL `INSERT INTO` / `INSERT OVERWRITE` on the PATH-form relation —
  * routed through the transaction log ([[Versioned.append]] /
  * `overwrite`) by the extension rule. Without this claim, the
  * relation-inlining pass would hand the INSERT a bare file relation
  * over the snapshot's parquet files and Spark's file-writing command
  * would write AROUND the log — an INSERT OVERWRITE would even delete
  * a live data file in place. Catalog-named INSERTs don't come here:
  * they resolve natively onto the table's DSv2 write bridge.
  *
  * Input columns align BY POSITION (standard INSERT semantics; `INSERT
  * ... BY NAME` aligns by name) and cast to the table's committed
  * column types under STORE-ASSIGNMENT semantics — the cast's eval
  * mode follows `spark.sql.storeAssignmentPolicy` (default ANSI:
  * overflow and malformed strings ERROR), not the plain-cast
  * `spark.sql.ansi.enabled` (default false: silent NULL/truncation),
  * so the same INSERT behaves identically whether the table is named
  * by path or by catalog identifier.
  */
final case class GraftInsertCommand(
    dir: String, query: LogicalPlan, overwrite: Boolean, byName: Boolean)
    extends LeafRunnableCommand {

  override def output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())

  /** `c` cast to `dt` with store-assignment semantics (the policy
    * TableOutputResolver applies on catalog-table INSERTs): LEGACY
    * policy keeps the permissive legacy cast; ANSI/STRICT get the
    * ANSI cast that errors on overflow/bad input.
    */
  private def storeCast(
      c: Column, dt: org.apache.spark.sql.types.DataType): Column = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode}
    import org.apache.spark.sql.internal.SQLConf
    val conf = SQLConf.get
    val mode =
      if (conf.storeAssignmentPolicy == SQLConf.StoreAssignmentPolicy.LEGACY)
        EvalMode.LEGACY
      else EvalMode.ANSI
    Bridge.column(
      Cast(Bridge.expression(c), dt, Some(conf.sessionLocalTimeZone), mode))
  }

  override def run(spark: SparkSession): Seq[Row] = {
    val df = Bridge.ofRows(spark, query)
    val head = Versioned.currentVersion(spark, dir).getOrElse(
      throw new IllegalArgumentException(
        s"no committed versions at $dir — INSERT needs an existing table " +
          "(create it with Versioned.append/overwrite or a catalog CREATE TABLE)"))
    val schema = Versioned.schemaAt(spark, dir, head).getOrElse(
      Versioned.readAt(spark, dir, head).schema)
    val aligned =
      if (byName) {
        val missing = schema.fieldNames.filterNot(f =>
          df.columns.exists(_.equalsIgnoreCase(f)))
        require(missing.isEmpty,
          s"INSERT BY NAME input lacks table columns: ${missing.mkString(", ")}")
        df.select(schema.fields.toSeq.map(f =>
          storeCast(col(df.columns.find(_.equalsIgnoreCase(f.name)).get), f.dataType)
            .as(f.name)): _*)
      } else {
        require(df.columns.length == schema.size,
          s"INSERT input has ${df.columns.length} columns; table $dir has " +
            s"${schema.size} (${schema.fieldNames.mkString(", ")})")
        df.select(df.columns.toSeq.zip(schema.fields.toSeq).map { case (c, f) =>
          storeCast(col(c), f.dataType).as(f.name)
        }: _*)
      }
    val v =
      if (overwrite) Versioned.overwrite(aligned, dir)
      else Versioned.append(aligned, dir)
    Seq(Row(v))
  }

  override def simpleString(maxFields: Int): String =
    s"GraftInsertCommand $dir overwrite=$overwrite"
}

/** Executable TRUNCATE: one overwrite commit of an empty frame under
  * the head snapshot's schema — rows vanish from the NEW snapshot while
  * every prior version stays time-travel-readable until vacuum (the
  * lakehouse TRUNCATE contract, same as Delta's).
  */
final case class GraftTruncateCommand(dir: String) extends LeafRunnableCommand {

  override def output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val head = Versioned.currentVersion(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"no committed versions at $dir"))
    val schema = Versioned.schemaAt(spark, dir, head).getOrElse(
      Versioned.readAt(spark, dir, head).schema)
    val empty = spark.createDataFrame(
      java.util.Collections.emptyList[Row](), schema)
    Seq(Row(Versioned.overwrite(empty, dir)))
  }

  override def simpleString(maxFields: Int): String =
    s"GraftTruncateCommand $dir"
}

/** Executable DELETE: runs [[Versioned.deleteWhere]], which soft-deletes
  * the matched rows or rewrites a file left under half live; returns
  * the committed version, or NULL when no row matched (the rewrite
  * commits nothing — same contract as the Scala API).
  */
final case class GraftDeleteCommand(dir: String, cond: Column)
    extends LeafRunnableCommand {

  override def output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = true)())

  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(Versioned.deleteWhere(spark, dir, cond).map(Long.box).orNull))

  override def simpleString(maxFields: Int): String =
    s"GraftDeleteCommand $dir"
}

/** Executable UPDATE: [[Versioned.updateWhere]] — the matched rows'
  * new versions written beside the soft-deleted or rewritten old ones
  * — under the same version-or-NULL result contract as
  * [[GraftDeleteCommand]].
  */
final case class GraftUpdateCommand(
    dir: String, cond: Column, set: Seq[(String, Column)])
    extends LeafRunnableCommand {

  override def output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = true)())

  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(Versioned.updateWhere(spark, dir, cond, set.toMap).map(Long.box).orNull))

  override def simpleString(maxFields: Int): String =
    s"GraftUpdateCommand $dir set=[${set.map(_._1).mkString(", ")}]"
}
