package graft.sources

import scala.util.control.NonFatal

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, GraftPlanBridge, Row,
  SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference,
  CommonExpressionRef, Expression, RuntimeReplaceable, SubqueryExpression, With}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{LongType, StructField}

import graft.io.{TxLog, TxLogFileIndex}
import graft.plans.GraftExtensions

/** SQL DML over the transaction log: `DELETE FROM` / `UPDATE` /
  * `MERGE INTO` / `INSERT` statements on `USING graft` tables,
  * rewritten during analysis into commands that drive the existing
  * serializable row-level APIs — [[TxLog.deleteVectors]]
  * (merge-on-read deletes: position vectors, no data rewrite),
  * [[TxLog.updateVectors]] (post-image files + vectors over the
  * pre-images), [[TxLog.merge]] (file-granular copy-on-write upsert),
  * and [[TxLog.replacePartitions]] / append commits for the INSERT
  * family (plain `INSERT INTO`/`OVERWRITE` also work WITHOUT
  * extensions through the relations' `InsertableRelation`; this rule
  * additionally covers the PARTITION-clause shapes). The rewrite
  * happens in the RESOLUTION phase, after the target table and the
  * condition are resolved but before `CheckAnalysis` would reject the
  * statement ("DELETE is only supported with v2 tables" — the v1
  * relation path these tables scan through has no DML of its own).
  *
  * Registration is session-build-time (analyzer rules cannot be added
  * to a live session), so [[GraftSession.withDml]] derives a SIBLING
  * session — same `SparkContext`, same `SharedState` (one catalog, one
  * cache), fresh `SessionState` carrying the rule — for callers handed
  * an extension-less session by a driver. Cluster deployments set
  * `spark.sql.extensions=graft.sources.GraftDmlExtensions` instead and
  * use their main session directly.
  */
class GraftDmlExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    new GraftExtensions().apply(ext) // functions + TVFs ride along
    ext.injectResolutionRule(s => new GraftDmlRule(s))
  }
}

/** The analysis-time rewrite (see [[GraftDmlExtensions]]). DELETE and
  * UPDATE hand the row-level APIs the statement's resolved condition and
  * SET values re-bound by column name ([[GraftDml.rebind]]) to the fresh
  * snapshot each API reads — no SQL text, so uncorrelated subqueries pass
  * as the plans the analyzer resolved. A correlated one is refused: its
  * outer references sit inside the subquery plan, out of rebind's reach.
  */
final class GraftDmlRule(session: SparkSession) extends Rule[LogicalPlan] {
  import GraftDml._

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperators {
    case DeleteFromTable(GraftTarget(root), cond) if cond.resolved =>
      GraftDeleteCommand(root, rebound("DELETE", cond))

    case UpdateTable(GraftTarget(root), assignments, cond)
        if assignments.forall(a => a.key.resolved && a.value.resolved) &&
          cond.forall(_.resolved) =>
      val set = assignments.map { a =>
        val name = a.key match {
          case ar: AttributeReference => ar.name
          case other => fail(s"UPDATE SET targets ${other.sql}, not a top-level column")
        }
        name -> rebound("UPDATE", a.value)
      }
      GraftUpdateCommand(root, set,
        cond.map(rebound("UPDATE", _)).getOrElse(lit(true)))

    // matched BEFORE condition/action resolution: Spark's analyzer
    // expands star actions and resolves merge conditions only for V2
    // targets, so a V1-relation merge would otherwise sit unresolved
    // until CheckAnalysis rejects it — the key is extracted from the
    // raw equi-condition's name parts instead
    case m @ MergeIntoTable(GraftTarget(root), source, mergeCond,
        matched, notMatched, notMatchedBySource, withSchemaEvolution)
        if source.resolved =>
      val keyCol = equiKeyOf(mergeCond).getOrElse(fail(
        "MERGE INTO a graft table needs ON target.k = source.k (one equi-key)"))
      val shapeOk =
        matched.forall(_.isInstanceOf[UpdateStarAction]) && matched.size <= 1 &&
          notMatched.forall(_.isInstanceOf[InsertStarAction]) &&
          notMatched.size <= 1 && notMatchedBySource.isEmpty &&
          (matched.nonEmpty || notMatched.nonEmpty) &&
          matched.forall(_.condition.isEmpty) &&
          notMatched.forall(_.condition.isEmpty) &&
          !withSchemaEvolution // never silently ignore an asked-for behavior
      if (!shapeOk) fail(
        "MERGE INTO a graft table supports WHEN MATCHED THEN UPDATE SET * " +
          "and/or WHEN NOT MATCHED THEN INSERT * (unconditional); " +
          s"got ${m.matchedActions} / ${m.notMatchedActions}")
      GraftMergeCommand(root, keyCol, source,
        allowUpdate = matched.nonEmpty, allowInsert = notMatched.nonEmpty)

    // INSERT INTO / INSERT OVERWRITE [PARTITION (...)]: without this
    // rewrite the statement reaches Spark's own
    // InsertIntoHadoopFsRelationCommand, which writes files the log
    // never learns about (the bare relation's read-only format refuses
    // that at execution; THIS is the path that makes the statement
    // work). Matched before PreprocessTableInsertion pads/validates —
    // the command does its own positional/by-name alignment against the
    // log-recorded schema.
    case InsertIntoStatement(GraftTarget(root), partitionSpec, userCols,
        query, overwrite, ifPartitionNotExists, byName) if query.resolved =>
      if (ifPartitionNotExists) fail(
        "INSERT ... IF NOT EXISTS is not supported on graft tables")
      val static = partitionSpec.collect { case (k, Some(v)) => k -> v }
      val dynamic = partitionSpec.collect { case (k, None) => k }.toSeq
      if (overwrite && dynamic.nonEmpty) fail(
        "INSERT OVERWRITE PARTITION on a graft table needs static values " +
          "(PARTITION (k='v')); dynamic-partition overwrite is not supported")
      GraftInsertCommand(root, static, dynamic, userCols, query,
        overwrite = overwrite, byName = byName)
  }

  /** `t.k = s.k` (either side order, resolved or not) → the shared key
    * name; None for any other condition shape.
    */
  private def equiKeyOf(cond: Expression): Option[String] = {
    def nameOf(e: Expression): Option[String] = e match {
      case a: AttributeReference => Some(a.name)
      case u: UnresolvedAttribute => Some(u.nameParts.last)
      case _ => None
    }
    cond match {
      case org.apache.spark.sql.catalyst.expressions.EqualTo(l, r) =>
        for (ln <- nameOf(l); rn <- nameOf(r) if ln == rn) yield ln
      case _ => None
    }
  }

  private def rebound(stmt: String, e: Expression): Column = {
    e.collectFirst { case s: SubqueryExpression if s.isCorrelated => s }.foreach(s =>
      fail(s"$stmt on a graft table does not support the correlated subquery ${s.sql}"))
    rebind(e)
  }

  private def fail(msg: String): Nothing =
    throw new UnsupportedOperationException(s"graft DML: $msg")
}

object GraftDml {

  /** The transaction-log root behind any resolved shape a `USING graft`
    * target can take: the bare file-source relation (its location IS the
    * [[TxLogFileIndex]]) or the merge-on-read wrapper relation.
    */
  object GraftTarget {
    def unapply(plan: LogicalPlan): Option[String] = plan match {
      case SubqueryAlias(_, child) => unapply(child)
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation if h.location.isInstanceOf[TxLogFileIndex] =>
          Some(h.location.asInstanceOf[TxLogFileIndex].root)
        case g: GraftSnapshotRelation => Some(g.root)
        case _ => None
      }
      case _ => None
    }
  }

  /** A resolved expression as a Column that resolves again against a
    * FRESH scan of the table: each attribute becomes its bare column name
    * (one name part, so dots and spaces survive). A column-reading
    * `RuntimeReplaceable` (`BETWEEN`) keeps its inputs outside the tree,
    * so it becomes its `replacement` first, with `With` inlined. The
    * commands keep a Column, not an Expression: `CheckAnalysis` would
    * reject the unresolved names in a command's expressions.
    */
  private[sources] def rebind(e: Expression): Column =
    GraftColumnBridge.column(e.transformUp {
      case With(child, defs) => child.transform {
        case r: CommonExpressionRef => defs.find(_.id == r.id).get.child
      }
      case r: RuntimeReplaceable if r.references.nonEmpty => r.replacement
    }.transformUp {
      case a: AttributeReference => UnresolvedAttribute(Seq(a.name))
    })
}

/** `DELETE FROM t WHERE cond` → merge-on-read deletion vectors: one
  * positions commit, zero data rewritten — the 100 TB default (Delta
  * with DVs enabled). `cond` comes from [[GraftDml.rebind]]. Returns the
  * committed version.
  */
final case class GraftDeleteCommand(root: String, cond: Column)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(TxLog.deleteVectors(spark, root, cond)))
}

/** `UPDATE t SET a = v, ... WHERE cond` → merge-on-read update:
  * post-image files for the matched rows, deletion vectors over their
  * pre-images. `cond` and the SET values come from [[GraftDml.rebind]];
  * a value may read other columns of the old row.
  */
final case class GraftUpdateCommand(
    root: String,
    set: Seq[(String, Column)],
    cond: Column) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(TxLog.updateVectors(spark, root, cond, set.toMap)))
}

/** `MERGE INTO t USING s ON t.k = s.k WHEN MATCHED THEN UPDATE SET *
  * WHEN NOT MATCHED THEN INSERT *` → [[TxLog.merge]]'s file-granular
  * upsert. The restricted-action variants drop the suppressed half by
  * pre-joining the source against the target's key set — the join is on
  * the target's zone-mapped key column, so the probe prunes files the
  * source's key range cannot touch.
  */
final case class GraftMergeCommand(
    root: String,
    keyCol: String,
    source: LogicalPlan,
    allowUpdate: Boolean,
    allowInsert: Boolean) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def innerChildren: Seq[LogicalPlan] = Seq(source)

  override def run(spark: SparkSession): Seq[Row] = {
    val src = GraftPlanBridge.ofRows(spark, source)
    val updates =
      if (allowUpdate && allowInsert) src
      else {
        val keys = TxLog.snapshot(spark, root).select(keyCol).distinct()
        if (allowUpdate) // matched-only: drop source rows with new keys
          src.join(keys, Seq(keyCol), "left_semi")
        else // insert-only: drop source rows that would update
          src.join(keys, Seq(keyCol), "left_anti")
      }
    Seq(Row(TxLog.merge(spark, root, updates, keyCol)))
  }
}

/** `INSERT INTO` → a transactional append; `INSERT OVERWRITE` → a full
  * overwrite commit; `INSERT OVERWRITE ... PARTITION (k=v)` →
  * [[TxLog.replacePartitions]]'s atomic partition replace (only the
  * named partitions' files drop; everything else carries by reference).
  * Alignment is against the USER-VISIBLE schema (the scan's
  * data-then-partition column order — what `SELECT *` shows): positional
  * with casts (ANSI `INSERT` semantics), `BY NAME` by resolved name,
  * static partition values injected as typed literals, dynamic partition
  * columns expected LAST in the query output (Hive's rule). Written
  * files inherit the table's recorded zone-map columns
  * ([[TxLog.recordedStatsCols]]), so SQL-inserted data lands as
  * prunable as the data around it.
  */
final case class GraftInsertCommand(
    root: String,
    static: Map[String, String],
    dynamic: Seq[String],
    userCols: Seq[String],
    query: LogicalPlan,
    overwrite: Boolean,
    byName: Boolean) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def innerChildren: Seq[LogicalPlan] = Seq(query)

  override def run(spark: SparkSession): Seq[Row] = {
    val head = TxLog.headVersion(root)
    val r = TxLog.replay(root, head)
    // positional semantics follow the USER-VISIBLE schema — what
    // `SELECT *` and `DESCRIBE` show, i.e. the scan's data-columns-then-
    // partition-columns order — NOT the log-recorded writer order (the
    // two can differ after a compaction rewrote through the scan)
    val visible = TxLog.snapshot(spark, root).schema
    val layout = r.partitionBy.getOrElse(throw new IllegalStateException(
      s"graft DML: $root has a mixed partition layout; restore first"))
    def fieldOf(name: String): StructField =
      visible.fields.find(_.name.equalsIgnoreCase(name)).getOrElse(
        throw new IllegalArgumentException(
          s"graft DML: column $name is not in the table schema " +
            s"(${visible.fieldNames.mkString(", ")})"))
    val staticFields = static.toSeq.map { case (k, v) => (fieldOf(k), v) }
    val staticNames = staticFields.map(_._1.name).toSet
    val src = GraftPlanBridge.ofRows(spark, query)

    val aligned: DataFrame =
      if (byName) {
        val fields = src.columns.toSeq.map(fieldOf)
        val dup = fields.map(_.name).filter(staticNames)
        require(dup.isEmpty, s"graft DML: INSERT BY NAME supplies static " +
          s"partition column(s) ${dup.mkString(", ")}")
        src.select(src.columns.toSeq.zip(fields).map { case (c, f) =>
          col(c).cast(f.dataType).as(f.name)
        }: _*)
      } else {
        // positional: the user-listed columns, else the visible schema
        // minus static spec columns, dynamic partition columns last
        val expected: Seq[StructField] =
          if (userCols.nonEmpty) {
            val fields = userCols.map(fieldOf)
            val dup = fields.map(_.name).filter(staticNames)
            require(dup.isEmpty, s"graft DML: INSERT column list names " +
              s"static partition column(s) ${dup.mkString(", ")}")
            fields
          } else {
            val dyn = dynamic.map(fieldOf)
            val dynNames = dyn.map(_.name).toSet
            visible.fields.toSeq.filterNot(f =>
              staticNames(f.name) || dynNames(f.name)) ++ dyn
          }
        require(src.columns.length == expected.size,
          s"graft DML: INSERT provides ${src.columns.length} column(s), " +
            s"expected ${expected.size} (${expected.map(_.name).mkString(", ")})")
        src.select(src.columns.toSeq.zip(expected).map { case (c, f) =>
          col(c).cast(f.dataType).as(f.name)
        }: _*)
      }

    val withStatic = staticFields.foldLeft(aligned) { case (d, (f, v)) =>
      d.withColumn(f.name, lit(v).cast(f.dataType))
    }
    // visible column order for the supplied subset (absent columns stay
    // absent — the log's additive schema backfills nulls on read)
    val present = withStatic.columns.toSet
    val out = withStatic.select(
      visible.fieldNames.toSeq.filter(present).map(col): _*)
    layout.foreach(c => require(out.columns.contains(c),
      s"graft DML: INSERT must supply partition column $c " +
        "(in the query, the column list, or the PARTITION spec)"))

    val version =
      if (overwrite && static.nonEmpty)
        TxLog.replacePartitions(spark, root, out,
          staticFields.map { case (f, v) => f.name -> v }.toMap)
      else if (overwrite)
        TxLog.commit(spark, root, out, TxLog.Overwrite,
          statsCols = TxLog.recordedStatsCols(root), partitionBy = layout,
          op = Some("INSERT OVERWRITE"))
      else
        TxLog.commit(spark, root, out, TxLog.Append,
          statsCols = TxLog.recordedStatsCols(root), partitionBy = layout,
          op = Some("INSERT"))
    Seq(Row(version))
  }
}

/** Sibling-session factory: the same `SparkContext` and `SharedState`
  * (one catalog, one block manager, one cache) with a fresh
  * `SessionState` built from [[GraftDmlExtensions]] — the only way to
  * give a session handed in WITHOUT extensions (a driver's) an analyzer
  * rule, since resolution rules are fixed at session build.
  *
  * `build` is the one reflective call into Spark left (other private
  * hops go through [[org.apache.spark.sql.GraftPlanBridge]]):
  * `classic.SparkSession`'s 6-argument constructor is Scala-`private`,
  * out of a bridge's reach too, and the public `Builder` would build a
  * fresh `SharedState` — a catalog the DML session would not share.
  */
object GraftSession {
  private val cache =
    scala.collection.concurrent.TrieMap.empty[SparkContext, SparkSession]

  def withDml(spark: SparkSession): SparkSession =
    cache.getOrElseUpdate(spark.sparkContext, build(spark))

  private def build(spark: SparkSession): SparkSession = {
    val ext = new SparkSessionExtensions
    new GraftDmlExtensions().apply(ext)
    val cls = Class.forName("org.apache.spark.sql.classic.SparkSession")
    val shared = spark.getClass.getMethod("sharedState").invoke(spark)
    val ctor = cls.getConstructors.find(_.getParameterCount == 6).getOrElse(
      throw new IllegalStateException(
        "classic.SparkSession's 6-arg constructor not found"))
    val s2 = ctor.newInstance(spark.sparkContext, Some(shared), None, ext,
      Map.empty[String, String], Map.empty[String, String])
      .asInstanceOf[SparkSession]
    // align runtime conf (shuffle partitions, session timezone, ...) —
    // static/immutable keys refuse the set harmlessly
    spark.conf.getAll.foreach { case (k, v) =>
      try s2.conf.set(k, v) catch { case NonFatal(_) => () }
    }
    s2
  }
}
