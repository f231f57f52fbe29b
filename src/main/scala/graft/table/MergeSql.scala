package graft.table

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{And, EqualTo, Expression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.graftshim.SparkInternals

/** SQL front-end for the merge engine: accepts the reference's literal
  * `MERGE INTO` statement text (demo-notebook.py:245-280, :394-425),
  * parsed by Spark's own SQL parser into a [[MergeIntoTable]] plan and
  * translated onto [[Merge.run]].
  *
  * Supported surface (everything the reference uses):
  *   - `MERGE INTO <name> [AS] t USING (<any query>) [AS] s ON
  *     <conjunction of s.k = t.k>`;
  *   - `WHEN MATCHED [AND cond] THEN DELETE | UPDATE SET * | UPDATE SET
  *     col = expr, ...`;
  *   - `WHEN NOT MATCHED [AND cond] THEN INSERT * | INSERT (cols)
  *     VALUES (exprs)`.
  *
  * The source query resolves against the session (temp views, catalog
  * tables); the target name resolves through the caller-provided map.
  * Clause/ON conditions may qualify columns with either side's alias —
  * they are re-qualified onto the engine's canonical `target`/`source`
  * aliases. An unqualified column resolves to the one side that has it;
  * a column both sides have must be qualified. Not supported (absent
  * from the reference): WHEN NOT MATCHED BY SOURCE, schema evolution,
  * non-equi ON conditions, and Databricks' QUALIFY inside the source
  * (write the ROW_NUMBER subquery instead — SURVEY §2.5 W1).
  */
object MergeSql {

  def run(
      spark: SparkSession,
      sqlText: String,
      tables: Map[String, VersionedTable],
      txn: Option[(String, Long)] = None): MergeStats = {
    val m = spark.sessionState.sqlParser.parsePlan(sqlText) match {
      case mit: MergeIntoTable => mit
      case other => throw new IllegalArgumentException(
        s"not a MERGE statement: ${other.getClass.getSimpleName}")
    }
    require(m.notMatchedBySourceActions.isEmpty,
      "WHEN NOT MATCHED BY SOURCE is not supported")

    def relationName(p: LogicalPlan): Option[String] = p match {
      case u: UnresolvedRelation => Some(u.multipartIdentifier.mkString("."))
      case SubqueryAlias(_, child) => relationName(child)
      case _ => None
    }
    def aliasOf(p: LogicalPlan): Option[String] = p match {
      case SubqueryAlias(id, _) => Some(id.name)
      case _ => None
    }

    val targetName = relationName(m.targetTable).getOrElse(
      throw new IllegalArgumentException("MERGE target must be a named table"))
    val table = tables.getOrElse(targetName,
      throw new IllegalArgumentException(s"unknown merge target '$targetName'"))

    // qualifiers that refer to each side, mapped onto the engine's
    // canonical aliases
    val targetQuals = Set(targetName, targetName.split('.').last) ++ aliasOf(m.targetTable)
    val sourceQuals = Set("__source__") ++ aliasOf(m.sourceTable) ++
      relationName(m.sourceTable).toSeq.flatMap(n => Seq(n, n.split('.').last))

    val source: DataFrame = SparkInternals.ofRows(spark, m.sourceTable)
    def has(schema: StructType, name: String) =
      schema.fieldNames.exists(_.equalsIgnoreCase(name))

    def requalify(e: Expression): Column = SparkInternals.column(e.transformUp {
      case UnresolvedAttribute(parts) if parts.length >= 2 &&
          (sourceQuals(parts.head) || targetQuals(parts.head)) =>
        UnresolvedAttribute(
          (if (sourceQuals(parts.head)) "source" else "target") +: parts.tail)
      case UnresolvedAttribute(parts) =>
        // unqualified: the side whose schema has the column
        (has(table.schema, parts.head), has(source.schema, parts.head)) match {
          case (true, true) => throw new IllegalArgumentException(
            s"ambiguous column '${parts.mkString(".")}' in MERGE: both the " +
              s"target and the source have '${parts.head}' — qualify it")
          case (true, false) => UnresolvedAttribute("target" +: parts)
          case (false, true) => UnresolvedAttribute("source" +: parts)
          case _ => UnresolvedAttribute(parts)
        }
    })

    // ON condition: a conjunction of cross-side column equalities
    def keysOf(e: Expression): Seq[String] = e match {
      case And(l, r) => keysOf(l) ++ keysOf(r)
      case EqualTo(UnresolvedAttribute(a), UnresolvedAttribute(b))
          if a.length >= 2 && b.length >= 2 && a.last == b.last &&
            Set(a.head, b.head).intersect(sourceQuals).nonEmpty &&
            Set(a.head, b.head).intersect(targetQuals).nonEmpty =>
        Seq(a.last)
      case other => throw new IllegalArgumentException(
        s"ON must be a conjunction of source.k = target.k equalities, got: $other")
    }
    val onKeys = keysOf(m.mergeCondition)

    def lastName(e: Expression): String = e match {
      case UnresolvedAttribute(parts) => parts.last
      case other => throw new IllegalArgumentException(
        s"assignment key must be a column, got: $other")
    }
    def toSet(assignments: Seq[Assignment]): Map[String, Column] =
      assignments.map(a => lastName(a.key) -> requalify(a.value)).toMap

    val matched: Seq[MergeClause] = m.matchedActions.map {
      case DeleteAction(cond) => WhenMatchedDelete(cond.map(requalify))
      case UpdateStarAction(cond) => WhenMatchedUpdate(cond.map(requalify))
      case UpdateAction(cond, assignments, _) =>
        WhenMatchedUpdate(cond.map(requalify), toSet(assignments))
      case other => throw new IllegalArgumentException(s"unsupported: $other")
    }
    val notMatched: Seq[MergeClause] = m.notMatchedActions.map {
      case InsertStarAction(cond) => WhenNotMatchedInsert(cond.map(requalify))
      case InsertAction(cond, assignments) =>
        WhenNotMatchedInsert(cond.map(requalify), toSet(assignments))
      case other => throw new IllegalArgumentException(s"unsupported: $other")
    }

    Merge.run(table, source, onKeys, matched ++ notMatched, txn)
  }
}
