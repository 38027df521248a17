package graft.sql

import graft.sources.Formats
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias, UnresolvedWith}

/** Direct-path table references in SQL, and per-query table resolution.
  *
  * The reference lets users write `select * from '/path/order*.csv'`:
  * any table ref with a recognizable file extension is read as a table
  * for that query alone (reference: src/data_source/context.rs:83-152).
  * Spark SQL won't parse a quoted string in FROM position, so
  * [[rewrite]] turns each into a reserved identifier before parsing,
  * and [[substitute]] puts the relations table refs stand for into the
  * parsed plan — nothing is registered in the shared session.
  *
  * Glob patterns ride along for free — the path is handed to Spark's
  * distributed file index, which expands globs during listing
  * (reference does this driver-side with the glob crate,
  * src/data_source/utils.rs:29-38; here listing is parallelized).
  */
object DirectPath {

  /** First part of the two-part identifier a rewritten path becomes. */
  val Qualifier = "graft_path"

  /** Matches `FROM 'path'` / `JOIN 'path'`. */
  private val PathRef = """(?i)\b(from|join)(\s+)'([^']+)'""".r

  /** Rewrite direct-path refs to ``graft_path.`<resolved path>` ``
    * (backticks doubled); text only, so `spark` is unused. Only matched
    * FROM/JOIN positions change — an identical quoted string elsewhere
    * (a SELECT-list or predicate literal) is left untouched.
    */
  def rewrite(spark: SparkSession, sql: String, resolvePath: String => String): String =
    PathRef.replaceAllIn(sql, m => java.util.regex.Matcher.quoteReplacement(
      if (Formats.infer(m.group(3)).isEmpty) m.matched // not a file ref
      else s"${m.group(1)}${m.group(2)}$Qualifier.`${resolvePath(m.group(3)).replace("`", "``")}`"))

  /** Replace each table ref for which `resolve` has a plan, in the query,
    * its CTE bodies and its subquery expressions (reference:
    * src/sql/parse.rs:17-37 get_table_names). A CTE name in scope
    * shadows a table of the same name, as in Spark's own resolution.
    */
  def substitute(plan: LogicalPlan, resolve: Seq[String] => Option[LogicalPlan],
      ctes: Set[String] = Set.empty): LogicalPlan = plan match {
    case UnresolvedRelation(Seq(name), _, _) if ctes(name.toLowerCase) => plan
    case r: UnresolvedRelation => resolve(r.multipartIdentifier).getOrElse(r)
    case w: UnresolvedWith =>
      val names = w.cteRelations.map(_._1.toLowerCase)
      w.copy(child = substitute(w.child, resolve, ctes ++ names),
        cteRelations = w.cteRelations.zipWithIndex.map { case ((name, body, depth), i) =>
          val scope = ctes ++ names.take(if (w.allowRecursion) i + 1 else i)
          (name, substitute(body, resolve, scope).asInstanceOf[SubqueryAlias], depth)
        })
    case _ =>
      plan.mapChildren(substitute(_, resolve, ctes)).transformExpressions {
        case s: SubqueryExpression => s.withNewPlan(substitute(s.plan, resolve, ctes))
      }
  }
}
