package graft.sql

import org.apache.spark.sql.{DataFrame, GraftSqlShim, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Command, InsertIntoStatement, LogicalPlan}

/** SELECT-only SQL gate.
  *
  * The reference gates its SQL tools with a substring keyword denylist
  * (`csv_tool.py:333-352`, `excel_tool.py:542-561`) and, for BigQuery,
  * strips comments first (`bigquery_tool.py:43-58`). Substring matching
  * is both too strict (rejects `SELECT 'DROPPED'`) and too weak
  * (multi-statement tricks). We instead parse with Catalyst and walk
  * the logical plan: any DDL/DML node anywhere in the tree (including
  * inside CTEs/subqueries) is rejected. Comment stripping comes free
  * from the parser.
  */
object QueryGate {

  final case class RejectedQuery(reason: String)
    extends IllegalArgumentException(s"only SELECT queries are allowed: $reason")

  private val deniedNamePattern =
    ".*(Create|Drop|Alter|Insert|Delete|Update|Merge|Truncate|SetCommand|Refresh|Cache|Analyze).*".r

  /** Validate that `sql` parses to a pure query plan. Returns the
    * parsed plan on success, the rejection reason on failure.
    */
  def validate(spark: SparkSession, sql: String): Either[String, LogicalPlan] = {
    val parsed =
      try Right(spark.sessionState.sqlParser.parsePlan(sql))
      catch { case e: Exception => Left(s"parse error: ${e.getMessage}") }
    parsed.flatMap { plan =>
      val offending = plan.collectFirst {
        case c: Command => c.nodeName
        case i: InsertIntoStatement => i.nodeName
        case n if deniedNamePattern.matches(n.getClass.getSimpleName) =>
          n.getClass.getSimpleName
      }
      offending.toLeft(plan).left.map(n => s"statement contains non-SELECT node $n")
    }
  }

  /** Gate + execute. Throws [[RejectedQuery]] on anything non-SELECT.
    * The DataFrame is built from the plan `validate` checked, so the
    * text is parsed once and what runs is exactly what was gated.
    */
  def sql(spark: SparkSession, query: String): DataFrame =
    validate(spark, query) match {
      case Right(plan)  => GraftSqlShim.ofRows(spark, plan)
      case Left(reason) => throw RejectedQuery(reason)
    }

  /** Validation for queries bound for a REMOTE engine whose dialect
    * Spark's parser may not accept (`SELECT TOP 5 …`, BigQuery
    * backtick paths): the plan-walk runs first and wins when the text
    * parses; when it does not, fall back to a lexical SELECT-only
    * check — comments and string literals stripped, single statement,
    * first keyword SELECT/WITH, no DDL/DML keyword anywhere — i.e. the
    * reference's own denylist discipline (`bigquery_tool.py:43-58`),
    * applied only where the stronger check cannot be.
    */
  def validateRemote(spark: SparkSession, sql: String): Either[String, Unit] =
    validate(spark, sql) match {
      case Right(_) => Right(())
      case Left(reason) if reason.startsWith("parse error") => validateLexical(sql)
      case Left(reason) => Left(reason) // parsed locally AND was non-SELECT
    }

  private val deniedKeywords = Set(
    "insert", "update", "delete", "merge", "drop", "create", "alter",
    "truncate", "grant", "revoke", "call", "exec", "execute", "replace",
    "copy", "load", "set", "use", "begin", "commit", "rollback")

  /** Lexical SELECT-only check for foreign dialects. */
  private[sql] def validateLexical(sql: String): Either[String, Unit] = {
    // strip block comments, line comments, and quoted literals /
    // identifiers so keywords inside them can't trip the denylist
    val stripped = sql
      .replaceAll("(?s)/\\*.*?\\*/", " ")
      .replaceAll("--[^\\n]*", " ")
      .replaceAll("'(?:[^']|'')*'", " ' ' ")
      .replaceAll("\"[^\"]*\"", " \" \" ")
      .replaceAll("`[^`]*`", " ` ` ")
    val statements = stripped.split(";").map(_.trim).filter(_.nonEmpty)
    if (statements.length != 1) return Left("exactly one statement allowed")
    val words = statements.head.toLowerCase.split("[^a-z_]+").filter(_.nonEmpty)
    if (words.isEmpty || (words.head != "select" && words.head != "with"))
      return Left(s"remote statement must start with SELECT/WITH, got '${words.headOption.getOrElse("")}'")
    words.find(deniedKeywords.contains) match {
      case Some(k) => Left(s"remote statement contains denied keyword '$k'")
      case None => Right(())
    }
  }
}
