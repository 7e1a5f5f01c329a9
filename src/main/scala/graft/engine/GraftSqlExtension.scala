package graft.engine

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{DataType, StructType}

/** Spark-native dialect integration: a `SparkSessionExtensions` parser
  * injection — `spark.sql("select from customer where
  * nation.region.r_name = 'ASIA'")` just works once a [[GraftSession]]
  * is bound.
  *
  * Semantics while bound (deliberate, see [[GraftParser.dialectFirst]]):
  * the DIALECT gets first crack; a statement that parses AND
  * translates against the bound catalog runs with dialect semantics
  * (e.g. `_` is a literal in LIKE), everything else — ANSI joins,
  * arithmetic, unknown tables — falls through to the delegate parser.
  * Binding is therefore an explicit opt-in to dialect-first handling
  * of catalog-class queries; unbound, the extension is a pure
  * pass-through.
  *
  * Every session from [[graft.Sessions.session]] registers it; then
  * `GraftSqlExtension.bind(spark, graftSession)`.
  */
class GraftSqlExtension extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    ext.injectParser((session, delegate) => new GraftParser(session, delegate))
}

object GraftSqlExtension {
  // weak on BOTH sides: a strong value would point back at the key
  // (GraftSession → SparkSession) and pin stopped sessions forever.
  // The caller owns the GraftSession's lifetime; if they drop it, the
  // binding lapses.
  private val bound = new java.util.WeakHashMap[
    SparkSession, java.lang.ref.WeakReference[GraftSession]]()

  def bind(spark: SparkSession, g: GraftSession): Unit =
    bound.synchronized {
      bound.put(spark, new java.lang.ref.WeakReference(g)); ()
    }
  def unbind(spark: SparkSession): Unit =
    bound.synchronized { bound.remove(spark); () }
  private[engine] def boundSession(spark: SparkSession): Option[GraftSession] =
    bound.synchronized { Option(bound.get(spark)).flatMap(r => Option(r.get)) }
}

final class GraftParser(spark: SparkSession,
    private[graft] val delegate: ParserInterface)
    extends ParserInterface {

  /** With a bound session, the dialect gets first crack: if the text
    * parses AND translates against the bound catalog it is a dialect
    * query; anything else (ANSI joins, arithmetic, unknown classes)
    * falls through to the delegate untouched. The ANSI parser cannot
    * go first — it syntactically "accepts" dialect text like
    * `select from customer` (as `from AS customer`) and only fails in
    * analysis. */
  private def dialectFirst(sqlText: String,
      fallback: String => LogicalPlan): LogicalPlan =
    GraftSqlExtension.boundSession(spark) match {
      case Some(g) =>
        // translator directly, NOT g.query: READ hooks must fire on
        // query execution, not on every parsePlan/EXPLAIN of the text
        try g.translator.select(Parser.parseSelect(sqlText))
          .queryExecution.logical
        catch {
          // NonFatal only: OOM/stack-overflow/interrupts must surface,
          // not be masked by a delegate re-parse
          case scala.util.control.NonFatal(_) => fallback(sqlText)
        }
      case None => fallback(sqlText)
    }

  override def parsePlan(sqlText: String): LogicalPlan =
    dialectFirst(sqlText, delegate.parsePlan)

  // everything else is pure delegation
  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    dialectFirst(sqlText, delegate.parseQuery)
}
