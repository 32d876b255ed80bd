package graft.torch

import scala.util.matching.Regex

import org.apache.spark.sql.{Row, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{DataType, DoubleType, FloatType, StructType}

/**
 * SQL surface for the reference's `FunctionFactory` DDL
 * (reference src/lib.rs:23-100):
 *
 * {{{
 *   CREATE FUNCTION iris(FLOAT[]) RETURNS FLOAT[] LANGUAGE TORCH
 *   AS 'model/iris.spt'
 * }}}
 *
 * A delegating parser: statements matching the TORCH DDL shape compile
 * to [[CreateTorchFunctionCommand]]; everything else falls through to
 * the stock parser. Install via
 * `spark.sql.extensions=graft.torch.TorchExtensions` or
 * `SparkSession.builder().withExtensions(new TorchExtensions)`.
 *
 * Defaults mirror the reference: missing arg type -> FLOAT
 * (lib.rs:41-42); missing RETURNS -> same as the arg type
 * (lib.rs:46-49).
 */
object TorchDdl {
  private val pattern: Regex =
    ("""(?is)\s*CREATE\s+FUNCTION\s+([A-Za-z_][A-Za-z0-9_]*)\s*""" +
      """\(\s*(?:([A-Za-z]+)\s*\[\s*\])?\s*\)\s*""" +
      """(?:RETURNS\s+([A-Za-z]+)\s*\[\s*\]\s*)?""" +
      """LANGUAGE\s+TORCH\s+AS\s+'([^']+)'\s*;?\s*""").r

  private def itemType(name: String): DataType = name.toUpperCase match {
    case "FLOAT" | "REAL" => FloatType
    case "DOUBLE" => DoubleType
    case other =>
      throw new IllegalArgumentException(
        s"unsupported TORCH function item type: $other (expected FLOAT or DOUBLE)")
  }

  /** Some(command) when the statement is a TORCH CREATE FUNCTION. */
  def parse(sqlText: String): Option[CreateTorchFunctionCommand] = sqlText match {
    case pattern(name, argT, retT, url) =>
      val in = Option(argT).map(itemType).getOrElse(FloatType)
      val out = Option(retT).map(itemType).getOrElse(in)
      Some(CreateTorchFunctionCommand(name, url, in, out))
    case _ => None
  }
}

/** Runs at execution time on the driver: loads + broadcasts the model,
  * registers the UDF (the Spark analogue of RegisterFunction::Scalar,
  * reference src/lib.rs:98). */
case class CreateTorchFunctionCommand(
    name: String,
    url: String,
    inputType: DataType,
    returnType: DataType) extends LeafRunnableCommand {
  override def output: Seq[Attribute] = Seq.empty
  override def run(session: SparkSession): Seq[Row] = {
    Torch.createFunction(session, name, url, inputType, returnType)
    Seq.empty
  }
}

class TorchSqlParser(delegate: ParserInterface) extends ParserInterface {
  override def parsePlan(sqlText: String): LogicalPlan =
    TorchDdl.parse(sqlText).getOrElse(delegate.parsePlan(sqlText))

  override def parseExpression(sqlText: String): Expression = delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan = delegate.parseQuery(sqlText)
  override def parseTableSchema(sqlText: String): StructType = delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType = delegate.parseDataType(sqlText)
  override def parseRoutineParam(sqlText: String): StructType = delegate.parseRoutineParam(sqlText)
}

/** `spark.sql.extensions` entry point. Also registers `argmax` so an
  * extension-configured session matches the reference's
  * `configure_context` bootstrap (reference src/lib.rs:118-137), and
  * plans final sorts without a stage of their own ([[graft.SmallSort]])
  * and graft's logical nodes ([[graft.PushBelowStride]],
  * [[graft.GraftStrategy]]). */
class TorchExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectParser((_, delegate) => new TorchSqlParser(delegate))
    ext.injectFunction(graft.functions.ArgMax.descriptor)
    ext.injectOptimizerRule(_ => graft.SmallSort)
    ext.injectOptimizerRule(_ => graft.PushBelowStride)
    ext.injectPlannerStrategy(_ => graft.GraftStrategy)
  }
}
