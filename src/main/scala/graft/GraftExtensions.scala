package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal => CatalystLiteral}
import org.apache.spark.sql.types.IntegerType

import graft.ice.transform.BucketExpr
import graft.ops.{MinhashExpr, ShinglesExpr}

/** SQL surface for the library's codegen expressions (SURVEY §2.10,
  * custom-operator path (c)): registered either per-session via
  * `GraftFunctions.register(spark)` or at session build time via
  * `spark.sql.extensions=graft.GraftExtensions`. Gives plain SQL users
  *   SELECT iceberg_bucket(o_orderkey, 16), graft_minhash(text, 3, 64)
  * with the same whole-stage-codegen plans as the Column API. */
object GraftFunctions {

  private def intLit(e: Expression, what: String): Int = e match {
    case CatalystLiteral(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("iceberg_bucket"),
      new ExpressionInfo(classOf[BucketExpr].getName, "iceberg_bucket"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "usage: iceberg_bucket(col, numBuckets)")
        BucketExpr(children.head, intLit(children(1), "numBuckets"))
      }),
    (FunctionIdentifier("graft_minhash"),
      new ExpressionInfo(classOf[MinhashExpr].getName, "graft_minhash"),
      (children: Seq[Expression]) => {
        require(children.size == 3, "usage: graft_minhash(text, shingleN, k)")
        MinhashExpr(children.head, intLit(children(1), "shingleN"),
          intLit(children(2), "k"))
      }),
    (FunctionIdentifier("graft_shingles"),
      new ExpressionInfo(classOf[ShinglesExpr].getName, "graft_shingles"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "usage: graft_shingles(text, n)")
        ShinglesExpr(children.head, intLit(children(1), "n"))
      }),
    (FunctionIdentifier("graft_zvalue"),
      new ExpressionInfo(classOf[graft.ice.transform.ZValueExpr].getName, "graft_zvalue"),
      (children: Seq[Expression]) => {
        require(children.nonEmpty, "usage: graft_zvalue(col1, col2, ...)")
        graft.ice.transform.ZValueExpr(children)
      }))

  /** Register on an already-built session. */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (ident, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(ident, info, builder)
    }
}

/** `spark.sql.extensions` entry point: the codegen function surface
  * plus the DDL Spark's grammar lacks (partition evolution, refs, write
  * order, identifier fields; see GraftSqlParser). Tables resolve through
  * a registered [[graft.ice.connector.GraftCatalogPlugin]] catalog
  * whether or not these extensions are installed. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.functions.foreach(ext.injectFunction)
    // partition-evolution DDL that Spark's grammar lacks
    ext.injectParser((_, parser) => new GraftSqlParser(parser))
  }
}
