package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** Catalog introspection parity with the reference's registration test
  * (test/sql/travel_time.test:16-48): `duckdb_functions()` there,
  * `graft_functions()` here — a table function listing every function name
  * resolvable in the current session (built-ins, injected expressions, and
  * the routing surface), so the reference's
  * `SELECT function_name FROM graft_functions() WHERE function_name = '…'`
  * assertions run verbatim. `typeof` needs no shim: Spark ships it.
  *
  * The listing snapshots the session FunctionRegistry at analysis time —
  * the same moment DuckDB's table function sees its catalog — so a
  * function registered in an earlier statement is visible.
  */
object Introspection {

  private val output = Seq(AttributeReference("function_name", StringType,
    nullable = false)())

  /** The rows: scalar + table function names registered in this session. */
  def plan(spark: SparkSession): LogicalPlan = {
    val st = spark.sessionState
    val names =
      (st.functionRegistry.listFunction() ++
        st.tableFunctionRegistry.listFunction())
        .map(_.funcName).distinct.sorted
    LocalRelation(output, names.map(n => InternalRow(UTF8String.fromString(n))))
  }

  val builder: Seq[Expression] => LogicalPlan = { exprs =>
    if (exprs.nonEmpty)
      throw new IllegalArgumentException(
        s"graft_functions expects no arguments, got ${exprs.length}")
    val spark = SparkSession.getActiveSession.getOrElse(
      throw new IllegalStateException("no active SparkSession"))
    plan(spark)
  }

  /** Per-session install (the zero-code path is GraftExtensions). Both
    * names register: `graft_functions` is this engine's spelling,
    * `duckdb_functions` the host's — so the reference's registration test
    * (test/sql/travel_time.test:16-48) runs VERBATIM.
    */
  def register(spark: SparkSession): Unit =
    Seq("graft_functions", "duckdb_functions").foreach { name =>
      spark.sessionState.tableFunctionRegistry.createOrReplaceTempFunction(
        name, builder, "scala_udf")
    }
}
