package org.apache.spark.sql

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types.StructType

/** Test-only bridge into `sql`-private API:
  *  - [[dfOf]]: PlanSpec's global-window audit needs to EXECUTE the
  *    input subtree of each Window node it finds (to measure its row
  *    count across scale factors), and building a Dataset from an
  *    arbitrary LogicalPlan is package-private API;
  *  - [[dfOfInternalRows]] / [[internalRows]]: ConstantRefsSpec feeds
  *    and reads Catalyst's internal values (days, micros, months) so
  *    edge values such as year-1 dates or extreme intervals never go
  *    through the external `java.sql` conversions. `internalRows` runs
  *    under an execution id, which propagates the session's SQL confs
  *    (the codegen factory mode included) to the tasks.
  */
object GraftPlanBridge {
  def dfOf(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(
      spark.asInstanceOf[classic.SparkSession], plan)

  def dfOfInternalRows(spark: SparkSession, rows: Seq[InternalRow],
      schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)

  def internalRows(df: DataFrame): Seq[InternalRow] = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe)(qe.toRdd.map(_.copy()).collect().toSeq)
  }
}
