package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge between graft's Catalyst expressions and the public Column API.
  * Spark 4 made Column a ColumnNode wrapper; the classic converters are
  * `private[sql]`, so this shim lives in the sql package.
  */
object GraftColumnShim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** EAGER ColumnNode→Expression conversion — for Column chains handed to
    * the FunctionRegistry, where the lazy `ColumnNodeExpression`
    * placeholder `expression` returns would reach the analyzer unresolved
    * (its dataType is VOID until the classic converter runs, so e.g.
    * struct-field extraction on a registered function's result fails).
    */
  def eagerExpression(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  /** DataFrame from a hand-built logical plan (the classic constructor is
    * `private[sql]`) — used by TextAnalysis.spreadInput to inject a
    * round-robin repartition BELOW a narrow chain's per-row projections,
    * directly above the leaf scan.
    */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A frame over an RDD of internal rows — a `LogicalRDD` leaf, with
    * `sizeInBytes` as its statistics so join planning sees the real size.
    */
  def rddFrame(spark: SparkSession, schema: types.StructType,
               rdd: org.apache.spark.rdd.RDD[catalyst.InternalRow], sizeInBytes: Long): DataFrame = {
    val s = spark.asInstanceOf[classic.SparkSession]
    ofRows(s, execution.LogicalRDD(catalyst.types.DataTypeUtils.toAttributes(schema), rdd)(
      s, Some(catalyst.plans.logical.Statistics(sizeInBytes = BigInt(sizeInBytes)))))
  }

  /** Block until every listener event posted so far has been delivered
    * (the listener bus is `private[spark]`): a window read after this sees
    * all of its own jobs' start and end events.
    */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The raw internal RDD behind a checkpointed frame's LogicalRDD leaf,
    * if that is what the frame is. `Dataset.rdd` would hand back the same
    * partitioning but pays a codegen'd row deserializer compile per call
    * — pure driver latency when the caller only wants the partition count
    * and block-storage identity (the stage runner's barrier compaction).
    */
  def leafRdd(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed match {
      case lr: execution.LogicalRDD => Some(lr.rdd)
      case _ => None
    }
}
