/* Bridge into Spark's private[sql] Dataset factory.
 *
 * `classic.Dataset.ofRows` is the only supported way to wrap a raw
 * LogicalPlan (our TopKPerGroup and AsOfJoin nodes) back into a public
 * DataFrame, and it is `private[sql]`. Extension libraries
 * conventionally expose it via a one-method object compiled into the
 * sql package; nothing else of Spark's internals is touched here.
 */
package org.apache.spark.sql.classic

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): Dataset[Row] =
    Dataset.ofRows(spark, plan)
}
