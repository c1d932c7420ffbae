package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session per suite (SURVEY §5 — one lazy SparkSession on
  * local[4], built with the driver's own confs, [[GraftSession]]). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.builder("4").getOrCreate()

  def sf(which: String = "0.001"): String = s"/root/testdata/sf$which"

  /** The data files a DataFrame's executed plan scans, as plain local
    * paths (the manifest's form): every DSv2 batch scan's input
    * partitions, unwrapped through the MOR partitions, adaptive
    * plans included. Spark's own `Dataset.inputFiles` sees only V1 file
    * relations, so it reads empty on a snapshot-table relation. */
  def plannedFiles(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import org.apache.spark.sql.execution.datasources.FilePartition
    def unwrap(p: Any): Seq[String] = p match {
      case fp: FilePartition => fp.files.map(_.toPath.toUri.getPath).toSeq
      case prod: Product => prod.productIterator.flatMap(unwrap).toSeq // MorPartition etc.
      case _ => Nil
    }
    new AdaptiveSparkPlanHelper {}.collect(df.queryExecution.executedPlan) {
      case b: BatchScanExec => b
    }.flatMap(_.inputPartitions).flatMap(unwrap)
  }
}
