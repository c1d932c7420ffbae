package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session per suite (SURVEY §5 — one lazy SparkSession on
  * local[4], built with the driver's own confs, [[GraftSession]]). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.builder("4").getOrCreate()

  def sf(which: String = "0.001"): String = s"/root/testdata/sf$which"

  /** Runs `body` with the session confs `kv` set, then restores each
    * to its previous value (or unsets it). */
  def withConf[T](kv: (String, String)*)(body: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

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
