package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session per suite (SURVEY §5 — one lazy SparkSession on
  * local[4], built with the driver's own confs, [[GraftSession]]). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.builder("4").getOrCreate()

  def sf(which: String = "0.001"): String = s"/root/testdata/sf$which"
}
