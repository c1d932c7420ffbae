package graft
/** Scratch plan printer for local iteration:
  * runMain graft.ExplainOne <sfDir> <q1> <q2> ... — the manual
  * companion to the mechanical PlanGuardSpec/PlanAudit checks. */
object ExplainOne {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val spark = GraftSession.builder("4").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    args.tail.foreach { q =>
      println(s"==== $q ====")
      SparkEntry.queries(q)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
