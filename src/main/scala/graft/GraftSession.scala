package graft

import org.apache.spark.sql.SparkSession

/** The one session configuration every graft entry point builds with:
  * Verify (the driver's correctness run), Bench, TimeOne, ExplainOne,
  * PlanAudit, StreamDemo and the specs' shared session. A plan a spec
  * or the audit checks is therefore a plan the driver really runs. */
object GraftSession {

  /** The entry points' core count: `SPARK_GRAFT_CPUS`, else every
    * available processor. The spec session, PlanAudit and ExplainOne
    * keep a fixed `4`, so the plans they check stay machine-independent. */
  def defaultCpus: String =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)

  /** A `local[cpus]` session builder carrying the shared confs. */
  def builder(cpus: String): SparkSession.Builder = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus)
    // UTC on the session itself (not only via build.sbt javaOptions),
    // so timestamp literals resolve alike however a main is launched
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    // AQE coalescing for cached plans: a guard-persisted slice
    // otherwise pins 32 map partitions onto every consumer stage
    .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
    // Sort-based shuffle even at low reducer counts: the bypass-merge
    // writer opens one temp file PER REDUCER per map task and then
    // concatenates them — M·R stream creations per shuffle (profiled
    // at ~60% of executor CPU on the pair-join queries). The
    // serialized sort writer emits one file per map task.
    .config("spark.shuffle.sort.bypassMergeThreshold", "1")
}
