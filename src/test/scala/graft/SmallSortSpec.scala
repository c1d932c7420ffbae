package graft

import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import graft.plans.SmallSortExec
import org.apache.spark.graftspec.Bus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{ProjectExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.util.QueryExecutionListener

/** [[graft.plans.SmallSortStrategy]]: a result ORDER BY over an input at
  * or under the broadcast threshold plans one [[SmallSortExec]] at the
  * root, which `collect()` sorts on the driver in the child's one job;
  * everything else keeps Spark's range sort. Every spec runs with AQE
  * on and off. */
class SmallSortSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val Threshold = "spark.sql.autoBroadcastJoinThreshold"

  /** Six parquet files of (id, k, v): `k` repeats every 7 ids and is
    * NULL on every 11th, `v` is NULL on every 13th. */
  private lazy val input: String = {
    val dir = Qx.tmpOut("smallsort", sf()) + "/t"
    spark.range(0, 600, 1, 6).selectExpr("id",
      "CASE WHEN id % 11 = 0 THEN NULL ELSE CAST(id % 7 AS INT) END AS k",
      "CASE WHEN id % 13 = 0 THEN NULL ELSE CAST(id * 1.5 AS DOUBLE) END AS v")
      .write.parquet(dir)
    dir
  }

  private def table(): DataFrame = { graft.plans.TopK.ensure(spark); spark.read.parquet(input) }

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** The [[SmallSortExec]] at the root of `plan` (of its final stage
    * under AQE), if the strategy planned one. */
  private def rootSort(plan: SparkPlan): Option[SmallSortExec] =
    Some(stripAQEPlan(plan)).collect { case s: SmallSortExec => s }

  /** The result is sorted by a root [[SmallSortExec]], with no exchange
    * and no range partitioning anywhere in the plan. */
  private def sortedOnDriver(df: DataFrame): Boolean = {
    val plan = df.queryExecution.executedPlan
    rootSort(plan).nonEmpty && !plan.toString.contains("Exchange") &&
      !plan.toString.contains("rangepartitioning")
  }

  /** Jobs `collect()` starts on a fresh frame built by `df`. */
  private def jobsOf(df: () => DataFrame): (Seq[Row], Int) = {
    val jobs = new AtomicInteger()
    val sl = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val d = df()
    d.queryExecution.executedPlan // plan before counting
    Bus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(sl)
    try {
      val rows = d.collect().toSeq
      Bus.drain(spark.sparkContext)
      (rows, jobs.get())
    } finally spark.sparkContext.removeSparkListener(sl)
  }

  for (aqe <- Seq("true", "false")) {
    def withAqe[T](kv: (String, String)*)(body: => T): T =
      withConf(("spark.sql.adaptive.enabled" -> aqe) +: kv: _*)(body)

    test(s"a root ORDER BY under the gate sorts on the driver in one job (AQE $aqe)") {
      val df = () => table().orderBy("k", "id")
      val (small, smallJobs) = withAqe() {
        assert(sortedOnDriver(df()), planOf(df()))
        jobsOf(df)
      }
      val (range, rangeJobs) = withAqe(Threshold -> "-1") {
        assert(planOf(df()).contains("rangepartitioning"), planOf(df()))
        jobsOf(df)
      }
      assert(small == range)
      assert(smallJobs == 1 && rangeJobs > 1, s"jobs: driver sort $smallJobs, range $rangeJobs")
    }

    test(s"a projection over the result sort gathers too (AQE $aqe)") {
      withAqe() {
        val df = table().orderBy("k", "id").select("v")
        assert(sortedOnDriver(df), planOf(df))
        // the projection is folded into the node: no ProjectExec remains
        assert(rootSort(df.queryExecution.executedPlan).get.output.map(_.name) == Seq("v"))
        assert(collect(df.queryExecution.executedPlan) { case p: ProjectExec => p }.isEmpty,
          planOf(df))
        val expected = withConf(Threshold -> "-1")(table().orderBy("k", "id").select("v").collect())
        assert(df.collect().sameElements(expected))
      }
    }

    test(s"threshold -1 or an input above the threshold keeps the range sort (AQE $aqe)") {
      withAqe(Threshold -> "-1") {
        assert(planOf(table().orderBy("k")).contains("rangepartitioning"))
      }
      // the six files are a few KB: a 100-byte gate puts them above it
      withAqe(Threshold -> "100") {
        assert(table().queryExecution.optimizedPlan.stats.sizeInBytes > 100)
        assert(planOf(table().orderBy("k")).contains("rangepartitioning"))
      }
    }

    test(s"ORDER BY … LIMIT still plans TakeOrderedAndProject (AQE $aqe)") {
      withAqe() {
        val plan = planOf(table().orderBy("k", "id").limit(5))
        assert(plan.contains("TakeOrderedAndProject"), plan)
        assert(!plan.contains("SinglePartition"), plan)
      }
    }

    test(s"an input Spark already gathers (a limit) gets no second gather (AQE $aqe)") {
      withAqe() {
        val df = () => table().limit(50).orderBy("k", "id")
        val plan = planOf(df())
        assert("Exchange SinglePartition".r.findAllMatchIn(plan).size == 1, plan)
        assert(!plan.contains("rangepartitioning"), plan)
        assert(df().collect().length == 50)
      }
    }

    test(s"orderBy(…).write keeps the range sort and its file count (AQE $aqe)") {
      val plans = scala.collection.mutable.ArrayBuffer.empty[String]
      val qel = new QueryExecutionListener {
        override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
          plans.synchronized(plans += qe.executedPlan.toString)
        override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
      }
      def write(tag: String): Int = {
        val out = Qx.tmpOut(s"smallsort_$tag$aqe", sf()) + "/w"
        table().orderBy("k", "id").write.parquet(out)
        new java.io.File(out).listFiles().count(_.getName.endsWith(".parquet"))
      }
      // AQE would coalesce the few-KB range shuffle to one file either
      // way; without coalescing the file count shows the range layout
      val noCoalesce = "spark.sql.adaptive.coalescePartitions.enabled" -> "false"
      // drain first: an earlier spec's query must not reach this listener
      Bus.drain(spark.sparkContext)
      spark.listenerManager.register(qel)
      try {
        val files = withAqe(noCoalesce)(write("small"))
        Bus.drain(spark.sparkContext)
        assert(plans.nonEmpty && plans.forall(_.contains("rangepartitioning")),
          plans.mkString("\n"))
        val rangeFiles = withAqe(noCoalesce, Threshold -> "-1")(write("range"))
        assert(files == rangeFiles && files > 1, s"files: $files vs $rangeFiles")
      } finally spark.listenerManager.unregister(qel)
    }

    test(s"rows match the range plan over duplicates and NULLs in every direction (AQE $aqe)") {
      import org.apache.spark.sql.functions.col
      val orders = Seq(
        Seq(col("k").asc_nulls_first, col("id")),
        Seq(col("k").asc_nulls_last, col("id").desc),
        Seq(col("k").desc_nulls_first, col("v").asc_nulls_last, col("id")),
        Seq(col("k").desc_nulls_last, col("v").desc_nulls_first, col("id").desc))
      withAqe() {
        orders.foreach { o =>
          val df = () => table().orderBy(o: _*)
          assert(sortedOnDriver(df()), planOf(df()))
          val expected = withConf(Threshold -> "-1")(df().collect().toSeq)
          assert(df().collect().toSeq == expected, o.mkString(", "))
        }
        // ties on k alone: the key sequence is fixed whichever rows tie
        val keys = (d: DataFrame) => d.orderBy(col("k").desc_nulls_last).select("k").collect().toSeq
        assert(keys(table()) == withConf(Threshold -> "-1")(keys(table())))
      }
    }

    test(s"a cached sort keeps the range sort where the cache keeps its partitioning (AQE $aqe)") {
      withAqe("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "false") {
        val df = table().orderBy("k", "id")
        df.cache()
        try {
          val cached = df.queryExecution.withCachedData.collectFirst {
            case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
          }.getOrElse(fail("not cached"))
          assert(cached.cacheBuilder.cachedPlan.toString.contains("rangepartitioning"),
            cached.cacheBuilder.cachedPlan.toString)
        } finally df.unpersist(blocking = true)
      }
    }

    test(s"toLocalIterator, .rdd and a cache return collect()'s rows in order (AQE $aqe)") {
      import org.apache.spark.sql.functions.col
      val frames = Seq[() => DataFrame](
        () => table().orderBy(col("k").desc_nulls_last, col("id")),
        () => table().orderBy(col("v").asc_nulls_last, col("id").desc).select("v", "id"))
      withAqe("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true") {
        frames.foreach { df =>
          assert(sortedOnDriver(df()), planOf(df()))
          val expected = df().collect().toSeq
          assert(df().toLocalIterator().asScala.toSeq == expected)
          assert(df().rdd.collect().toSeq == expected)
          val cachedDf = df()
          cachedDf.cache()
          try {
            val cached = cachedDf.queryExecution.withCachedData.collectFirst {
              case r: InMemoryRelation => r
            }.getOrElse(fail("not cached"))
            assert(rootSort(cached.cacheBuilder.cachedPlan).nonEmpty,
              cached.cacheBuilder.cachedPlan.toString)
            assert(cachedDf.collect().toSeq == expected)
          } finally cachedDf.unpersist(blocking = true)
        }
      }
    }

    test(s"rand and spark_partition_id over the result sort read as one partition 0 (AQE $aqe)") {
      import org.apache.spark.sql.functions.{col, rand, spark_partition_id}
      withAqe() {
        val df = table().orderBy("k").select(col("id"), rand(7), spark_partition_id())
        assert(sortedOnDriver(df), planOf(df))
        val rows = df.collect().toSeq
        // the values one task with partition index 0 draws, row by row
        val draws = spark.range(0, rows.size, 1, 1).select(rand(7)).collect().map(_.getDouble(0))
        assert(rows.map(_.getDouble(1)) == draws.toSeq)
        assert(rows.forall(_.getInt(2) == 0))
        assert(rows.map(_.getLong(0)).sorted == (0L until 600L))
        val k = (id: Long) => if (id % 11 == 0) -1L else id % 7 // NULLS FIRST
        val keyed = (rs: Seq[Row]) => rs.map(r => (k(r.getLong(0)), r.getDouble(1), r.getInt(2)))
        assert(keyed(rows).map(_._1) == keyed(rows).map(_._1).sorted)
        // execute() gathers into one task and sorts there, and draws the
        // same values; which id takes which place among equal keys is not
        // fixed by Spark, so ids are compared by key
        assert(keyed(df.toLocalIterator().asScala.toSeq) == keyed(rows))
      }
    }
  }

}
