package graft
/** Scratch per-query timer for local iteration: runMain graft.TimeOne <sfDir> <q1> <q2> ...
  * Each pass runs `collect()`, as a user does (a `.count()` would let
  * Spark drop the result ORDER BY). Repeat a query name for extra timed passes. Set SPARK_GRAFT_PROFILE=1
  * to print per-Spark-job wall time + callsite during the timed passes
  * (guide §1.5 job labelling — shows where a multi-statement fixture
  * spends its seconds without the UI). */
object TimeOne {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    // SPARK_GRAFT_CONF="k=v;k2=v2" — scratch conf A/B without a rebuild,
    // applied over the shared session confs
    val b0 = GraftSession.builder(GraftSession.defaultCpus)
    val spark = sys.env.get("SPARK_GRAFT_CONF").iterator
      .flatMap(_.split(';')).filter(_.contains('='))
      .foldLeft(b0) { (b, kv) =>
        val Array(k, v) = kv.split("=", 2); b.config(k, v)
      }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm each distinct query once at the timed scale: per-path memos
    // (Tables.load's footer schema) then fill here, so a key's counted
    // pass does not depend on which keys ran before it
    args.tail.distinct.foreach { q => SparkEntry.queries(q)(spark, sfDir).collect() }
    val profile = sys.env.get("SPARK_GRAFT_PROFILE").contains("1")
    @volatile var t0 = 0L
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val execStarts = new java.util.concurrent.ConcurrentHashMap[Long, (Long, String)]()
    if (profile) spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          val site = Option(j.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("?")
          starts.put(j.jobId, (System.nanoTime(), site))
        }
        override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          Option(starts.remove(j.jobId)).foreach { case (s, site) =>
            println(f"  job ${j.jobId}%3d ${(System.nanoTime() - s) / 1e9}%6.3f s  +${(s - t0) / 1e9}%6.3f  $site")
          }
        }
        override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
          case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
            execStarts.put(s.executionId,
              (System.nanoTime(), s.description.linesIterator.next().take(90)))
          case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd =>
            Option(execStarts.remove(s.executionId)).foreach { case (st, d) =>
              println(f"  SQL ${s.executionId}%3d ${(System.nanoTime() - st) / 1e9}%6.3f s  +${(st - t0) / 1e9}%6.3f  $d")
            }
          case _ => ()
        }
      })
    // PROFILE=2: poor-man's sampling profiler — sample the main thread
    // every 20 ms during the timed passes and print a frame histogram
    // (attributes driver-side time: Catalyst analysis vs commit vs
    // waiting on executors) plus per-stage task metrics.
    val sample2 = sys.env.get("SPARK_GRAFT_PROFILE").contains("2")
    val hist = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val mainThread = Thread.currentThread()
    @volatile var sampling = false
    if (sample2) {
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onStageCompleted(sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
            val si = sc.stageInfo
            val m = si.taskMetrics
            if (sampling) println(f"  stage ${si.stageId}%3d tasks=${si.numTasks}%3d run=${m.executorRunTime / 1e3}%6.2f cpu=${m.executorCpuTime / 1e9}%6.2f gc=${m.jvmGCTime / 1e3}%5.2f fetch=${m.shuffleReadMetrics.fetchWaitTime / 1e3}%5.2f ${si.name.take(60)}")
          }
        })
      // executor-side: sample every task-launch worker thread too —
      // attributes the per-task CPU (local mode: same JVM)
      val eHist = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
      val tE = new Thread(() => {
        while (true) {
          if (sampling) {
            import scala.jdk.CollectionConverters._
            Thread.getAllStackTraces.asScala.foreach { case (th, st) =>
              if (th.getName.startsWith("Executor task launch") &&
                  th.getState == Thread.State.RUNNABLE && st.nonEmpty) {
                val key = st.find { f =>
                  val c = f.getClassName
                  (c.startsWith("graft.") || c.startsWith("org.apache.spark") ||
                   c.startsWith("org.apache.parquet")) &&
                  !c.contains("Executor") && !c.contains("TaskRunner")
                }.map(f => f.getClassName.replaceAll("\\$.*", "") + "." + f.getMethodName)
                  .getOrElse(st.head.getClassName.take(70) + "." + st.head.getMethodName)
                eHist.merge(key, 1, (a, b) => a + b)
              }
            }
          }
          Thread.sleep(7)
        }
      })
      tE.setDaemon(true); tE.start()
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        import scala.jdk.CollectionConverters._
        if (!eHist.isEmpty) {
          println("== executor-thread sample histogram (7 ms, RUNNABLE only) ==")
          eHist.asScala.toSeq.sortBy(-_._2).take(25).foreach { case (k, n) =>
            println(f"  $n%5d  $k") }
        }
      }))
      val t = new Thread(() => {
        while (true) {
          if (sampling) {
            // thread STATE first: a WAITING/TIMED_WAITING main thread is
            // blocked on executors (or a queue), whatever frames it holds
            // — only RUNNABLE samples count as driver CPU work
            val state = mainThread.getState
            val st = mainThread.getStackTrace
            if (st.nonEmpty) {
              val blocked = state == Thread.State.WAITING ||
                state == Thread.State.TIMED_WAITING ||
                state == Thread.State.BLOCKED
              // classify by the first "interesting" frame
              val key = st.find { f =>
                val c = f.getClassName
                c.startsWith("graft.") || c.contains("catalyst.analysis") ||
                c.contains("catalyst.optimizer") || c.contains("RuleExecutor") ||
                c.contains("QueryExecution") || c.contains("awaitReady") ||
                c.contains("FileFormatWriter") || c.contains("DAGScheduler") ||
                c.contains("ParquetFileFormat") || c.contains("classic.Dataset") ||
                c.contains("SparkPlanInfo") || c.contains("SparkPlan")
              }.map(f => f.getClassName.replaceAll("\\$.*", "") + "." + f.getMethodName)
                .getOrElse(st.head.getClassName.take(60) + "." + st.head.getMethodName)
              val k = if (blocked) "WAIT (blocked main)" else s"CPU $key"
              hist.merge(k, 1, (a, b) => a + b)
            }
          }
          Thread.sleep(5)
        }
      })
      t.setDaemon(true); t.start()
    }
    // PROFILE=3: deterministic cost counters — jobs/stages/tasks and
    // summed executor run/CPU time per timed pass. Wall time on this
    // box swings ±3× with host-side load waves; these counters are
    // noise-free and move only when the CODE changes shape, so they are
    // the A/B currency (wall-clock validated on full bench medians).
    val count3 = sys.env.get("SPARK_GRAFT_PROFILE").contains("3")
    val cJobs = new java.util.concurrent.atomic.AtomicLong
    val cStages = new java.util.concurrent.atomic.AtomicLong
    val cTasks = new java.util.concurrent.atomic.AtomicLong
    val cRunMs = new java.util.concurrent.atomic.AtomicLong
    val cCpuNs = new java.util.concurrent.atomic.AtomicLong
    if (count3) spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          cJobs.incrementAndGet()
        override def onStageCompleted(sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          cStages.incrementAndGet()
          cTasks.addAndGet(sc.stageInfo.numTasks)
          cRunMs.addAndGet(sc.stageInfo.taskMetrics.executorRunTime)
          cCpuNs.addAndGet(sc.stageInfo.taskMetrics.executorCpuTime)
        }
      })
    args.tail.foreach { q =>
      Seq(cJobs, cStages, cTasks, cRunMs, cCpuNs).foreach(_.set(0))
      t0 = System.nanoTime()
      sampling = true
      SparkEntry.queries(q)(spark, sfDir).collect()
      sampling = false
      val wall = (System.nanoTime() - t0) / 1e9
      if (count3) {
        // stage events land asynchronously; give the bus a beat to drain
        Thread.sleep(150)
        println(f"COUNTS $q jobs=${cJobs.get}%3d stages=${cStages.get}%3d " +
          f"tasks=${cTasks.get}%4d run=${cRunMs.get / 1e3}%7.2f s " +
          f"cpu=${cCpuNs.get / 1e9}%7.2f s wall=$wall%.3f s")
      }
      println(f"TIMED $q $wall%.3f s")
    }
    if (sample2) {
      import scala.jdk.CollectionConverters._
      println("== main-thread sample histogram (5 ms) ==")
      hist.asScala.toSeq.sortBy(-_._2).take(30).foreach { case (k, n) =>
        println(f"  $n%5d  $k")
      }
    }
    spark.stop()
  }
}
