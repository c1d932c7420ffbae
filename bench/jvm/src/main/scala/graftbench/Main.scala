package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The benchmark's JVM side. `run.py` generates every input, writes a
  * run spec, and starts this main once per run:
  *
  *   Main catalog <out.json>          dump query keys per module + oracle SQL
  *   Main run <spec.json> <out.json>  set up, run the timed loop, report
  *
  * A run builds the session with exactly the confs `graft.Bench` sets,
  * installs the graft extensions and warms the workload's operations once
  * on the small warm inputs (the set-up, timed from JVM start), runs
  * `warmup_rounds` untimed rounds of the schedule, then `rounds` timed
  * rounds, one closed loop with one client, starting no round after
  * `seconds`. A traced run mixes untraced and traced timed rounds (the
  * listeners are installed for the traced ones only), so its tracing
  * overhead is measured against rounds of the same JVM. Checking each
  * result (digest, model answer, table bookkeeping) happens between
  * operations, outside their timed interval, and its time and CPU are
  * subtracted from the phase totals. */
object Main {
  /** Query modules by layer, as named in the per-layer metrics. */
  val modules: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] = Seq(
    "sources.Scans" -> graft.sources.Scans.queries.filter { case (k, _) =>
      k.startsWith("scan_") || k == "register_view_sql" },
    "operators.Projections" -> graft.operators.Projections.queries,
    "operators.Joins" -> graft.operators.Joins.queries,
    "operators.SetOps" -> graft.operators.SetOps.queries,
    "operators.Aggs" -> graft.operators.Aggs.queries,
    "operators.Windows" -> graft.operators.Windows.queries,
    "functions.Scalars" -> graft.functions.Scalars.queries,
    "functions.Udfs" -> graft.functions.Udfs.queries,
    "domain.DomainQueries" -> graft.domain.DomainQueries.queries,
    "operators.TextOps" -> graft.operators.TextOps.queries,
    "operators.SimOps" -> graft.operators.SimOps.queries)

  def main(args: Array[String]): Unit = args.toList match {
    case "catalog" :: out :: Nil =>
      val doc = Map(
        "modules" -> modules.map { case (m, q) => m -> q.keys.toSeq.sorted }.toMap,
        "oracle" -> graft.SparkEntry.oracleSql)
      Files.writeString(Paths.get(out), Json.render(doc))
    case "run" :: spec :: out :: Nil =>
      val report = new Run(Json.read(spec)).execute()
      Files.writeString(Paths.get(out), Json.render(report))
    case _ =>
      System.err.println("usage: Main catalog <out.json> | Main run <spec.json> <out.json>")
      sys.exit(2)
  }

  /** The session confs `graft.Bench` sets, in its order. */
  def sessionConfs(cpus: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    "spark.shuffle.sort.bypassMergeThreshold" -> "1")

  /** A fixed CPU loop that touches nothing of the engine: its time shows
    * how fast the host runs right now. It is recorded, never used to
    * scale a metric. */
  def probeMs(): Double = {
    val t0 = System.nanoTime()
    var x = 88172645463325252L
    var acc = 0L
    var i = 0
    while (i < 70000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += x
      i += 1
    }
    if (acc == 42) println("")
    (System.nanoTime() - t0) / 1e6
  }
}

/** One operation's outcome as the harness saw it. */
final case class OpRecord(i: Int, kind: String, key: String, cls: String,
    start: Long, end: Long, ok: Boolean, error: String, result: String,
    warmup: Boolean, traced: Boolean) {
  def toMap: Map[String, Any] = Map("i" -> i, "kind" -> kind, "key" -> key,
    "class" -> cls, "start_ns" -> start, "end_ns" -> end, "ok" -> ok,
    "error" -> error, "result" -> result, "warmup" -> warmup, "traced" -> traced)
}

final class Run(spec: JsonNode) {
  import Main._

  private val workload = spec.get("workload").asText
  private val traced = spec.get("trace").asBoolean
  private val seconds = spec.get("seconds").asDouble
  private val cpus = spec.get("cpus").asInt
  private val dataDir = spec.get("data_dir").asText
  private val warmDir = spec.get("warm_dir").asText
  private def strs(n: JsonNode): Seq[String] =
    if (n == null) Nil else n.elements().asScala.map(_.asText).toSeq
  private val keys = strs(spec.get("keys"))
  private val schedule: IndexedSeq[JsonNode] =
    spec.get("schedule").elements().asScala.toIndexedSeq
  private val queries = graft.SparkEntry.queries
  private val threads = ManagementFactory.getThreadMXBean
  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  // time and CPU the harness spends checking results inside the timed phase
  private var checkNs = 0L
  private var checkCpuNs = 0L

  private def newSession(): SparkSession = {
    val s = sessionConfs(cpus).foldLeft(
      SparkSession.builder().master(s"local[$cpus]")) { case (b, (k, v)) =>
        b.config(k, v) }.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // the graft extensions (TopK, AsOf, vec_dot) and the snap catalog
    graft.plans.TopK.ensure(s)
    if (workload == "table_churn") graft.catalog.GraftCatalog.register(s, "snap",
      Some(spec.get("warehouse").asText))
    s
  }

  /** Run every operation of the workload once on the warm inputs. A
    * failure here is left for the timed operation to report. */
  private def warm(s: SparkSession): Unit = workload match {
    case "table_churn" => Churn.warm(s, spec.get("warm"))
    case _ =>
      graft.Qx.inParallel(keys) { k =>
        try queries(k)(s, warmDir).collect() catch { case _: Throwable => () }
        ()
      }
  }

  /** Run whole rounds of the schedule from op `from` up to op `until`,
    * starting no new round after `deadline` (nanoTime); returns the index
    * after the last operation run. */
  private def loop(spark: SparkSession, from: Int, until: Int, deadline: Long,
      warmup: Boolean, tracer: Option[Tracer], churn: Option[Churn],
      records: mutable.ArrayBuffer[OpRecord],
      perOp: mutable.ArrayBuffer[Map[String, Any]]): Int = {
    val round = spec.get("round").asInt
    val end = math.min(schedule.size, until)
    var i = from
    while (i < end && ((i - from) % round != 0 || System.nanoTime() < deadline)) {
      val op = schedule(i)
      val kind = op.get("kind").asText
      tracer.foreach { tr => tr.op = i; tr.counters = new OpCounters; tr.opSpan = tr.newId() }
      val st = System.nanoTime()
      var rows: Array[org.apache.spark.sql.Row] = null
      var schema: org.apache.spark.sql.types.StructType = null
      var result = ""
      val err = try {
        if (kind == "query") {
          val df = queries(op.get("key").asText)(spark, dataDir)
          rows = df.collect()
          schema = df.schema
        } else result = churn.get.run(i, op)
        null
      } catch { case e: Throwable => s"${e.getClass.getName}: ${e.getMessage}".take(500) }
      val en = System.nanoTime()
      val c0 = threads.getCurrentThreadCpuTime
      if (rows != null) result = Digest.of(schema, rows)
      rows = null
      val key = if (kind == "query") op.get("key").asText else kind
      val cls = if (Churn.writes(kind)) "write" else "read"
      records += OpRecord(i, kind, key, cls, st, en, err == null, err, result, warmup,
        tracer.isDefined)
      churn.foreach(_.afterOp(kind))
      tracer.foreach { tr =>
        tr.drain()
        tr.add(Span(tr.opSpan, "op", st, en, 0L, i, Map("key" -> key, "class" -> cls)))
        perOp += tr.counters.toMap ++ Map("i" -> i)
      }
      checkCpuNs += threads.getCurrentThreadCpuTime - c0
      checkNs += System.nanoTime() - en
      i += 1
    }
    i
  }

  /** Heap in use after full collections, once Spark's context cleaner
    * has released what the collections made unreachable. */
  private def liveHeap(): Long = {
    val mem = ManagementFactory.getMemoryMXBean
    var last = Long.MaxValue
    var used = 0L
    var n = 0
    while (n < 6) {
      System.gc()
      Thread.sleep(100)
      used = mem.getHeapMemoryUsage.getUsed
      if (used >= last - (1L << 20)) n = 6 else { last = used; n += 1 }
    }
    used
  }

  def execute(): Map[String, Any] = {
    // the set-up: from JVM start until the session is built, the
    // extensions are installed and every operation has run once
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = newSession()
    warm(spark)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val probe = Seq.fill(3)(probeMs()).sorted

    val churn = if (workload == "table_churn")
      Some(new Churn(spark, spec.get("churn"))) else None
    val pre: Map[String, Any] = churn.map(_.create()).getOrElse(Map.empty)

    val records = mutable.ArrayBuffer.empty[OpRecord]
    val perOp = mutable.ArrayBuffer.empty[Map[String, Any]]
    // warm-up rounds at the workload's own scale: untimed, still checked
    val round = spec.get("round").asInt
    var i = loop(spark, 0, round * spec.get("warmup_rounds").asInt, Long.MaxValue,
      warmup = true, None, churn, records, perOp)
    // timed rounds; a traced run orders them untraced, traced, traced,
    // untraced, so a trend across rounds (JIT warming, the churn table's
    // growing history) weighs on both halves alike
    val tracer = if (traced) Some(new Tracer(spark)) else None
    val rounds = spec.get("rounds").asInt
    System.gc()
    checkNs = 0L
    checkCpuNs = 0L
    val cpu0 = osBean.getProcessCpuTime
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    var r = 0
    while (r < rounds && System.nanoTime() < deadline) {
      val on = if (traced && (r % 4 == 1 || r % 4 == 2)) tracer else None
      on.foreach(_.install())
      churn.foreach(_.tracer = on)
      i = loop(spark, i, i + round, deadline, warmup = false, on, churn, records, perOp)
      on.foreach(_.uninstall())
      r += 1
    }
    val wall = System.nanoTime() - t0
    val cpu = osBean.getProcessCpuTime - cpu0 - checkCpuNs
    val heap = liveHeap()
    val post: Map[String, Any] = churn.map(_.finish()).getOrElse(Map.empty)
    val vec: Map[String, Any] = spec.get("vec_dot") match {
      case v if v != null && traced => VecDot.measure(spark, v.get("path").asText,
        v.get("left").asInt, v.get("right").asInt, tracer.get)
      case _ => Map.empty
    }

    val sc = spark.sparkContext
    val report = Map[String, Any](
      "workload" -> workload,
      "traced" -> traced,
      "setup_s" -> setupS,
      "probe_ms" -> probe,
      "session_confs" -> (Seq("spark.master" -> s"local[$cpus]") ++ sessionConfs(cpus)).toMap,
      "jdk" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
      "spark" -> sc.version,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "timed_wall_ns" -> wall,
      "cpus" -> cpus,
      "check_ns" -> checkNs,
      "cpu_ns" -> cpu,
      "live_heap_bytes" -> heap,
      "ops" -> records.map(_.toMap),
      "op_counters" -> perOp,
      "churn_pre" -> pre,
      "churn" -> post,
      "vec_dot" -> vec,
      "spans" -> tracer.map(_.all.map(_.toMap)).getOrElse(Nil))
    spark.stop()
    report
  }
}
