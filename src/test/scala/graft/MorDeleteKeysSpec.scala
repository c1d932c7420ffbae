package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graftspec.Bus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.catalog.GraftCatalog
import graft.sources.Snapshots

/** The merge-on-read delete-key loader: one session-free parquet reader
  * serves the inline sets (built on the driver at scan-build time) and
  * the lazy sets (built on executors), memoized per delete file under
  * its identity and the declared key types. Pins: a widened key
  * reloads instead of answering from a narrow cached set; DECIMAL and
  * BINARY keys filter the same rows on both sides of the inline gate;
  * an unsupported key type fails loudly; and a MOR read plans without
  * a nested Spark execution. */
class MorDeleteKeysSpec extends SparkSpec {
  import spark.implicits._

  private val gateKey = "spark.graft.mor.inlineDeleteBytes"

  private lazy val wh = {
    val dir = Qx.tmpOut("morkeys", sf())
    GraftCatalog.register(spark, "snap", Some(dir))
    dir
  }

  private def sqlDf(q: String) = { wh; spark.sql(q) }

  /** `q`'s rows (as strings, sorted) read inline and with the gate at
    * "0" (every key set lazy), plus the MOR scan's description of each
    * — the two reads must agree. */
  private def bothModes(q: String): Seq[String] = {
    def run(): (Seq[String], String) = {
      val df = sqlDf(q)
      val plan = df.queryExecution.executedPlan.toString
      (df.collect().map(_.toString).toSeq.sorted, plan)
    }
    val (inline, inlinePlan) = run()
    val (lazyRows, lazyPlan) = withConf(gateKey -> "0")(run())
    assert(inlinePlan.contains("inline keys"), inlinePlan)
    assert(lazyPlan.contains("lazy keys"), lazyPlan)
    assert(inline == lazyRows, s"inline $inline vs lazy $lazyRows")
    inline
  }

  test("a lazy key set reloads at the widened type after ALTER COLUMN in the same JVM") {
    sqlDf("DROP TABLE IF EXISTS snap.default.mkwiden")
    sqlDf("CREATE TABLE snap.default.mkwiden (d DATE, v BIGINT) " +
      "TBLPROPERTIES ('graft.mor.key'='d')")
    sqlDf("""INSERT INTO snap.default.mkwiden
            |SELECT date_add(DATE'2026-03-01', CAST(id AS INT)), id
            |FROM range(20)""".stripMargin)
    sqlDf("DELETE FROM snap.default.mkwiden WHERE v < 5")
    withConf(gateKey -> "0") {
      // loads (and memoizes) the delete file's keys as DATE epoch days
      assert(sqlDf("SELECT v FROM snap.default.mkwiden").as[Long].collect().sorted
        .toSeq == (5L until 20L))
      sqlDf("ALTER TABLE snap.default.mkwiden ALTER COLUMN d TYPE TIMESTAMP_NTZ")
      // the same unchanged delete file must now answer TIMESTAMP_NTZ
      // micros: a set memoized under (path, key names) alone would
      // still hold epoch days, no row would match, and the deleted
      // rows would come back
      assert(sqlDf("SELECT v FROM snap.default.mkwiden").as[Long].collect().sorted
        .toSeq == (5L until 20L))
    }
  }

  test("DECIMAL keys filter the same rows inline and lazy, across a precision widening") {
    sqlDf("DROP TABLE IF EXISTS snap.default.mkdec")
    sqlDf("CREATE TABLE snap.default.mkdec (k DECIMAL(10,2), v BIGINT) " +
      "TBLPROPERTIES ('graft.mor.key'='k')")
    sqlDf("INSERT INTO snap.default.mkdec " +
      "SELECT CAST(id / 4 AS DECIMAL(10,2)), id FROM range(40)")
    sqlDf("DELETE FROM snap.default.mkdec WHERE v % 3 = 0")
    val q = "SELECT k, v FROM snap.default.mkdec"
    assert(bothModes(q).size == 26)
    // DECIMAL(10,2) stages INT64 keys; past 18 digits new deletes stage
    // fixed-length bytes — both decode at the declared DECIMAL(20,2)
    sqlDf("ALTER TABLE snap.default.mkdec ALTER COLUMN k TYPE DECIMAL(20,2)")
    sqlDf("DELETE FROM snap.default.mkdec WHERE v % 5 = 0")
    val rows = bothModes(q)
    val expect = (0L until 40L).filterNot(v => v % 3 == 0 || v % 5 == 0)
    assert(rows == expect.map(v => s"[${BigDecimal(v / 4.0).setScale(2)},$v]")
      .sorted, rows)
  }

  test("BINARY keys compare by content inline and lazy; an unsupported key type fails loudly") {
    sqlDf("DROP TABLE IF EXISTS snap.default.mkbin")
    sqlDf("CREATE TABLE snap.default.mkbin (k BINARY, v BIGINT) " +
      "TBLPROPERTIES ('graft.mor.key'='k')")
    sqlDf("INSERT INTO snap.default.mkbin SELECT CAST(CAST(id AS STRING) AS BINARY), id " +
      "FROM range(30)")
    sqlDf("DELETE FROM snap.default.mkbin WHERE v >= 10")
    val rows = bothModes("SELECT v FROM snap.default.mkbin")
    assert(rows == (0 until 10).map(v => s"[$v]").sorted, rows)
    // an ARRAY key has no set form: both modes refuse, neither filters
    sqlDf("DROP TABLE IF EXISTS snap.default.mkarr")
    sqlDf("CREATE TABLE snap.default.mkarr (k ARRAY<INT>, v BIGINT) " +
      "TBLPROPERTIES ('graft.mor.key'='k')")
    sqlDf("INSERT INTO snap.default.mkarr SELECT array(CAST(id AS INT)), id FROM range(10)")
    sqlDf("DELETE FROM snap.default.mkarr WHERE v < 3")
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => String.valueOf(x.getMessage) +: messages(x.getCause))
    Seq("8m", "0").foreach { gate =>
      val e = intercept[Exception](withConf(gateKey -> gate)(
        sqlDf("SELECT v FROM snap.default.mkarr").collect()))
      assert(messages(e).exists(_.contains("not supported by the delete-key loader")),
        s"gate $gate: ${messages(e)}")
    }
  }

  test("a MOR count(*) over stacked delete files runs one SQL execution and no extra job") {
    sqlDf("DROP TABLE IF EXISTS snap.default.mkcount")
    sqlDf("CREATE TABLE snap.default.mkcount (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('graft.mor.key'='k')")
    sqlDf("INSERT INTO snap.default.mkcount SELECT id, id FROM range(100)")
    Seq("k < 10", "k BETWEEN 20 AND 29", "k BETWEEN 40 AND 49")
      .foreach(p => sqlDf(s"DELETE FROM snap.default.mkcount WHERE $p"))
    val root = s"$wh/default/mkcount"
    assert(Snapshots.resolve(root).get.deletes.size >= 3)

    val execs = new AtomicInteger()
    val jobs = new AtomicInteger()
    val qel = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        execs.incrementAndGet()
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        execs.incrementAndGet()
    }
    val sl = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    /** (rows, SQL executions, jobs) of one count(*) read. */
    def counted(): (Long, Int, Int) = {
      Bus.drain(spark.sparkContext)
      execs.set(0); jobs.set(0)
      val n = sqlDf("SELECT count(*) FROM snap.default.mkcount").as[Long].head()
      Bus.drain(spark.sparkContext)
      (n, execs.get(), jobs.get())
    }
    spark.listenerManager.register(qel)
    spark.sparkContext.addSparkListener(sl)
    // the manifest-served count(*) declines on pending deletes but
    // answers a delete-free head with no job at all: off, so every
    // read below plans the scan it is compared on
    try withConf("spark.graft.aggPushdown.enabled" -> "false") {
      val (n3, e3, j3) = counted()
      assert(n3 == 70L && e3 == 1, s"3 delete files: rows $n3, SQL executions $e3")
      sqlDf("CALL snap.system.compact_deletes('default.mkcount')").collect()
      assert(Snapshots.resolve(root).get.deletes.size == 1)
      val (n1, e1, j1) = counted()
      assert(n1 == 70L && e1 == 1 && j1 == j3,
        s"1 delete file: rows $n1, SQL executions $e1, jobs $j1 vs $j3")
      sqlDf("CALL snap.system.compact('default.mkcount')").collect()
      assert(Snapshots.resolve(root).get.deletes.isEmpty)
      val (n0, e0, j0) = counted()
      assert(n0 == 70L && e0 == 1 && j0 == j3,
        s"no delete file: rows $n0, SQL executions $e0, jobs $j0 vs $j3")
    } finally {
      spark.listenerManager.unregister(qel)
      spark.sparkContext.removeSparkListener(sl)
    }
  }
}
