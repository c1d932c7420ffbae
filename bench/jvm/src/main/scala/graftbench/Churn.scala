package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession

/** The table_churn statements against one long-lived `snap.` table.
  * Every statement's parameters come from the run spec; the harness only
  * renders them to SQL, runs them, and keeps the table's bookkeeping
  * (the version each write produced, every file ever seen under the
  * table root) for the time-travel reads and the amplification metrics. */
object Churn {
  val writes: Set[String] = Set("insert", "delete", "update", "merge", "compact")

  def statement(t: String, op: JsonNode, versionAt: Int => Long): String = {
    def p(k: String) = op.get(k).asText
    val ident = t.stripPrefix("snap.")
    op.get("kind").asText match {
      case "insert" => s"INSERT INTO $t SELECT * FROM parquet.`${p("file")}`"
      case "delete" => s"DELETE FROM $t WHERE id BETWEEN ${p("lo")} AND ${p("hi")}"
      case "update" =>
        s"UPDATE $t SET qty = qty + 1, price_c = price_c + 7 WHERE id BETWEEN ${p("lo")} AND ${p("hi")}"
      case "merge" =>
        s"""MERGE INTO $t t USING parquet.`${p("file")}` s ON t.id = s.id
           |WHEN MATCHED THEN UPDATE SET qty = s.qty, price_c = s.price_c
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin
      case "compact" => s"CALL snap.system.compact_deletes('$ident')"
      case "read_head" => s"SELECT count(*) AS n, sum(price_c) AS total FROM $t"
      case "read_point" =>
        s"SELECT count(*) AS n, sum(price_c) AS total FROM $t WHERE id BETWEEN ${p("lo")} AND ${p("hi")}"
      case "read_asof" =>
        s"SELECT count(*) AS n, sum(price_c) AS total FROM $t VERSION AS OF ${versionAt(op.get("at_write").asInt)}"
    }
  }

  /** Run one statement; reads answer "count:sum". */
  def exec(s: SparkSession, sql: String, kind: String): String = {
    val rows = s.sql(sql).collect()
    if (kind.startsWith("read_")) {
      val r = rows.head
      s"${r.getLong(0)}:${if (r.isNullAt(1)) "null" else r.getLong(1).toString}"
    } else ""
  }

  /** Warm every statement kind once on a small table of its own. */
  def warm(s: SparkSession, w: JsonNode): Unit = {
    val t = "snap.default.churn_warm"
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"CREATE TABLE $t TBLPROPERTIES ('graft.mor.key' = 'id') AS " +
      s"SELECT * FROM parquet.`${w.get("seed").asText}`")
    w.get("ops").elements().asScala.foreach { op =>
      try exec(s, statement(t, op, _ => 1L), op.get("kind").asText)
      catch { case _: Throwable => () } // the timed statement reports it
    }
    s.sql(s"DROP TABLE IF EXISTS $t")
  }

  def treeBytes(root: String): Map[String, Long] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Map.empty
    else {
      val walk = Files.walk(p)
      try walk.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => f.toString -> Files.size(f)).toMap
      finally walk.close()
    }
  }
}

final class Churn(spark: SparkSession, spec: JsonNode) {
  var tracer: Option[Tracer] = None
  import Churn._

  private val table = "snap.default.churn"
  private val root = graft.catalog.GraftCatalog.tableRoot(spark, "snap", "default", "churn")
  private val scratch = spec.get("scratch").asText
  private val versions = mutable.ArrayBuffer.empty[Long]
  private val seen = mutable.Map.empty[String, Long]
  private val resolveNs = mutable.ArrayBuffer.empty[Long]
  private val liveFiles = mutable.ArrayBuffer.empty[Int]

  private def plainBytes(sql: String, name: String): Long = {
    val out = s"$scratch/$name"
    spark.sql(sql).coalesce(1).write.mode("overwrite").parquet(out)
    treeBytes(out).collect { case (f, n) if f.endsWith(".parquet") => n }.sum
  }

  /** Create and seed the table (untimed). */
  def create(): Map[String, Any] = {
    val seed = spec.get("seed").asText
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(s"CREATE TABLE $table TBLPROPERTIES ('graft.mor.key' = 'id') AS " +
      s"SELECT * FROM parquet.`$seed`")
    afterWrite()
    val rows = spark.read.parquet(seed).count()
    val bytes = plainBytes(s"SELECT * FROM parquet.`$seed`", "plain_seed")
    Map("seed_rows" -> rows, "seed_plain_bytes" -> bytes, "root" -> root)
  }

  def run(i: Int, op: JsonNode): String = {
    val kind = op.get("kind").asText
    exec(spark, statement(table, op, j => versions(j)), kind)
  }

  def afterOp(kind: String): Unit = if (writes(kind)) afterWrite()

  /** Resolve the head (timed; a span in the traced run), remember its
    * version, and record every file now under the table root. */
  private def afterWrite(): Unit = {
    val t0 = System.nanoTime()
    val snap = graft.sources.Snapshots.resolve(root)
    val t1 = System.nanoTime()
    resolveNs += t1 - t0
    tracer.foreach { tr =>
      tr.add(Span(tr.newId(), "resolve", t0, t1, 0L, tr.op, Map("version" -> snap.map(_.version).getOrElse(0L))))
    }
    versions += snap.map(_.version).getOrElse(0L)
    liveFiles += snap.map(_.files.size).getOrElse(0)
    seen ++= treeBytes(root)
  }

  def finish(): Map[String, Any] = {
    val now = treeBytes(root)
    val head = graft.sources.Snapshots.resolve(root)
    val commits = now.filter { case (f, _) => f.contains("/_commits/") }
    val manifest = head.map(h => f"/_commits/${h.version}%08d.manifest")
    Map(
      "versions" -> head.map(_.version).getOrElse(0L),
      "live_files" -> head.map(_.files.size).getOrElse(0),
      "pending_delete_files" -> head.map(h => h.deletes.size + h.posDeletes.values.map(_.size).sum).getOrElse(0),
      "manifest_bytes_last" -> manifest.flatMap(m => now.collectFirst { case (f, n) if f.endsWith(m) => n }).getOrElse(0L),
      "commit_log_bytes" -> commits.values.sum,
      "pending_delete_bytes" -> head.map(_.deletes.map { d =>
        val p = Paths.get(d.path)
        treeBytes((if (p.isAbsolute) p else Paths.get(root).resolve(p)).toString).values.sum
      }).getOrElse(Nil),
      "bytes_created" -> seen.values.sum,
      "bytes_at_end" -> now.values.sum,
      "live_plain_bytes" -> plainBytes(s"SELECT * FROM $table", "plain_live"),
      "resolve_ns" -> resolveNs.toSeq,
      "write_versions" -> versions.toSeq,
      "write_live_files" -> liveFiles.toSeq)
  }
}
