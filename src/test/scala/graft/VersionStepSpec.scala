package graft

import graft.catalog.GraftCatalog
import graft.sources.Snapshots
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.Trigger
import scala.jdk.CollectionConverters._

/** The one version-step tailer ([[Snapshots.steps]]): the plain stream,
  * the streaming and batch `.changes` feed and `readChangesRows`
  * classify every commit alike — including a restore that drops delete
  * lines and so un-hides rows — and start alike. */
class VersionStepSpec extends SparkSpec {
  import spark.implicits._

  private lazy val wh = {
    val dir = Qx.tmpOut("vstepwh", sf())
    GraftCatalog.register(spark, "snap", Some(dir))
    dir
  }

  private def sqlDf(q: String) = { wh; spark.sql(q) }

  /** Drains `table` with Trigger.AvailableNow; one row seq per batch
    * that delivered rows, in batch order. */
  private def drain(table: String, opts: Map[String, String]): Seq[Seq[Row]] = {
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Seq[Row])]()
    def sink(df: DataFrame, id: Long): Unit = batches.add(id -> df.collect().toSeq)
    val ckpt = Qx.tmpOut(s"vstepckpt${(table, opts).hashCode.abs}", sf())
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    val q = spark.readStream.options(opts).table(table)
      .writeStream.foreachBatch(sink _)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    batches.asScala.toSeq.sortBy(_._1).map(_._2).filter(_.nonEmpty)
  }

  private def messages(t: Throwable): Seq[String] =
    if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)

  /** v1 inserts ids 0..4, v2 deletes id 2, v3 restores v1 — the
    * restore drops v2's delete and un-hides id 2. Returns the root. */
  private def restoredTable(name: String, mor: (String, String)): String = {
    sqlDf(s"DROP TABLE IF EXISTS snap.default.$name")
    sqlDf(s"CREATE TABLE snap.default.$name (id BIGINT, v BIGINT) " +
      s"TBLPROPERTIES ('${mor._1}'='${mor._2}')")
    sqlDf(s"INSERT INTO snap.default.$name SELECT id, id * 10 FROM range(0, 5)")
    sqlDf(s"DELETE FROM snap.default.$name WHERE id = 2")
    val root = s"$wh/default/$name"
    assert(Snapshots.restore(root, 1L) == 3L)
    root
  }

  private def unHideMatchesRowFeed(name: String, mor: (String, String)): Unit = {
    val root = restoredTable(name, mor)
    val want = Set((2L, 20L, "insert"))
    val rows = Snapshots.readChangesRows(spark, root, 2L, 3L, Seq("id"))
      .select($"id", $"v", $"_change_type").as[(Long, Long, String)].collect().toSet
    assert(rows == want, s"readChangesRows over (2, 3]: $rows")
    val batch = spark.read.option("startingVersion", "2").option("endingVersion", "3")
      .table(s"snap.default.$name.changes")
      .select($"id", $"v", $"_change_type", $"_commit_version")
      .as[(Long, Long, String, Long)].collect().toSet
    assert(batch == Set((2L, 20L, "insert", 3L)), s"batch .changes over (2, 3]: $batch")
    val streamed = drain(s"snap.default.$name.changes", Map("startingVersion" -> "2"))
      .flatten.map(r => (r.getAs[Long]("id"), r.getAs[Long]("v"),
        r.getAs[String]("_change_type"))).toSet
    assert(streamed == want, s"streaming .changes after v2: $streamed")
  }

  test("keyed restore un-hide: batch and streaming .changes emit the row as insert") {
    unHideMatchesRowFeed("vstepkey", "graft.mor.key" -> "id")
  }

  test("positional restore un-hide: batch and streaming .changes emit the row as insert") {
    unHideMatchesRowFeed("vsteppos", "graft.mor.positional" -> "true")
  }

  test("the plain stream refuses a keyed un-hide step, skips it under skipChangeCommits") {
    val root = restoredTable("vstepplain", "graft.mor.key" -> "id")
    val ex = intercept[Exception](drain("snap.default.vstepplain",
      Map("startingVersion" -> "2")))
    assert(messages(ex).exists(_.contains("version 3 of")) &&
      messages(ex).exists(_.contains("data-changing commit")),
      s"expected the change-commit refusal of v3, got: ${messages(ex)}")
    sqlDf("INSERT INTO snap.default.vstepplain VALUES (7, 70)") // v4
    assert(Snapshots.maxCommitted(root) == 4L)
    val rows = drain("snap.default.vstepplain",
      Map("startingVersion" -> "2", "skipChangeCommits" -> "true"))
      .flatten.map(r => (r.getLong(0), r.getLong(1)))
    assert(rows == Seq(7L -> 70L), s"the skipped un-hide must not flow: $rows")
  }

  test(".changes with startingTimestamp starts at the same version as the plain stream") {
    sqlDf("DROP TABLE IF EXISTS snap.default.vstepts")
    sqlDf("CREATE TABLE snap.default.vstepts (id BIGINT, v BIGINT)")
    (1 to 3).foreach(i => sqlDf(s"INSERT INTO snap.default.vstepts VALUES ($i, ${i * 10})"))
    val root = s"$wh/default/vstepts"
    val ts2 = Snapshots.commitTimestamp(root, 2L).get
    val lit = java.time.Instant
      .ofEpochSecond(ts2 / 1000000L, (ts2 % 1000000L) * 1000L)
      .atZone(java.time.ZoneOffset.UTC).toLocalDateTime
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS"))
    val opts = Map("startingTimestamp" -> lit)
    val plain = drain("snap.default.vstepts", opts).flatten.map(_.getLong(0))
    assert(plain == Seq(3L), s"plain stream after v2's instant: $plain")
    val feed = drain("snap.default.vstepts.changes", opts).flatten
      .map(r => r.getAs[Long]("_commit_version") -> r.getAs[Long]("id"))
    assert(feed == Seq(3L -> 3L), s"streaming .changes after v2's instant: $feed")
    val batch = spark.read.options(opts).table("snap.default.vstepts.changes")
      .select($"_commit_version", $"id").as[(Long, Long)].collect().toSeq
    assert(batch == Seq(3L -> 3L), s"batch .changes after v2's instant: $batch")
  }

  test(".changes maxFilesPerTrigger counts the files each step's plan scans") {
    sqlDf("DROP TABLE IF EXISTS snap.default.vsteppace")
    sqlDf("""CREATE TABLE snap.default.vsteppace (id BIGINT, v BIGINT)
            |TBLPROPERTIES ('graft.mor.key'='id')""".stripMargin)
    sqlDf("INSERT INTO snap.default.vsteppace SELECT id, id FROM range(0, 10)") // v1
    sqlDf("INSERT INTO snap.default.vsteppace SELECT id, id FROM range(10, 20)") // v2
    val root = s"$wh/default/vsteppace"
    // the keyed delete (v3) and the restore that drops it (v4) each scan
    // every file of v2's state; the append (v5) scans its own files
    val covered = Snapshots.resolveAt(root, 2L).files.size
    sqlDf("DELETE FROM snap.default.vsteppace WHERE id = 2") // v3
    Snapshots.restore(root, 2L) // v4
    sqlDf("INSERT INTO snap.default.vsteppace VALUES (30, 30)") // v5
    val batches = drain("snap.default.vsteppace.changes",
      Map("startingVersion" -> "2", "maxFilesPerTrigger" -> covered.toString))
      .map(_.map(r => (r.getAs[Long]("_commit_version"), r.getAs[Long]("id"),
        r.getAs[String]("_change_type"))).toSet)
    assert(batches == Seq(Set((3L, 2L, "delete")), Set((4L, 2L, "insert")),
      Set((5L, 30L, "insert"))),
      s"a cap of $covered files must admit one step per batch: $batches")
  }
}
