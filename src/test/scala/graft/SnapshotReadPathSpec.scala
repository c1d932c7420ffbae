package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graftspec.Bus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.joins.BaseJoinExec

import graft.sources.Snapshots

/** The explicit `Snapshots.read*` API reads through the catalog relation
  * (`GraftTable`): pins for what that relation learns from the
  * declaration a direct-API root's first commit writes — its schema and
  * the partition columns of `.partitionBy` paths — for the commit-time
  * refusals of files that contradict a declaration, and for pending
  * deletes over those partitions applied by one MOR scan. */
class SnapshotReadPathSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(name: String): String = {
    val root = s"${Qx.tmpOut("readpath", sf())}/default/$name"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    root
  }

  private def batchScans(df: DataFrame): Seq[BatchScanExec] =
    df.queryExecution.executedPlan.collect { case b: BatchScanExec => b }

  test("loading the catalog relation of a direct-API root schedules no Spark job") {
    val flat = freshRoot("flat")
    Snapshots.commit(flat)(out =>
      spark.range(50).select($"id", ($"id" * 2).as("v"))
        .repartition(3).write.mode("append").parquet(out))
    val parted = freshRoot("parted")
    Snapshots.commit(parted)(out =>
      spark.range(50).select($"id", ($"id" % 3).cast("string").as("p"))
        .write.partitionBy("p").mode("append").parquet(out))
    val cat = "snap_readpath"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", Qx.tmpOut("readpath", sf()))
    val jobs = new AtomicInteger()
    val sl = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    /** (schema, jobs) of resolving one table's relation — analysis only. */
    def load(name: String) = {
      Bus.drain(spark.sparkContext)
      jobs.set(0)
      val schema = spark.table(s"$cat.default.$name").schema
      Bus.drain(spark.sparkContext)
      (schema, jobs.get())
    }
    spark.sparkContext.addSparkListener(sl)
    try {
      val (flatSchema, flatJobs) = load("flat")
      assert(flatSchema.fieldNames.toSeq == Seq("id", "v"))
      assert(flatJobs == 0, s"the footer answers the head schema, got $flatJobs job(s)")
      val (partSchema, partJobs) = load("parted")
      assert(partSchema.fieldNames.toSeq == Seq("id", "p"))
      assert(partSchema("p").dataType == org.apache.spark.sql.types.IntegerType,
        "path values type by Spark's partition inference")
      assert(partJobs == 0, s"partition inference stays on the driver, got $partJobs job(s)")
    } finally spark.sparkContext.removeSparkListener(sl)
  }

  /** Messages along a failure's cause chain. */
  private def messages(t: Throwable): Seq[String] =
    Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))

  private def catalogOver(name: String): String = {
    val cat = s"snap_readpath_$name"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", Qx.tmpOut(s"readpath_$name", sf()))
    cat
  }

  test("a column stored as data in one era and as a partitionBy path in another refuses") {
    val root = freshRoot("flatthenparted")
    def rows(r: Seq[Long]) =
      r.toDF("id").select($"id", ($"id" % 3).cast("string").as("p"))
    // era 1 stores p in its data files; era 2 would move p into the path
    val v1 = Snapshots.commit(root)(out => rows(0L until 10L).write.mode("append").parquet(out))
    val e = intercept[Exception](Snapshots.commitAppend(root)(out =>
      rows(10L until 20L).write.partitionBy("p").mode("append").parquet(out)))
    assert(messages(e).exists(_.contains("column p is declared as data but")),
      s"expected the commit-time mixed-layout refusal, got: ${messages(e)}")
    // nothing was published: the flat era reads its stored values
    assert(Snapshots.maxCommitted(root) == v1)
    assert(Snapshots.read(spark, root).as[(Long, String)].collect().toSet ==
      (0L until 10L).map(i => (i, (i % 3).toString)).toSet)
  }

  test("a declared PARTITIONED BY table refuses a flat direct-API commit") {
    val cat = catalogOver("declpart")
    spark.sql(s"DROP TABLE IF EXISTS $cat.default.dp")
    spark.sql(s"CREATE TABLE $cat.default.dp (id BIGINT, side INT) PARTITIONED BY (side)")
    spark.sql(s"INSERT INTO $cat.default.dp SELECT id, CAST(id % 2 AS INT) FROM range(10)")
    val e = intercept[Exception](Snapshots.commitAppend(
        s"${Qx.tmpOut("readpath_declpart", sf())}/default/dp")(out =>
      spark.range(10, 20).select($"id", ($"id" % 2).cast("int").as("side"))
        .write.mode("append").parquet(out)))
    assert(messages(e).exists(_.contains("column side is declared as a path segment but")),
      s"expected the commit-time stored-as-data refusal, got: ${messages(e)}")
    assert(spark.sql(s"SELECT * FROM $cat.default.dp").count() == 10L)
  }

  test("a declared unpartitioned table refuses partitionBy-staged files") {
    val cat = catalogOver("declflat")
    spark.sql(s"DROP TABLE IF EXISTS $cat.default.df")
    spark.sql(s"CREATE TABLE $cat.default.df (id BIGINT, side INT)")
    spark.sql(s"INSERT INTO $cat.default.df SELECT id, CAST(id % 2 AS INT) FROM range(10)")
    val e = intercept[Exception](Snapshots.commitAppend(
        s"${Qx.tmpOut("readpath_declflat", sf())}/default/df")(out =>
      spark.range(10, 20).select($"id", ($"id" % 2).cast("int").as("side"))
        .write.partitionBy("side").mode("append").parquet(out)))
    assert(messages(e).exists(_.contains("column side is declared as data but")),
      s"expected the commit-time identity-layout refusal, got: ${messages(e)}")
    assert(spark.sql(s"SELECT * FROM $cat.default.df").count() == 10L)
  }

  test("pruned reads of a partitionBy root with stacked deletes plan one MOR scan, inline or lazy") {
    val root = freshRoot("prunemor")
    def rows(r: Seq[Long]) =
      r.toDF("id").select($"id", ($"id" % 4).cast("string").as("p"))
    // era 1, then a delete covering it
    Snapshots.commit(root)(out =>
      rows(0L until 40L).write.partitionBy("p").mode("append").parquet(out))
    Snapshots.commitDelete(root, "id")(out =>
      Seq(1L, 5L, 2L).toDF("id").write.mode("append").parquet(out))
    // era 2 re-inserts the deleted key 5; a second delete covers both eras
    Snapshots.commitAppend(root)(out =>
      rows((40L until 60L) :+ 5L).write.partitionBy("p").mode("append").parquet(out))
    Snapshots.commitDelete(root, "id")(out =>
      Seq(9L, 41L).toDF("id").write.mode("append").parquet(out))
    assert(Snapshots.resolve(root).get.deletes.map(_.coversBelow).distinct.size == 2,
      "fixture: two delete eras")
    val expected = Set(13L, 17L, 21L, 25L, 29L, 33L, 37L, 45L, 49L, 53L, 57L, 5L)

    def check(mode: String): Unit = {
      val pruned = Snapshots.readPartitionPruned(spark, root, "p", Seq("1"))
      assert(pruned.select($"id").as[Long].collect().toSet == expected, mode)
      assert(pruned.filter($"p" =!= 1).isEmpty, s"$mode: only p=1 rows")
      val scans = batchScans(pruned)
      assert(scans.size == 1 &&
        scans.head.scan.description().contains(s"delete file(s), $mode keys"),
        s"$mode: one MOR scan expected:\n${pruned.queryExecution.executedPlan}")
      assert(pruned.queryExecution.executedPlan.collect { case j: BaseJoinExec => j }.isEmpty,
        s"$mode: deletes apply inside the scan, not by a join")
    }
    check("inline")
    val key = "spark.graft.mor.inlineDeleteBytes"
    val saved = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "0")
      check("lazy")
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
