package graft

import graft.catalog.{GraftTable, SnapBucket}
import graft.sources.Snapshots
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{IntegerType, StringType}

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** One table kind: the first commit of a direct-API root declares its
  * schema and path columns in `_table.properties`, later commits widen
  * or refuse against that declaration, and every read — the batch head,
  * the plain stream, the `.changes` feed — presents the declaration. */
class DeclarationSpec extends SparkSpec {
  import spark.implicits._

  private lazy val wh = {
    val dir = Qx.tmpOut("declwh", sf())
    spark.conf.set("spark.sql.catalog.snap_decl", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.snap_decl.warehouse", dir)
    dir
  }

  private def freshRoot(name: String): String = {
    val root = s"$wh/default/$name"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    root
  }

  private def messages(t: Throwable): Seq[String] =
    if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)

  /** Drains `table` with Trigger.AvailableNow; every delivered row. */
  private def drain(table: String, opts: Map[String, String]): Seq[Row] = {
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[Row]()
    def sink(df: DataFrame, id: Long): Unit = rows.addAll(df.collect().toSeq.asJava)
    val ckpt = Qx.tmpOut(s"declckpt${(table, opts).hashCode.abs}", sf())
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    val q = spark.readStream.options(opts).table(table)
      .writeStream.foreachBatch(sink _)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    rows.asScala.toSeq
  }

  test("Snapshots.read presents a column an append added, NULL in the older files") {
    val root = freshRoot("addcol")
    Snapshots.commit(root)(out =>
      spark.range(4).select($"id").write.mode("append").parquet(out))
    Snapshots.commitAppend(root)(out =>
      spark.range(4, 6).select($"id", lit("x").as("extra")).write.mode("append").parquet(out))
    val head = Snapshots.read(spark, root)
    assert(head.columns.toSeq == Seq("id", "extra"))
    assert(head.as[(Long, Option[String])].collect().toSet ==
      (0L until 4L).map(_ -> None).toSet ++ Set(4L -> Some("x"), 5L -> Some("x")))
    assert(GraftTable.readMeta(root).get._1.fieldNames.toSeq == Seq("id", "extra"),
      "the append widened the declaration")
  }

  test("the plain stream and both .changes forms serve a direct-API partitionBy root") {
    val root = freshRoot("pstream")
    def rows(r: Seq[Long]) = r.toDF("id").select($"id", ($"id" % 3).as("p"))
    Snapshots.commit(root)(out =>
      rows(0L until 6L).write.partitionBy("p").mode("append").parquet(out))
    Snapshots.commitAppend(root)(out =>
      rows(6L until 9L).write.partitionBy("p").mode("append").parquet(out))
    val all = (0L until 9L).map(i => (i, i % 3)).toSet
    val later = (6L until 9L).map(i => (i, i % 3)).toSet
    def idp(r: Row) = (r.getAs[Long]("id"), r.getAs[Number]("p").longValue)
    assert(drain("snap_decl.default.pstream", Map.empty).map(idp).toSet == all)
    val batch = spark.read.option("startingVersion", "1").option("endingVersion", "2")
      .table("snap_decl.default.pstream.changes")
      .select($"id", $"p".cast("long"), $"_change_type").as[(Long, Long, String)]
      .collect().toSet
    assert(batch == later.map { case (i, p) => (i, p, "insert") }, s"batch .changes: $batch")
    val streamed = drain("snap_decl.default.pstream.changes", Map("startingVersion" -> "1"))
      .map(idp).toSet
    assert(streamed == later, s"streaming .changes: $streamed")
  }

  test("an append that changes a column's type is refused at commit; the head stays readable") {
    val root = freshRoot("retype")
    Snapshots.commit(root)(out =>
      spark.range(3).select($"id", $"id".cast("int").as("v")).write.mode("append").parquet(out))
    val e = intercept[Exception](Snapshots.commitAppend(root)(out =>
      spark.range(3, 5).select($"id", $"id".cast("string").as("v"))
        .write.mode("append").parquet(out)))
    assert(messages(e).exists(m => m.contains("column v is declared int") &&
      m.contains("stores string") && m.contains(".parquet")), messages(e))
    assert(Snapshots.maxCommitted(root) == 1L)
    assert(Snapshots.read(spark, root).as[(Long, Int)].collect().toSet ==
      Set(0L -> 0, 1L -> 1, 2L -> 2))
  }

  test("a path segment whose value is not of the declared type is refused at commit; the head stays readable") {
    val root = freshRoot("retypepath")
    Snapshots.commit(root)(out => (0L until 6L).toDF("id").select($"id", ($"id" % 3).as("p"))
      .write.partitionBy("p").mode("append").parquet(out))
    assert(Snapshots.read(spark, root).schema("p").dataType == IntegerType)
    for (bad <- Seq("a", "1.5")) {
      val e = intercept[Exception](Snapshots.commitAppend(root)(out =>
        Seq(6L).toDF("id").select($"id", lit(bad).as("p"))
          .write.partitionBy("p").mode("append").parquet(out)))
      assert(messages(e).exists(m => m.contains("column p is declared int") &&
        m.contains(s"p=$bad") && m.contains(".parquet")), messages(e))
    }
    assert(Snapshots.maxCommitted(root) == 1L, "a refused commit publishes nothing")
    Snapshots.commitAppend(root)(out => Seq(6L).toDF("id").select($"id", lit("7").as("p"))
      .write.partitionBy("p").mode("append").parquet(out))
    assert(Snapshots.read(spark, root).select($"id", $"p".cast("long")).as[(Long, Long)].collect().toSet ==
      (0L until 6L).map(i => i -> i % 3).toSet + (6L -> 7L))
  }

  test("a branch commit that adds a column is refused; main's declaration is unchanged") {
    val root = freshRoot("branchcol")
    Snapshots.commit(root)(out => spark.range(3).write.mode("append").parquet(out))
    Snapshots.createBranch(root, "b")
    val e = intercept[Exception](Snapshots.commitToBranch(root, "b")(out =>
      spark.range(3, 5).select($"id", lit("x").as("extra")).write.mode("append").parquet(out)))
    assert(messages(e).exists(m => m.contains("branch 'b'") && m.contains("extra")), messages(e))
    assert(GraftTable.readMeta(root).get._1.fieldNames.toSeq == Seq("id"))
    assert(Snapshots.branchHead(root, "b") == 1L, "the refused branch commit published nothing")
    assert(Snapshots.read(spark, root).columns.toSeq == Seq("id"))
  }

  test("a staged file that is not readable parquet is refused at commit, naming it") {
    val root = freshRoot("garbage")
    Snapshots.commit(root)(out => spark.range(3).write.mode("append").parquet(out))
    val e = intercept[Exception](Snapshots.commitAppend(root) { out =>
      Files.createDirectories(Paths.get(out))
      Files.write(Paths.get(out, "part-00000-junk.parquet"), "not parquet".getBytes("UTF-8"))
    })
    assert(messages(e).exists(m => m.contains("part-00000-junk.parquet") &&
      m.contains("is not readable parquet")), messages(e))
    assert(Snapshots.maxCommitted(root) == 1L)
    assert(Snapshots.read(spark, root).count() == 3L)
  }

  test("racing first commits with different schemas: one declaration lands, no manifest without it") {
    (1 to 3).foreach { round =>
      val root = freshRoot(s"race$round")
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      // both writers reach the commit check together, once (a retry
      // after a lost race must not wait for a partner)
      def writer(vType: String) = new java.util.concurrent.Callable[Either[Throwable, Long]] {
        private val first = new java.util.concurrent.atomic.AtomicBoolean(true)
        def call() = try Right(Snapshots.commitAppend(root) { out =>
          spark.range(3).select($"id", $"id".cast(vType).as("v")).write.mode("append").parquet(out)
          if (first.getAndSet(false)) barrier.await(60, java.util.concurrent.TimeUnit.SECONDS)
        }) catch { case t: Throwable => Left(t) }
      }
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      val outcomes = try pool.invokeAll(Seq(writer("int"), writer("string")).asJava)
        .asScala.map(_.get()).toSeq
      finally pool.shutdown()
      val won = outcomes.zip(Seq(IntegerType, StringType)).collect { case (Right(_), t) => t }
      assert(won.size == 1, s"round $round: exactly one commit lands: $outcomes")
      outcomes.collect { case Left(t) => t }.foreach(t =>
        assert(messages(t).exists(_.contains("column v is declared")), messages(t)))
      val (schema, _) = GraftTable.readMeta(root).get
      assert(schema("v").dataType == won.head, s"round $round: the winner's declaration")
      assert(Snapshots.maxCommitted(root) == 1L)
      assert(Snapshots.read(spark, root).count() == 3L)
    }
  }

  test("a _table.properties without a parseable schema refuses by file name, at read and commit") {
    val root = freshRoot("badmeta")
    Snapshots.commit(root)(out => spark.range(3).write.mode("append").parquet(out))
    val f = Paths.get(root, GraftTable.metaFile)
    def refusedByName(body: => Any): Unit = {
      val e = intercept[Exception](body)
      assert(messages(e).exists(m => m.contains(f.toString) &&
        m.contains("graft.schema.json")), messages(e))
    }
    for (text <- Seq("graft.schema.json={not json\n", "graft.mor.key=id\n")) {
      Files.write(f, text.getBytes("UTF-8"))
      refusedByName(GraftTable.readMeta(root))
      refusedByName(Snapshots.commitAppend(root)(out =>
        spark.range(3, 6).write.mode("append").parquet(out)))
      assert(Snapshots.maxCommitted(root) == 1L, "a refused commit publishes nothing")
    }
  }

  test("Snapshots.commit refuses an unstamped INT-keyed bucket root, as the catalog does") {
    spark.sql("DROP TABLE IF EXISTS snap_decl.default.ibucket")
    spark.sql("CREATE TABLE snap_decl.default.ibucket (k INT, v STRING) " +
      "PARTITIONED BY (bucket(4, k))")
    spark.sql("INSERT INTO snap_decl.default.ibucket VALUES (1, 'a')")
    val root = s"$wh/default/ibucket"
    val (sc, props) = GraftTable.readMeta(root).get
    GraftTable.writeMeta(root, sc, props - SnapBucket.hashVerProp)
    val e = intercept[Exception](Snapshots.commitAppend(root)(out =>
      Seq((2, "b")).toDF("k", "v").write.mode("append").parquet(out)))
    assert(messages(e).exists(m => m.contains("retired form") &&
      m.contains(SnapBucket.hashVerProp)), messages(e))
    assert(Snapshots.maxCommitted(root) == 1L)
  }

  test("a fast-forward onto a refused target manifest raises the refusal naming it") {
    val root = freshRoot("ffretired")
    Snapshots.commit(root)(out => spark.range(3).write.mode("append").parquet(out))
    Snapshots.createBranch(root, "b")
    Snapshots.commitToBranch(root, "b")(out =>
      spark.range(3, 6).write.mode("append").parquet(out))
    // main's version 2 in a retired form: the v1 manifest without its
    // `#ts:` header
    val commits = Paths.get(root, "_commits")
    val target = commits.resolve("00000002.manifest")
    Files.write(target, Files.readAllLines(commits.resolve("00000001.manifest"))
      .asScala.filterNot(_.startsWith("#ts:")).asJava)
    val e = intercept[Exception](Snapshots.fastForward(root, "b"))
    assert(!e.isInstanceOf[java.util.ConcurrentModificationException], e)
    assert(messages(e).exists(m => m.contains(target.toString) &&
      m.contains("retired form")), messages(e))
  }
}
