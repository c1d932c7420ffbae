package graft

import graft.catalog.GraftCatalog
import graft.sources.Snapshots

/** Round-15 hardening pins: the dropped-column chain ledger (a
  * rename-then-drop must not split a straddling time-travel read into
  * half-null spellings). */
class Round15OpsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val wh = {
    val dir = Qx.tmpOut("r15wh", sf())
    GraftCatalog.register(spark, "snap", Some(dir))
    dir
  }

  private def sqlDf(q: String) = { wh; spark.sql(q) }

  test("rename-then-DROP keeps the chain: straddling time travel still coalesces") {
    sqlDf("DROP TABLE IF EXISTS snap.default.rdrop")
    sqlDf("""CREATE TABLE snap.default.rdrop AS
            |SELECT id AS k, CAST(id * 10 AS DOUBLE) AS amount FROM range(5)""".stripMargin)
    sqlDf("ALTER TABLE snap.default.rdrop RENAME COLUMN amount TO price")
    // version 2 STRADDLES the rename: files carry both spellings
    sqlDf("INSERT INTO snap.default.rdrop VALUES (100, 999.0)")
    sqlDf("ALTER TABLE snap.default.rdrop DROP COLUMN price")
    // head: the column is gone
    assert(sqlDf("SELECT * FROM snap.default.rdrop").columns.toSeq == Seq("k"))
    // the straddling version still owns the column; its files carry
    // `amount` (pre-rename) and `price` (post) — the dropped chain must
    // coalesce them under the newest spelling, never a union schema
    val v2 = sqlDf("SELECT * FROM snap.default.rdrop VERSION AS OF 2")
    assert(v2.columns.toSeq == Seq("k", "price"),
      s"straddling version must present ONE spelling, got ${v2.columns.toSeq}")
    assert(sqlDf("SELECT sum(price) FROM snap.default.rdrop VERSION AS OF 2")
      .as[Double].head() == 1099.0,
      "pre-rename rows must stay populated after the column is dropped at head")
    // pre-rename version unaffected: original name, original values
    assert(sqlDf("SELECT sum(amount) FROM snap.default.rdrop VERSION AS OF 1")
      .as[Double].head() == 100.0)
    // every spelling of the dropped chain RE-ADDS legally since r18:
    // the physical remap keeps the dead bytes dead under BOTH spellings
    sqlDf("ALTER TABLE snap.default.rdrop ADD COLUMN amount DOUBLE")
    sqlDf("ALTER TABLE snap.default.rdrop ADD COLUMN price DOUBLE")
    assert(sqlDf("SELECT count(amount), count(price) FROM snap.default.rdrop")
      .collect().head.toSeq == Seq(0L, 0L),
      "re-added spellings must NOT resurface the dropped chain's bytes")
    // a full copy-on-write rewrite clears the dropchain ledger with the
    // rest (DELETE routes through the row-level rewrite commit, which
    // owns the ledger clear)
    sqlDf("DELETE FROM snap.default.rdrop WHERE k >= 100")
    val props = graft.catalog.GraftTable
      .readMeta(GraftCatalog.tableRoot(spark, "snap", "default", "rdrop")).get._2
    assert(!props.keys.exists(_.startsWith("graft.col.dropchain.")),
      s"dropchain ledger must clear after a full rewrite: $props")
  }

  test("readChangesRows: append-only fast path, exact row diff across rewrite and MOR delete") {
    import org.apache.spark.sql.functions._
    val root = s"${Qx.tmpOut("r15cdf", sf())}/store"
    val p = java.nio.file.Paths.get(root)
    if (java.nio.file.Files.exists(p)) {
      val walk = java.nio.file.Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.toSeq.reverse.foreach(java.nio.file.Files.delete)
      } finally walk.close()
    }
    def df(r: Range, bump: Long = 0) =
      spark.range(r.start, r.end).select($"id".as("k"), ($"id" * 10 + bump).as("v"))
    Snapshots.commit(root)(out => df(0 until 5).write.mode("append").parquet(out))
    val v2 = Snapshots.commitAppend(root)(out =>
      df(5 until 8).write.mode("append").parquet(out))
    // append-only range: fast path, pure inserts, O(delta) input
    val fast = Snapshots.readChangesRows(spark, root, 1L, v2, Seq("k"))
    assert(fast.select($"_change_type").distinct().as[String].collect().toSeq
      == Seq("insert"))
    assert(fast.select($"k").as[Long].collect().sorted.toSeq == (5L until 8L))
    val added = Snapshots.changedFiles(root, 1L, v2).toSet
    assert(plannedFiles(fast).nonEmpty, "the append-only feed must plan its files")
    assert(plannedFiles(fast).forall(f => added.contains(f.stripPrefix("file://"))),
      s"append-only feed must read only the added files: ${plannedFiles(fast)} vs $added")
    // rewrite: delete k<2, update v for k>=6
    val post = Snapshots.read(spark, root).filter($"k" >= 2)
      .withColumn("v", when($"k" >= 6, $"v" + 1).otherwise($"v"))
    val v3 = Snapshots.commit(root)(out => post.write.mode("append").parquet(out))
    val feed = Snapshots.readChangesRows(spark, root, v2, v3, Seq("k"))
      .select($"_change_type", $"k", $"v").as[(String, Long, Long)].collect().toSet
    assert(feed == Set(
      ("delete", 0L, 0L), ("delete", 1L, 10L),
      ("update_pre", 6L, 60L), ("update_post", 6L, 61L),
      ("update_pre", 7L, 70L), ("update_post", 7L, 71L)),
      s"rewrite-spanning feed must be the exact row diff: $feed")
    // a MOR delete commit adds no files but IS a change: row-level path
    val v4 = Snapshots.commitDelete(root, "k")(out =>
      spark.range(2, 4).select($"id".as("k")).write.mode("append").parquet(out))
    val feed2 = Snapshots.readChangesRows(spark, root, v3, v4, Seq("k"))
      .select($"_change_type", $"k").as[(String, Long)].collect().toSet
    assert(feed2 == Set(("delete", 2L), ("delete", 3L)),
      s"MOR delete range must surface the deleted rows: $feed2")
    // spanning everything from 0: pure insert view of the final state
    val all = Snapshots.readChangesRows(spark, root, 0L, v4, Seq("k"))
    assert(all.filter($"_change_type" =!= "insert").isEmpty)
    assert(all.count() == 4) // k in 4..7 survive
  }

  test("per-file stats pruning: inputFiles shrinks, results identical, stats carry forward") {
    import org.apache.spark.sql.functions._
    val root = s"${Qx.tmpOut("r15stats", sf())}/store"
    val p = java.nio.file.Paths.get(root)
    if (java.nio.file.Files.exists(p)) {
      val walk = java.nio.file.Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.toSeq.reverse.foreach(java.nio.file.Files.delete)
      } finally walk.close()
    }
    // 8 range-clustered files with tight disjoint k-bounds
    Snapshots.commit(root)(out =>
      spark.range(800).select($"id".as("k"),
        concat(lit("s"), lpad($"id".cast("string"), 4, "0")).as("s"),
        ($"id" * 1.5).as("v"))
        .repartitionByRange(8, $"k").sortWithinPartitions($"k")
        .write.mode("append").parquet(out))
    val full = Snapshots.read(spark, root)
    val pruned = Snapshots.readStatsPruned(spark, root, "k", Some(110L), Some(180L))
    assert(plannedFiles(pruned).length < plannedFiles(full).length,
      s"selective range must skip files: ${plannedFiles(pruned).length} of ${plannedFiles(full).length}")
    assert(pruned.filter($"k".between(110, 180)).select($"k").as[Long].collect().sorted.toSeq
      == (110L to 180L),
      "pruning must never lose a matching row")
    // string bounds prune in UTF8 order too
    val sp = Snapshots.readStatsPruned(spark, root, "s", Some("s0110"), Some("s0180"))
    assert(plannedFiles(sp).length < plannedFiles(full).length)
    assert(sp.filter($"s" >= "s0110" && $"s" <= "s0180").count() == 71)
    // a column with no recorded stats never prunes
    assert(plannedFiles(Snapshots.readStatsPruned(spark, root, "nope", Some(1L), Some(2L)))
      .length == plannedFiles(full).length)
    // stats survive an append (carried lines) and compose with the new
    // commit's own stats
    Snapshots.commitAppend(root)(out =>
      spark.range(800, 1000).select($"id".as("k"),
        concat(lit("s"), lpad($"id".cast("string"), 4, "0")).as("s"),
        ($"id" * 1.5).as("v"))
        .repartitionByRange(2, $"k").sortWithinPartitions($"k")
        .write.mode("append").parquet(out))
    val pruned2 = Snapshots.readStatsPruned(spark, root, "k", Some(850L), None)
    assert(plannedFiles(pruned2).length < plannedFiles(Snapshots.read(spark, root)).length)
    assert(pruned2.filter($"k" >= 850).count() == 150)
    // MOR deletes compose on the kept files
    Snapshots.commitDelete(root, "k")(out =>
      spark.range(900, 910).select($"id".as("k")).write.mode("append").parquet(out))
    assert(Snapshots.readStatsPruned(spark, root, "k", Some(850L), None)
      .filter($"k" >= 850).count() == 140)
  }

  test("evolved scans keep pushdown and vectorization: plain scan off renamed columns, columnar coalesce on them") {
    sqlDf("DROP TABLE IF EXISTS snap.default.r15ev")
    sqlDf("""CREATE TABLE snap.default.r15ev AS
            |SELECT id AS k, CAST(id * 10 AS DOUBLE) AS amount,
            |       CASE WHEN id = 3 THEN CAST(NULL AS STRING)
            |            ELSE CONCAT('n', id) END AS note
            |FROM range(5)""".stripMargin)
    sqlDf("ALTER TABLE snap.default.r15ev RENAME COLUMN amount TO price")
    sqlDf("INSERT INTO snap.default.r15ev VALUES (100, 999.0, 'post')")
    // 1. a query touching NO renamed column elides the wrapper: plain
    //    vectorized parquet scan, predicate pushed
    val q1 = sqlDf("SELECT k, note FROM snap.default.r15ev WHERE k >= 3")
    val p1 = q1.queryExecution.executedPlan.toString
    assert(!p1.contains("rename-aware"),
      s"no renamed column requested → no wrapper:\n$p1")
    assert(p1.contains("GreaterThanOrEqual(k,3)"),
      s"predicate must push to the parquet scan:\n$p1")
    assert(q1.count() == 3)
    // 2. touching the renamed column: the wrapper engages, stays
    //    COLUMNAR, and the era-invariant predicate still pushes
    val q2 = sqlDf("SELECT k, price, note FROM snap.default.r15ev WHERE k >= 1")
    val p2 = q2.queryExecution.executedPlan.toString
    assert(p2.contains("rename-aware"), p2)
    assert(p2.contains("GreaterThanOrEqual(k,1)"),
      s"era-invariant predicate must push through the rename wrapper:\n$p2")
    assert(p2.contains("ColumnarToRow"),
      s"the coalescing read must stay columnar:\n$p2")
    val rows = q2.orderBy("k").collect().map(r =>
      (r.getLong(0), r.getDouble(1), Option(r.getString(2)))).toSeq
    assert(rows == Seq(
      (1L, 10.0, Some("n1")), (2L, 20.0, Some("n2")), (3L, 30.0, None),
      (4L, 40.0, Some("n4")), (100L, 999.0, Some("post"))),
      s"columnar coalesce must fold eras exactly (incl. legit NULLs): $rows")
    // 3. a predicate ON the renamed column is NOT forwarded (old files
    //    lack the spelling) but still answers exactly
    assert(sqlDf("SELECT sum(price) FROM snap.default.r15ev WHERE price >= 20")
      .as[Double].head() == 1089.0)
    // 4. MOR path: pending deletes + pushed era-invariant predicate
    sqlDf("DROP TABLE IF EXISTS snap.default.r15evm")
    sqlDf("""CREATE TABLE snap.default.r15evm (k BIGINT, v DOUBLE)
            |TBLPROPERTIES ('graft.mor.key'='k')""".stripMargin)
    sqlDf("INSERT INTO snap.default.r15evm SELECT id, CAST(id AS DOUBLE) FROM range(10)")
    sqlDf("DELETE FROM snap.default.r15evm WHERE k < 2")
    val q3 = sqlDf("SELECT k, v FROM snap.default.r15evm WHERE v >= 5.0")
    val p3 = q3.queryExecution.executedPlan.toString
    assert(p3.contains("MOR scan"), p3)
    assert(p3.contains("1 delete file(s), inline keys"),
      s"the MOR scan must name its key-set mode and delete-file count:\n$p3")
    assert(p3.contains("GreaterThanOrEqual(v,5.0)"),
      s"era-invariant predicate must push into the MOR era scans:\n$p3")
    assert(q3.as[(Long, Double)].collect().toSet ==
      (5L until 10L).map(i => i -> i.toDouble).toSet)
  }

  test("ALTER COLUMN type widening: head upcasts, time travel keeps narrow types, unsafe rejected") {
    import org.apache.spark.sql.types._
    sqlDf("DROP TABLE IF EXISTS snap.default.r15w")
    sqlDf("""CREATE TABLE snap.default.r15w AS
            |SELECT CAST(id AS INT) AS k, CAST(id * 1.5 AS FLOAT) AS f,
            |       CAST(id AS DECIMAL(5,2)) AS d
            |FROM range(5)""".stripMargin)
    sqlDf("ALTER TABLE snap.default.r15w ALTER COLUMN k TYPE BIGINT")
    sqlDf("ALTER TABLE snap.default.r15w ALTER COLUMN f TYPE DOUBLE")
    sqlDf("ALTER TABLE snap.default.r15w ALTER COLUMN d TYPE DECIMAL(12,2)")
    sqlDf("INSERT INTO snap.default.r15w VALUES (100, 2.5, 42.00)")
    val head = sqlDf("SELECT * FROM snap.default.r15w")
    assert(head.schema.map(_.dataType) ==
      Seq(LongType, DoubleType, DecimalType(12, 2)))
    assert(sqlDf("SELECT sum(k) FROM snap.default.r15w").as[Long].head() == 110L)
    assert(sqlDf("SELECT sum(f) FROM snap.default.r15w").as[Double].head() == 17.5)
    // filters over the widened column still push down and match
    assert(sqlDf("SELECT k FROM snap.default.r15w WHERE k = 3").as[Long].head() == 3L)
    // pre-widening version presents its own (narrow) footer schema
    val v1 = sqlDf("SELECT * FROM snap.default.r15w VERSION AS OF 1")
    assert(v1.schema.map(_.dataType) ==
      Seq(IntegerType, FloatType, DecimalType(5, 2)),
      s"pre-widening version must keep narrow types: ${v1.schema.simpleString}")
    // a STRADDLING version (narrow + wide files) presents the wide type
    val v2 = sqlDf("SELECT * FROM snap.default.r15w VERSION AS OF 2")
    assert(v2.schema.map(_.dataType) ==
      Seq(LongType, DoubleType, DecimalType(12, 2)),
      s"straddling version must widen: ${v2.schema.simpleString}")
    assert(sqlDf("SELECT sum(k) FROM snap.default.r15w VERSION AS OF 2")
      .as[Long].head() == 110L)
    // unsafe promotions are rejected
    intercept[Exception](
      sqlDf("ALTER TABLE snap.default.r15w ALTER COLUMN k TYPE INT"))
    intercept[Exception](
      sqlDf("ALTER TABLE snap.default.r15w ALTER COLUMN f TYPE FLOAT"))
    intercept[Exception](
      sqlDf("ALTER TABLE snap.default.r15w ALTER COLUMN d TYPE DECIMAL(12,4)"))
    intercept[Exception](
      sqlDf("ALTER TABLE snap.default.r15w ALTER COLUMN k TYPE STRING"))
  }

  test("type widening composes with RENAME and with pending MOR delete keys") {
    sqlDf("DROP TABLE IF EXISTS snap.default.r15wr")
    sqlDf("""CREATE TABLE snap.default.r15wr AS
            |SELECT CAST(id AS INT) AS amount FROM range(5)""".stripMargin)
    sqlDf("ALTER TABLE snap.default.r15wr RENAME COLUMN amount TO price")
    sqlDf("ALTER TABLE snap.default.r15wr ALTER COLUMN price TYPE BIGINT")
    sqlDf("INSERT INTO snap.default.r15wr VALUES (1000)")
    // pre-rename narrow files coalesce under the new name AND upcast
    assert(sqlDf("SELECT sum(price) FROM snap.default.r15wr").as[Long].head() == 1010L)
    // r16: a column keying PENDING merge-on-read deletes MAY widen —
    // the loaders upcast the staged narrow keys to the declared type
    sqlDf("DROP TABLE IF EXISTS snap.default.r15wm")
    sqlDf("""CREATE TABLE snap.default.r15wm (k INT, v STRING)
            |TBLPROPERTIES ('graft.mor.key'='k')""".stripMargin)
    sqlDf("INSERT INTO snap.default.r15wm VALUES (1,'a'), (2,'b')")
    sqlDf("DELETE FROM snap.default.r15wm WHERE k = 1")
    sqlDf("ALTER TABLE snap.default.r15wm ALTER COLUMN k TYPE BIGINT")
    assert(sqlDf("SELECT k, v FROM snap.default.r15wm").as[(Long, String)]
      .collect().toSet == Set(2L -> "b"),
      "the pre-widening delete must still hide k=1 after the ALTER")
    // and a post-widening delete composes with the pre-widening one
    sqlDf("INSERT INTO snap.default.r15wm VALUES (3000000000, 'c'), (4,'d')")
    sqlDf("DELETE FROM snap.default.r15wm WHERE k = 3000000000")
    assert(sqlDf("SELECT k FROM snap.default.r15wm").as[Long]
      .collect().toSet == Set(2L, 4L),
      "narrow- and wide-staged delete files must both scope")
  }

  test("readStream.table tails snapshot commits exactly-once across restart") {
    import org.apache.spark.sql.streaming.Trigger
    sqlDf("DROP TABLE IF EXISTS snap.default.r15src")
    sqlDf("CREATE TABLE snap.default.r15src (k BIGINT, v STRING)")
    sqlDf("INSERT INTO snap.default.r15src VALUES (1,'a'), (2,'b')")
    sqlDf("INSERT INTO snap.default.r15src VALUES (3,'c')")
    val out = Qx.tmpOut("r15srcout", sf())
    val ckpt = Qx.tmpOut("r15srcckpt", sf())
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    def run(extra: Map[String, String] = Map.empty) = {
      val q = spark.readStream.options(extra).table("snap.default.r15src")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      q
    }
    // paced initial drain: one version per micro-batch
    val q1 = run(Map("maxFilesPerTrigger" -> "1"))
    assert(spark.read.parquet(out).count() == 3)
    assert(q1.recentProgress.count(_.numInputRows > 0) >= 2,
      "maxFilesPerTrigger=1 must split the two commits into separate batches")
    // tail: new commits arrive, the restarted stream delivers exactly them
    sqlDf("INSERT INTO snap.default.r15src VALUES (4,'d')")
    sqlDf("INSERT INTO snap.default.r15src VALUES (5,'e')")
    run()
    assert(spark.read.parquet(out).as[(Long, String)].collect().toSet ==
      Set(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d", 5L -> "e"),
      "restart must deliver exactly the new commits — no loss, no dupes")
    // a data-changing commit (COW rewrite) fails the stream by default...
    sqlDf("DELETE FROM snap.default.r15src WHERE k = 1")
    sqlDf("INSERT INTO snap.default.r15src VALUES (6,'f')")
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException](run())
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("data-changing commit")),
      s"expected the change-commit error, got: ${messages(ex)}")
    // ...and skipChangeCommits skips it and keeps tailing the appends
    run(Map("skipChangeCommits" -> "true"))
    assert(spark.read.parquet(out).as[(Long, String)].collect().toSet ==
      Set(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d", 5L -> "e", 6L -> "f"),
      "skipChangeCommits must skip the rewrite and deliver the later append")
  }

  test("streaming source refuses pinned reads and tables with pending MOR deletes") {
    import org.apache.spark.sql.streaming.Trigger
    sqlDf("DROP TABLE IF EXISTS snap.default.r15mor")
    sqlDf("""CREATE TABLE snap.default.r15mor (k BIGINT, v STRING)
            |TBLPROPERTIES ('graft.mor.key'='k')""".stripMargin)
    sqlDf("INSERT INTO snap.default.r15mor VALUES (1,'a'), (2,'b')")
    sqlDf("DELETE FROM snap.default.r15mor WHERE k = 1") // pending MOR delete
    val ckpt = Qx.tmpOut("r15morckpt", sf())
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    val ex = intercept[Exception] {
      val q = spark.readStream.table("snap.default.r15mor")
        .writeStream.format("noop").option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(m =>
      m.contains("pending merge-on-read deletes") ||
        m.contains("data-changing commit")),
      s"expected the pending-deletes refusal, got: ${messages(ex)}")
  }

  test("the streamable scan facade preserves filter pushdown, DPP attrs, and broadcast stats") {
    sqlDf("DROP TABLE IF EXISTS snap.default.r15pd")
    sqlDf("CREATE TABLE snap.default.r15pd AS SELECT id AS k, id * 2 AS dbl FROM range(1000)")
    val df = sqlDf("SELECT k FROM snap.default.r15pd WHERE k = 7")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("EqualTo(k,7)"),
      s"pushed filter must reach the parquet scan through the facade:\n$plan")
    assert(df.as[Long].collect().toSeq == Seq(7L))
    // scan-level statistics still flow: a small snap table on the build
    // side of a join must broadcast, not sort-merge
    val big = spark.range(200000).select($"id".as("k"))
    val joined = big.join(sqlDf("SELECT k, dbl FROM snap.default.r15pd"), "k")
    assert(joined.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "small snap table must broadcast (facade forwards estimateStatistics)")
    assert(joined.count() == 1000)
    // a MOR scan reports no inner statistics — the facade's manifest
    // fallback (file sizes + #stats row counts) must still broadcast it
    sqlDf("DROP TABLE IF EXISTS snap.default.r15st")
    sqlDf("""CREATE TABLE snap.default.r15st (k BIGINT, v DOUBLE)
            |TBLPROPERTIES ('graft.mor.key'='k')""".stripMargin)
    sqlDf("INSERT INTO snap.default.r15st SELECT id, CAST(id AS DOUBLE) FROM range(500)")
    sqlDf("DELETE FROM snap.default.r15st WHERE k < 10") // pending MOR delete
    val j2 = big.join(sqlDf("SELECT k, v FROM snap.default.r15st"), "k")
    val p2 = j2.queryExecution.executedPlan.toString
    assert(p2.contains("MOR scan"), p2)
    assert(p2.contains("BroadcastHashJoin"),
      s"MOR snap table must broadcast from manifest stats:\n$p2")
    assert(j2.count() == 490)
  }
}
