package graft

import graft.catalog.GraftCatalog

/** Round-16 hardening pins: widest-type resolution when a pinned
  * (time-travel) read straddles BOTH a RENAME and a later ALTER COLUMN
  * widening, stats-pruned catalog scans, and the r16 feature keys. */
class Round16OpsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val wh = {
    val dir = Qx.tmpOut("r16wh", sf())
    GraftCatalog.register(spark, "snap", Some(dir))
    dir
  }

  private def sqlDf(q: String) = { wh; spark.sql(q) }

  test("pinned read straddling RENAME + widening presents the widest type") {
    sqlDf("DROP TABLE IF EXISTS snap.default.r16rw")
    sqlDf("""CREATE TABLE snap.default.r16rw AS
            |SELECT CAST(id AS INT) AS amount FROM range(5)""".stripMargin)
    sqlDf("ALTER TABLE snap.default.r16rw RENAME COLUMN amount TO price")
    sqlDf("ALTER TABLE snap.default.r16rw ALTER COLUMN price TYPE BIGINT")
    sqlDf("INSERT INTO snap.default.r16rw VALUES (1000)")
    // the history: v1 CTAS (amount INT32 files), v2 rename, v3 widen,
    // v4 insert (price INT64 file). A pinned read AT v4 merges files
    // from both eras under DISTINCT names (no CANNOT_MERGE fallback);
    // the collapsed chain must present BIGINT — the oldest spelling's
    // INT would make the scan read int64 pages under IntegerType.
    val versions = sqlDf("SELECT max(version) FROM snap.default.r16rw.history")
      .as[Long].head()
    val pinned = sqlDf(
      s"SELECT * FROM snap.default.r16rw VERSION AS OF $versions")
    assert(pinned.columns.toSeq == Seq("price"),
      s"chain must collapse to one spelling, got ${pinned.columns.toSeq}")
    assert(pinned.schema.head.dataType ==
      org.apache.spark.sql.types.LongType,
      s"straddling pinned read must widen, got ${pinned.schema.simpleString}")
    assert(pinned.as[Long].collect().sorted.toSeq ==
      Seq(0L, 1L, 2L, 3L, 4L, 1000L))
  }

  test("catalog scans skip files on manifest column bounds (stats pruning)") {
    sqlDf("DROP TABLE IF EXISTS snap.default.r16sp")
    sqlDf("CREATE TABLE snap.default.r16sp (k BIGINT, v DOUBLE)")
    sqlDf("INSERT INTO snap.default.r16sp SELECT id, id * 1.5 FROM range(0, 1000)")
    sqlDf("INSERT INTO snap.default.r16sp SELECT id, id * 1.5 FROM range(100000, 101000)")
    val full = plannedFiles(sqlDf("SELECT * FROM snap.default.r16sp"))
    val sel = sqlDf("SELECT * FROM snap.default.r16sp WHERE k >= 100000")
    assert(plannedFiles(sel).nonEmpty &&
      plannedFiles(sel).size < full.size,
      s"selective WHERE must plan fewer files: ${plannedFiles(sel).size} of ${full.size}")
    assert(sel.count() == 1000)
    // equality predicate prunes to the single covering file range
    val eq = sqlDf("SELECT v FROM snap.default.r16sp WHERE k = 100500")
    assert(plannedFiles(eq).size < full.size)
    assert(eq.as[Double].head() == 100500 * 1.5)
    // a predicate no file satisfies plans zero files but stays correct
    val none = sqlDf("SELECT * FROM snap.default.r16sp WHERE k = 50000")
    assert(plannedFiles(none).isEmpty, "non-intersecting range must plan no files")
    assert(none.count() == 0)
    // composes with pending merge-on-read deletes (per-era builders)
    sqlDf("DROP TABLE IF EXISTS snap.default.r16spm")
    sqlDf("""CREATE TABLE snap.default.r16spm (k BIGINT, v STRING)
            |TBLPROPERTIES ('graft.mor.key'='k')""".stripMargin)
    sqlDf("INSERT INTO snap.default.r16spm SELECT id, CAST(id AS STRING) FROM range(0, 100)")
    sqlDf("INSERT INTO snap.default.r16spm SELECT id, CAST(id AS STRING) FROM range(5000, 5100)")
    sqlDf("DELETE FROM snap.default.r16spm WHERE k = 5050")
    val morFull = plannedFiles(sqlDf("SELECT * FROM snap.default.r16spm"))
    val morSel = sqlDf("SELECT * FROM snap.default.r16spm WHERE k >= 5000")
    assert(plannedFiles(morSel).size < morFull.size,
      s"MOR scan must stats-prune too: ${plannedFiles(morSel).size} of ${morFull.size}")
    assert(morSel.count() == 99, "delete must still apply on the kept files")
  }

  test("MOR key rename + widening compose with pending deletes, both loader paths") {
    sqlDf("DROP TABLE IF EXISTS snap.default.r16mw")
    sqlDf("""CREATE TABLE snap.default.r16mw (k INT, v STRING)
            |TBLPROPERTIES ('graft.mor.key'='k')""".stripMargin)
    sqlDf("INSERT INTO snap.default.r16mw VALUES (1,'a'), (2,'b'), (3,'c'), (4,'d')")
    sqlDf("DELETE FROM snap.default.r16mw WHERE k = 1") // pending, narrow, spelling `k`
    sqlDf("ALTER TABLE snap.default.r16mw RENAME COLUMN k TO pk")
    sqlDf("ALTER TABLE snap.default.r16mw ALTER COLUMN pk TYPE BIGINT")
    sqlDf("INSERT INTO snap.default.r16mw VALUES (3000000000, 'big'), (5,'e')")
    sqlDf("DELETE FROM snap.default.r16mw WHERE pk = 2") // pending, wide, spelling `pk`
    val expect = Set(3L, 4L, 5L, 3000000000L)
    assert(sqlDf("SELECT pk FROM snap.default.r16mw").as[Long].collect().toSet
      == expect,
      "narrow `k`-keyed and wide `pk`-keyed pending deletes must both scope")
    // the executor-side (over-gate) loader agrees: footer-typed upcast
    val old = spark.conf.getOption("spark.graft.mor.inlineDeleteBytes")
    spark.conf.set("spark.graft.mor.inlineDeleteBytes", "1")
    try assert(sqlDf("SELECT pk FROM snap.default.r16mw").as[Long].collect().toSet
      == expect, "lazy delete-key loading must upcast by footer type")
    finally old match {
      case Some(v) => spark.conf.set("spark.graft.mor.inlineDeleteBytes", v)
      case None => spark.conf.unset("spark.graft.mor.inlineDeleteBytes")
    }
    // graft.mor.key followed the rename: a post-rename upsert keys on pk
    sqlDf("UPDATE snap.default.r16mw SET v = 'E' WHERE pk = 5")
    assert(sqlDf("SELECT v FROM snap.default.r16mw WHERE pk = 5").as[String]
      .head() == "E")
  }

  test("compactDeletes merges delete files staged across a widening") {
    import graft.sources.Snapshots
    val wh = Qx.tmpOut("r16cw", sf())
    GraftCatalog.register(spark, "snapcw", Some(wh))
    spark.sql("DROP TABLE IF EXISTS snapcw.default.cw")
    spark.sql("""CREATE TABLE snapcw.default.cw (k INT, v STRING)
                |TBLPROPERTIES ('graft.mor.key'='k')""".stripMargin)
    spark.sql("INSERT INTO snapcw.default.cw VALUES (1,'a'), (2,'b'), (3,'c'), (4,'d')")
    spark.sql("DELETE FROM snapcw.default.cw WHERE k = 1") // INT32 delete file
    spark.sql("ALTER TABLE snapcw.default.cw ALTER COLUMN k TYPE BIGINT")
    spark.sql("DELETE FROM snapcw.default.cw WHERE k = 2") // INT64 delete file
    val root = s"$wh/default/cw"
    val before = Snapshots.resolve(root).get.deletes.size
    assert(before == 2, s"fixture needs two pending delete files, got $before")
    Snapshots.compactDeletes(spark, root)
    val after = Snapshots.resolve(root).get.deletes
    assert(after.size == 1,
      s"scope-equivalent mixed-width delete files must merge, got ${after.size}")
    assert(spark.sql("SELECT k FROM snapcw.default.cw").as[Long].collect().toSet
      == Set(3L, 4L), "compacted (widened) delete keys must still scope")
  }

  test("row change feed stays O(delta) across a rows-unchanged compaction") {
    import graft.sources.Snapshots
    import org.apache.spark.sql.functions.col
    val root = s"${Qx.tmpOut("r16cdf", sf())}/store"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val v1 = Snapshots.commit(root)(out =>
      spark.range(100).select($"id".as("k"), ($"id" * 2).as("v"))
        .repartition(4).write.mode("append").parquet(out))
    Snapshots.commitAppend(root)(out =>
      spark.range(100, 120).select($"id".as("k"), ($"id" * 2).as("v"))
        .write.mode("append").parquet(out))
    // the compaction: same logical rows, fewer files, marker stamped
    val pre = Snapshots.read(spark, root)
    Snapshots.commitCompaction(root)(out =>
      pre.coalesce(1).write.mode("append").parquet(out))
    Snapshots.commitAppend(root)(out =>
      spark.range(120, 130).select($"id".as("k"), ($"id" * 2).as("v"))
        .write.mode("append").parquet(out))
    val vTo = Snapshots.maxCommitted(root)
    val feed = Snapshots.readChangesRows(spark, root, v1, vTo, Seq("k"))
    // O(delta): only the two appends' rows, all inserts — and the plan
    // must NOT contain the full-outer state join of the fallback path
    val plan = feed.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("join"),
      s"marked compaction must not force the state-diff join:\n$plan")
    assert(feed.select(col("k")).as[Long].collect().sorted.toSeq ==
      (100L until 130L), "feed must be exactly the appended rows")
    assert(feed.select(col("_change_type")).distinct().as[String]
      .collect().toSeq == Seq("insert"))
    // an UNMARKED rewrite still falls back to the exact state diff
    val pre2 = Snapshots.read(spark, root)
    Snapshots.commit(root)(out =>
      pre2.filter(col("k") =!= 5).coalesce(1).write.mode("append").parquet(out))
    val vTo2 = Snapshots.maxCommitted(root)
    val feed2 = Snapshots.readChangesRows(spark, root, v1, vTo2, Seq("k"))
    val byType = feed2.groupBy(col("_change_type")).count().as[(String, Long)]
      .collect().toMap
    assert(byType("insert") == 30 && byType("delete") == 1,
      s"unmarked rewrite must fall back to the exact diff, got $byType")
  }

  test("streaming source start controls; compaction commits pass over silently") {
    import graft.sources.Snapshots
    import org.apache.spark.sql.streaming.Trigger
    sqlDf("DROP TABLE IF EXISTS snap.default.r16ss")
    sqlDf("CREATE TABLE snap.default.r16ss (k BIGINT, v STRING)")
    sqlDf("INSERT INTO snap.default.r16ss VALUES (1,'a')") // v1
    sqlDf("INSERT INTO snap.default.r16ss VALUES (2,'b')") // v2
    sqlDf("INSERT INTO snap.default.r16ss VALUES (3,'c')") // v3
    val root = s"$wh/default/r16ss"
    def drain(extra: Map[String, String]): Set[(Long, String)] = {
      val out = Qx.tmpOut(s"r16ssout${extra.hashCode}", sf())
      val ckpt = Qx.tmpOut(s"r16ssckpt${extra.hashCode}", sf())
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
      val q = spark.readStream.options(extra).table("snap.default.r16ss")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val files = new java.io.File(out).listFiles()
      if (files == null || !files.exists(_.getName.endsWith(".parquet")))
        Set.empty
      else spark.read.parquet(out).as[(Long, String)].collect().toSet
    }
    // mid-history start: no replay of v1/v2
    assert(drain(Map("startingVersion" -> "2")) == Set(3L -> "c"),
      "startingVersion=2 must deliver exactly the commits after v2")
    // timestamp start: resolves to the newest commit at/before the
    // literal — v2's own ts → only v3 flows
    val ts2 = Snapshots.commitTimestamp(root, 2L).get
    val lit = java.time.Instant
      .ofEpochSecond(ts2 / 1000000L, (ts2 % 1000000L) * 1000L)
      .atZone(java.time.ZoneOffset.UTC).toLocalDateTime
      .format(java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS"))
    assert(drain(Map("startingTimestamp" -> lit)) == Set(3L -> "c"),
      s"startingTimestamp '$lit' must start after v2")
    // a rows-unchanged compaction passes over silently (no refusal,
    // no rows), and a later append still flows
    val pre = Snapshots.read(spark, root)
    Snapshots.commitCompaction(root)(out =>
      pre.coalesce(1).write.mode("append").parquet(out)) // v4
    sqlDf("INSERT INTO snap.default.r16ss VALUES (5,'e')") // v5
    assert(drain(Map("startingVersion" -> "3")) == Set(5L -> "e"),
      "marked compaction must pass over; the later append must flow")
  }

  test("IN-list predicates stats-prune; zero-data-file MOR snapshots explain cleanly") {
    sqlDf("DROP TABLE IF EXISTS snap.default.r16in")
    sqlDf("CREATE TABLE snap.default.r16in (k BIGINT, v DOUBLE)")
    sqlDf("INSERT INTO snap.default.r16in SELECT id, id * 1.0 FROM range(0, 1000)")
    sqlDf("INSERT INTO snap.default.r16in SELECT id, id * 1.0 FROM range(50000, 51000)")
    val full = plannedFiles(sqlDf("SELECT * FROM snap.default.r16in"))
    val in = sqlDf("SELECT * FROM snap.default.r16in WHERE k IN (50010, 50020, 50030)")
    assert(plannedFiles(in).nonEmpty && plannedFiles(in).size < full.size,
      s"IN-list must prune: ${plannedFiles(in).size} of ${full.size}")
    assert(in.count() == 3)
    // a large IN list lowers to InSet after optimization — still prunes
    val big = (50000 until 50400).mkString(", ")
    val inset = sqlDf(s"SELECT * FROM snap.default.r16in WHERE k IN ($big)")
    assert(plannedFiles(inset).size < full.size,
      s"InSet must prune: ${plannedFiles(inset).size} of ${full.size}")
    assert(inset.count() == 400)
    // ADVICE r15: a snapshot carrying delete lines but ZERO data files
    // (everything deleted) must EXPLAIN without throwing
    sqlDf("DROP TABLE IF EXISTS snap.default.r16z")
    sqlDf("""CREATE TABLE snap.default.r16z (k BIGINT, v STRING)
            |TBLPROPERTIES ('graft.mor.key'='k')""".stripMargin)
    sqlDf("INSERT INTO snap.default.r16z VALUES (1,'a')")
    sqlDf("DELETE FROM snap.default.r16z WHERE k = 1")
    val df = sqlDf("SELECT * FROM snap.default.r16z")
    df.queryExecution.executedPlan.toString // must not throw
    assert(df.count() == 0)
  }

  test("CREATE TABLE PARTITIONED BY: writes partition, scans prune, evolution guarded") {
    import org.apache.spark.sql.functions.col
    sqlDf("DROP TABLE IF EXISTS snap.default.r16pt")
    sqlDf("""CREATE TABLE snap.default.r16pt (k BIGINT, p STRING, v DOUBLE)
            |PARTITIONED BY (p)""".stripMargin)
    sqlDf("""INSERT INTO snap.default.r16pt
            |SELECT id, CASE WHEN id % 3 = 0 THEN 'a' WHEN id % 3 = 1 THEN 'b'
            |                ELSE 'c' END, id * 1.0
            |FROM range(0, 300)""".stripMargin)
    sqlDf("INSERT INTO snap.default.r16pt VALUES (1000, 'a', 1.5)")
    // full schema back, partition values re-attached from the paths
    val all = sqlDf("SELECT k, p, v FROM snap.default.r16pt")
    assert(all.count() == 301)
    assert(all.filter(col("p") === "a").count() == 101)
    // partition pruning: a partition predicate plans only matching dirs
    val full = plannedFiles(sqlDf("SELECT * FROM snap.default.r16pt"))
    val pruned = plannedFiles(
      sqlDf("SELECT * FROM snap.default.r16pt WHERE p = 'a'"))
    assert(pruned.nonEmpty && pruned.size < full.size,
      s"partition predicate must prune: ${pruned.size} of ${full.size}")
    assert(pruned.forall(_.contains("/p=a/")),
      s"only p=a dirs may plan: $pruned")
    // stats pruning composes on the data column within partitions
    val both = plannedFiles(
      sqlDf("SELECT * FROM snap.default.r16pt WHERE p = 'a' AND k >= 1000"))
    assert(both.size < pruned.size || pruned.size == 1,
      s"stats must compose inside the kept partitions: ${both.size} of ${pruned.size}")
    // aggregate over one partition matches a recompute
    assert(sqlDf("SELECT sum(k) FROM snap.default.r16pt WHERE p = 'b'")
      .as[Long].head() == (0L until 300L).filter(_ % 3 == 1).sum)
    // time travel presents the full schema (partition cols re-attached)
    val v1 = sqlDf("SELECT * FROM snap.default.r16pt VERSION AS OF 1")
    assert(v1.columns.toSet == Set("k", "p", "v"))
    assert(v1.count() == 300)
    // evolution guards: partition columns are pinned
    intercept[Exception](
      sqlDf("ALTER TABLE snap.default.r16pt RENAME COLUMN p TO q"))
    intercept[Exception](
      sqlDf("ALTER TABLE snap.default.r16pt DROP COLUMN p"))
    intercept[Exception](
      sqlDf("ALTER TABLE snap.default.r16pt SET TBLPROPERTIES ('graft.mor.key'='k')"))
    // row-level statements preserve the layout (dynamic-partitioning
    // COW writer): DELETE and UPDATE rewrite into col=value subdirs
    sqlDf("DELETE FROM snap.default.r16pt WHERE k % 10 = 0 AND p = 'a'")
    // survivors: k%3==0 minus multiples of 10 (k=1000 matches the
    // delete too — 1000%10==0)
    assert(sqlDf("SELECT count(*) FROM snap.default.r16pt WHERE p = 'a'")
      .as[Long].head() ==
        (0L until 300L).count(i => i % 3 == 0 && i % 10 != 0),
      "delete must remove exactly the matching rows")
    sqlDf("UPDATE snap.default.r16pt SET v = v + 0.5 WHERE k = 2")
    assert(sqlDf("SELECT v FROM snap.default.r16pt WHERE k = 2")
      .as[Double].head() == 2.5)
    val afterRewrite = plannedFiles(
      sqlDf("SELECT * FROM snap.default.r16pt WHERE p = 'b'"))
    assert(afterRewrite.nonEmpty && afterRewrite.forall(_.contains("/p=b/")),
      s"the COW rewrite must keep the partition layout: $afterRewrite")
    // INSERT OVERWRITE keeps the layout and stays correct
    sqlDf("""INSERT OVERWRITE snap.default.r16pt
            |SELECT id, 'z', id * 2.0 FROM range(0, 10)""".stripMargin)
    assert(sqlDf("SELECT sum(v) FROM snap.default.r16pt").as[Double].head() == 90.0)
    assert(plannedFiles(sqlDf("SELECT * FROM snap.default.r16pt WHERE p = 'z'"))
      .forall(_.contains("/p=z/")))
  }

  test("LIKE-prefix predicates stats-prune on string bounds") {
    sqlDf("DROP TABLE IF EXISTS snap.default.r16pf")
    sqlDf("CREATE TABLE snap.default.r16pf (s STRING, v BIGINT)")
    sqlDf("""INSERT INTO snap.default.r16pf
            |SELECT /*+ REPARTITION_BY_RANGE(4, s) */ s, v FROM (
            |  SELECT concat('s', lpad(CAST(id AS STRING), 5, '0')) AS s, id AS v
            |  FROM range(0, 4000))""".stripMargin)
    val full = plannedFiles(sqlDf("SELECT * FROM snap.default.r16pf"))
    assert(full.size >= 4)
    val pf = sqlDf("SELECT * FROM snap.default.r16pf WHERE s LIKE 's0123%'")
    assert(plannedFiles(pf).nonEmpty && plannedFiles(pf).size < full.size,
      s"prefix must prune: ${plannedFiles(pf).size} of ${full.size}")
    assert(pf.count() == 10, "s01230..s01239")
    val none = sqlDf("SELECT * FROM snap.default.r16pf WHERE s LIKE 'z%'")
    assert(plannedFiles(none).isEmpty, "out-of-range prefix must plan no files")
    assert(none.count() == 0)
  }

  test("bloom sidecars prune point lookups where min/max cannot") {
    sqlDf("DROP TABLE IF EXISTS snap.default.r16bl")
    sqlDf("""CREATE TABLE snap.default.r16bl (k BIGINT, v DOUBLE)
            |TBLPROPERTIES ('graft.bloom.cols'='k')""".stripMargin)
    // two commits with fully OVERLAPPING key ranges (evens, then odds):
    // min/max admits every file for any in-range literal — only the
    // membership sketch can refute
    sqlDf("INSERT INTO snap.default.r16bl SELECT id * 2, id * 1.0 FROM range(0, 5000)")
    sqlDf("INSERT INTO snap.default.r16bl SELECT id * 2 + 1, id * 1.0 FROM range(0, 5000)")
    val full = plannedFiles(sqlDf("SELECT * FROM snap.default.r16bl"))
    val even = sqlDf("SELECT * FROM snap.default.r16bl WHERE k = 4000")
    assert(plannedFiles(even).nonEmpty && plannedFiles(even).size < full.size,
      s"bloom must prune odd-key files: ${plannedFiles(even).size} of ${full.size}")
    assert(even.count() == 1)
    // absent key: every sketch refutes, zero files planned, empty result
    val none = sqlDf("SELECT * FROM snap.default.r16bl WHERE k = 99999999")
    assert(plannedFiles(none).isEmpty,
      s"absent key must plan no files, got ${plannedFiles(none).size}")
    assert(none.count() == 0)
    // IN-lists compose: only files that might hold ANY listed key plan
    val in = sqlDf("SELECT * FROM snap.default.r16bl WHERE k IN (4000, 4002)")
    assert(plannedFiles(in).size < full.size)
    assert(in.count() == 2)
    // the sketch survives an append (carried lines) and int widening
    // keeps hashing identically (integral widths share one hash)
    sqlDf("INSERT INTO snap.default.r16bl VALUES (99999998, 1.0)")
    assert(sqlDf("SELECT count(*) FROM snap.default.r16bl WHERE k = 4000")
      .as[Long].head() == 1)
  }

  test("runtime (DPP) filtering prunes partitions of a snap table at execution") {
    import org.apache.spark.sql.functions.col
    sqlDf("DROP TABLE IF EXISTS snap.default.r16dpp")
    sqlDf("""CREATE TABLE snap.default.r16dpp (k BIGINT, p STRING, v DOUBLE)
            |PARTITIONED BY (p)""".stripMargin)
    sqlDf("""INSERT INTO snap.default.r16dpp
            |SELECT id, CASE WHEN id % 4 = 0 THEN 'w' WHEN id % 4 = 1 THEN 'x'
            |                WHEN id % 4 = 2 THEN 'y' ELSE 'z' END, id * 1.0
            |FROM range(0, 400)""".stripMargin)
    // the dim restricts to ONE partition only at runtime
    spark.createDataset(Seq(("x", 1))).toDF("p", "tag")
      .createOrReplaceTempView("r16dpp_dim")
    val joined = sqlDf(
      """SELECT f.k, f.v FROM snap.default.r16dpp f
        |JOIN r16dpp_dim d ON f.p = d.p WHERE d.tag = 1""".stripMargin)
    assert(joined.count() == 100, "only the x partition's rows")
    val planStr = joined.queryExecution.executedPlan.toString
    assert(planStr.contains("RuntimeFilters") || planStr.contains("dynamicpruning"),
      s"join on the partition column should plan runtime filtering:\n${planStr.take(2000)}")
  }

  test("streaming source tails a PARTITIONED table with values re-attached") {
    import org.apache.spark.sql.streaming.Trigger
    sqlDf("DROP TABLE IF EXISTS snap.default.r16ps")
    sqlDf("""CREATE TABLE snap.default.r16ps (k BIGINT, p STRING)
            |PARTITIONED BY (p)""".stripMargin)
    sqlDf("INSERT INTO snap.default.r16ps VALUES (1, 'a'), (2, 'b')")
    sqlDf("INSERT INTO snap.default.r16ps VALUES (3, 'a')")
    val out = Qx.tmpOut("r16psout", sf())
    val ckpt = Qx.tmpOut("r16psckpt", sf())
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    val q = spark.readStream.table("snap.default.r16ps")
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.read.parquet(out).as[(Long, String)].collect().toSet ==
      Set(1L -> "a", 2L -> "b", 3L -> "a"),
      "tailed rows must carry their path-derived partition values")
  }

  test("dynamic-partition writer rotates past the open-writer cap losslessly") {
    // 150 partition values interleaved through every task — well past
    // the 64-open-writer cap, so the LRU rotation path (seal + new
    // part on recurrence) must carry the rewrite
    sqlDf("DROP TABLE IF EXISTS snap.default.r16rot")
    sqlDf("""CREATE TABLE snap.default.r16rot (k BIGINT, p STRING)
            |PARTITIONED BY (p)""".stripMargin)
    sqlDf("""INSERT INTO snap.default.r16rot
            |SELECT id, CAST(id % 150 AS STRING) FROM range(0, 15000)""".stripMargin)
    sqlDf("DELETE FROM snap.default.r16rot WHERE k % 7 = 0")
    val expect = (0L until 15000L).filterNot(_ % 7 == 0)
    assert(sqlDf("SELECT count(*) FROM snap.default.r16rot").as[Long].head()
      == expect.size, "rotation must not lose or duplicate rows")
    assert(sqlDf("SELECT sum(k) FROM snap.default.r16rot").as[Long].head()
      == expect.sum)
    val files = plannedFiles(
      sqlDf("SELECT * FROM snap.default.r16rot WHERE p = '149'"))
    assert(files.nonEmpty && files.forall(_.contains("/p=149/")),
      s"rotated rewrite must keep the layout: $files")
  }

  test("SHOW PARTITIONS lists manifest-implied partitions") {
    sqlDf("DROP TABLE IF EXISTS snap.default.r16sh")
    sqlDf("""CREATE TABLE snap.default.r16sh (k BIGINT, p STRING)
            |PARTITIONED BY (p)""".stripMargin)
    sqlDf("INSERT INTO snap.default.r16sh VALUES (1,'a'), (2,'b'), (3,'c')")
    assert(sqlDf("SHOW PARTITIONS snap.default.r16sh").as[String]
      .collect().sorted.toSeq == Seq("p=a", "p=b", "p=c"))
    assert(sqlDf("SHOW PARTITIONS snap.default.r16sh PARTITION (p='b')")
      .as[String].collect().toSeq == Seq("p=b"))
    // partitions are implied by data: ADD/DROP refuse
    intercept[Exception](
      sqlDf("ALTER TABLE snap.default.r16sh ADD PARTITION (p='zz')"))
    // NULL partition values round-trip through the Hive default dir
    sqlDf("INSERT INTO snap.default.r16sh VALUES (4, NULL)")
    assert(sqlDf("SELECT k FROM snap.default.r16sh WHERE p IS NULL")
      .as[Long].collect().toSeq == Seq(4L),
      "null partition value must round-trip through the path")
    assert(sqlDf("SELECT count(*) FROM snap.default.r16sh").as[Long].head() == 4)
  }

  test("review pins: bloom survives widening; partitioned rename/time-travel/CDF") {
    import org.apache.spark.sql.functions.col
    import graft.sources.Snapshots
    // 1. the sketch hashes at canonical width: an int->bigint widening
    //    must not make point lookups lose present keys
    sqlDf("DROP TABLE IF EXISTS snap.default.r16bw")
    sqlDf("""CREATE TABLE snap.default.r16bw (k INT, v STRING)
            |TBLPROPERTIES ('graft.bloom.cols'='k')""".stripMargin)
    sqlDf("INSERT INTO snap.default.r16bw SELECT CAST(id * 2 AS INT), 'e' FROM range(0, 2000)")
    sqlDf("INSERT INTO snap.default.r16bw SELECT CAST(id * 2 + 1 AS INT), 'o' FROM range(0, 2000)")
    sqlDf("ALTER TABLE snap.default.r16bw ALTER COLUMN k TYPE BIGINT")
    assert(sqlDf("SELECT v FROM snap.default.r16bw WHERE k = 2000")
      .as[String].collect().toSeq == Seq("e"),
      "post-widening lookups must still find keys sketched at INT width")
    val bw = plannedFiles(sqlDf("SELECT * FROM snap.default.r16bw WHERE k = 2000"))
    val bwFull = plannedFiles(sqlDf("SELECT * FROM snap.default.r16bw"))
    assert(bw.nonEmpty && bw.size < bwFull.size,
      s"and the sketch still prunes: ${bw.size} of ${bwFull.size}")
    // 2. renaming a DATA column of a partitioned table keeps reads alive
    sqlDf("DROP TABLE IF EXISTS snap.default.r16pr")
    sqlDf("""CREATE TABLE snap.default.r16pr (k BIGINT, p STRING, v DOUBLE)
            |PARTITIONED BY (p)""".stripMargin)
    sqlDf("INSERT INTO snap.default.r16pr VALUES (1, 'a', 1.0), (2, 'b', 2.0)")
    sqlDf("ALTER TABLE snap.default.r16pr RENAME COLUMN v TO w")
    assert(sqlDf("SELECT k, p, w FROM snap.default.r16pr")
      .as[(Long, String, Double)].collect().toSet ==
        Set((1L, "a", 1.0), (2L, "b", 2.0)),
      "rename-aware scan must stay partition-aware")
    // 3. pinned reads keep the DECLARED column order (k, p, v), not
    //    partition-cols-appended
    sqlDf("DROP TABLE IF EXISTS snap.default.r16po")
    sqlDf("""CREATE TABLE snap.default.r16po (k BIGINT, p STRING, v DOUBLE)
            |PARTITIONED BY (p)""".stripMargin)
    sqlDf("INSERT INTO snap.default.r16po VALUES (1, 'a', 1.0)")
    assert(sqlDf("SELECT * FROM snap.default.r16po VERSION AS OF 1")
      .columns.toSeq == Seq("k", "p", "v"),
      "pinned SELECT * must line up positionally with the head read")
    // 4. the change feed keeps partition columns on partitioned roots
    val root = s"$wh/default/r16po"
    sqlDf("INSERT INTO snap.default.r16po VALUES (2, 'b', 2.0)")
    val feed = Snapshots.readChangesRows(spark, root, 1L, 2L, Seq("k"))
    assert(feed.columns.contains("p"), s"CDF must carry partition cols: ${feed.columns.toSeq}")
    assert(feed.select(col("k"), col("p")).as[(Long, String)].collect().toSeq ==
      Seq(2L -> "b"))
  }

  test("streaming sink + compact keep a PARTITIONED table's layout") {
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.functions.col
    sqlDf("DROP TABLE IF EXISTS snap.default.r16pw")
    sqlDf("""CREATE TABLE snap.default.r16pw (k BIGINT, p STRING)
            |PARTITIONED BY (p)""".stripMargin)
    // streaming sink: epoch rows split into col=value subdirs
    val src = Qx.tmpOut("r16pwsrc", sf())
    val ckpt = Qx.tmpOut("r16pwckpt", sf())
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(src))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    spark.range(100).select($"id".as("k"),
      (($"id" % 2).cast("string")).as("p")).write.parquet(src)
    val q = spark.readStream.schema("k BIGINT, p STRING").parquet(src)
      .writeStream.option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).toTable("snap.default.r16pw")
    q.awaitTermination()
    assert(sqlDf("SELECT count(*) FROM snap.default.r16pw").as[Long].head() == 100)
    val pr = plannedFiles(sqlDf("SELECT * FROM snap.default.r16pw WHERE p = '1'"))
    assert(pr.nonEmpty && pr.forall(_.contains("/p=1/")),
      s"streamed epochs must land partitioned: $pr")
    // compact keeps the layout (and the values)
    sqlDf("CALL snap.system.compact('default.r16pw')")
    assert(sqlDf("SELECT count(*) FROM snap.default.r16pw WHERE p = '0'")
      .as[Long].head() == 50)
    val post = plannedFiles(sqlDf("SELECT * FROM snap.default.r16pw WHERE p = '0'"))
    assert(post.nonEmpty && post.forall(_.contains("/p=0/")),
      s"compaction must preserve the partition layout: $post")
  }

  test("CALL snap.system.{compact, compact_deletes, vacuum} maintenance procedures") {
    import graft.sources.Snapshots
    sqlDf("DROP TABLE IF EXISTS snap.default.r16proc")
    sqlDf("""CREATE TABLE snap.default.r16proc (k BIGINT, v STRING)
            |TBLPROPERTIES ('graft.mor.key'='k')""".stripMargin)
    (0 until 4).foreach(i =>
      sqlDf(s"INSERT INTO snap.default.r16proc SELECT id, CAST(id AS STRING) " +
        s"FROM range(${i * 100}, ${i * 100 + 100})"))
    sqlDf("DELETE FROM snap.default.r16proc WHERE k % 10 = 0")
    sqlDf("DELETE FROM snap.default.r16proc WHERE k % 7 = 0")
    val root = s"$wh/default/r16proc"
    val preFiles = Snapshots.resolve(root).get.files.size
    val preDels = Snapshots.resolve(root).get.deletes.size
    assert(preDels > 1, s"fixture needs stacked delete files, got $preDels")
    val expect = (0L until 400L).filterNot(k => k % 10 == 0 || k % 7 == 0)
    // delete-file merge: report row returns, pending set shrinks to 1
    val cd = sqlDf("CALL snap.system.compact_deletes('default.r16proc')")
      .collect().head
    assert(cd.getAs[Int]("deletes_before") == preDels &&
      cd.getAs[Int]("deletes_after") == 1,
      s"compact_deletes report: $cd")
    assert(sqlDf("SELECT k FROM snap.default.r16proc").as[Long].collect().sorted
      .toSeq == expect)
    // full compaction: absorbs the pending deletes, bin-packs files
    val c = sqlDf("CALL snap.system.compact('default.r16proc')").collect().head
    assert(c.getAs[Int]("files_before") == preFiles &&
      c.getAs[Int]("deletes_absorbed") == 1, s"compact report: $c")
    val post = Snapshots.resolve(root).get
    assert(post.deletes.isEmpty, "compaction must absorb pending deletes")
    assert(post.files.size < preFiles,
      s"bin-packing must shrink the file count: ${post.files.size} of $preFiles")
    assert(sqlDf("SELECT k FROM snap.default.r16proc").as[Long].collect().sorted
      .toSeq == expect, "compaction must be lossless")
    // the compaction commit is rows-unchanged-marked
    assert(Snapshots.resolveAt(root, post.version).rowsUnchanged)
    // vacuum through SQL: retention floor rises, head still reads
    val vc = sqlDf("CALL snap.system.vacuum('default.r16proc', 2)").collect().head
    assert(vc.getAs[Long]("oldest_retained") > 1L, s"vacuum report: $vc")
    assert(sqlDf("SELECT count(*) FROM snap.default.r16proc").as[Long].head()
      == expect.size)
    // z-order variant: lossless, with keys far beyond the 16-bit
    // domain (min/max normalization feeds interleave_bits — raw
    // million-scale keys would cluster modulo 65536)
    sqlDf("DROP TABLE IF EXISTS snap.default.r16zo")
    sqlDf("""CREATE TABLE snap.default.r16zo AS
            |SELECT (id % 97) * 1000000 AS a, (id % 89) * 500000 AS b, id AS v
            |FROM range(0, 20000)""".stripMargin)
    sqlDf("CALL snap.system.compact('default.r16zo', 'a, b')")
    assert(sqlDf("SELECT sum(v) FROM snap.default.r16zo").as[Long].head()
      == (0L until 20000L).sum, "z-order compaction must be lossless")
    // single-column variant degenerates to range clustering; bad args
    // fail up-front with clear messages
    sqlDf("CALL snap.system.compact('default.r16zo', 'a')")
    assert(sqlDf("SELECT count(*) FROM snap.default.r16zo").as[Long].head() == 20000)
    intercept[Exception](
      sqlDf("CALL snap.system.compact('default.r16zo', 'a, b, v')"))
    intercept[Exception](
      sqlDf("CALL snap.system.compact('default.r16zo', 'nope')"))
  }
}
