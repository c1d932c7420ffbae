package graft

import graft.catalog.GraftCatalog
import graft.sources.Snapshots
import org.apache.spark.sql.functions._

/** Round-9 items: the snapshot-commit protocol (atomicity under
  * interleaved readers, orphan invisibility, retention), the
  * table_commit_swap maintenance cycle's physical shape, and the
  * measured read-side pruning effect of the layout family.
  */
class Round9OpsSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(name: String): String = {
    val root = Qx.tmpOut(name, sf())
    val p = java.nio.file.Paths.get(root)
    if (java.nio.file.Files.exists(p)) {
      val walk = java.nio.file.Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.toSeq.reverse.foreach(java.nio.file.Files.delete)
      } finally walk.close()
    }
    root
  }

  /** A merge-on-read catalog table keyed on `id` at a fresh root, for
    * the steps that need a SQL statement (an UPDATE, a DELETE matching
    * nothing); everything else drives the root through [[Snapshots]]. */
  private def morTable(name: String, cols: String): (String, String) = {
    val wh = Qx.tmpOut("r9wh", sf())
    GraftCatalog.register(spark, "r9", Some(wh))
    val root = s"$wh/default/$name"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    spark.sql(s"CREATE TABLE r9.default.$name ($cols) " +
      "TBLPROPERTIES ('graft.mor.key' = 'id')")
    (s"r9.default.$name", root)
  }

  /** Stage a merge-on-read delete of `ids` on key column `id`. */
  private def deleteIds(root: String, ids: Long*): Long =
    Snapshots.commitDelete(root, "id")(out =>
      ids.toDF("id").write.mode("append").parquet(out))

  private def writeTagged(out: String, tag: Int, rows: Long): Unit =
    spark.range(rows).select(lit(tag).as("tag"), $"id")
      .write.mode("append").parquet(out)

  test("snapshot commit: pinned reader sees all-old, fresh resolve all-new, never a mix") {
    val root = freshRoot("snapspec")
    assert(Snapshots.resolve(root).isEmpty)
    val v1 = Snapshots.commit(root)(writeTagged(_, tag = 1, rows = 100))
    assert(v1 == 1L)
    val snap1 = Snapshots.resolve(root).get
    val pinned = spark.read.parquet(snap1.files: _*) // reader pins v1
    // the rewrite lands UNDER the pinned reader
    val v2 = Snapshots.commit(root)(writeTagged(_, tag = 2, rows = 60))
    assert(v2 == 2L)
    // fresh resolve: all-new — count, content, and file locations
    val head = Snapshots.resolve(root).get
    assert(head.version == 2L)
    val fresh = spark.read.parquet(head.files: _*)
    assert(fresh.count() == 60 && fresh.filter($"tag" =!= 2).count() == 0)
    val v2pfx = Snapshots.versionPrefix(2L)
    assert(fresh.inputFiles.forall(_.contains(v2pfx)),
      s"head read must touch only $v2pfx dirs: ${fresh.inputFiles.toSeq}")
    // pinned reader: STILL all-old — the commit moved no old file
    assert(pinned.count() == 100 && pinned.filter($"tag" =!= 1).count() == 0)
  }

  test("uncommitted staging data is invisible and reclaimed by vacuum") {
    val root = freshRoot("snaporphan")
    Snapshots.commit(root)(writeTagged(_, tag = 1, rows = 10))
    // a crashed writer's orphan: a staged data dir at v2, no manifest
    val orphanDir = s"$root/${Snapshots.versionPrefix(2L)}99999_1"
    writeTagged(orphanDir, tag = 99, rows = 5)
    val head = Snapshots.resolve(root).get
    assert(head.version == 1L, "an uncommitted version must not resolve")
    assert(spark.read.parquet(head.files: _*)
      .filter($"tag" === 99).count() == 0)
    // the next commit stages in its OWN dir (never touching the orphan)
    // and publishes cleanly over it
    val v = Snapshots.commit(root)(writeTagged(_, tag = 2, rows = 7))
    assert(v == 2L)
    val df = Snapshots.read(spark, root)
    assert(df.count() == 7 && df.filter($"tag" =!= 2).count() == 0,
      "orphan rows must never leak into the committed version")
    // one more commit puts the orphan below the retention floor;
    // vacuum sweeps it with the expired versions
    Snapshots.commit(root)(writeTagged(_, tag = 3, rows = 1))
    Snapshots.vacuum(root, keepLast = 1)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(orphanDir)),
      "vacuum must reclaim a crashed writer's orphan dir")
  }

  test("a reader interleaved with repeated commits never observes a mixed snapshot") {
    val root = freshRoot("snaprace")
    Snapshots.commit(root)(writeTagged(_, tag = 1, rows = 10))
    // writer thread: versions 2..6, tag t with exactly t*10 rows
    val writer = new Thread(() =>
      (2 to 6).foreach(t => Snapshots.commit(root)(writeTagged(_, t, t * 10L))))
    writer.setDaemon(true)
    writer.start()
    var checks = 0
    while (writer.isAlive || checks == 0) {
      val snap = Snapshots.resolve(root).get
      val rows = spark.read.parquet(snap.files: _*).collect()
      val tags = rows.map(_.getInt(0)).distinct.toSeq
      assert(tags.length == 1,
        s"mixed snapshot observed at v${snap.version}: tags $tags")
      assert(rows.length == tags.head * 10,
        s"torn file set at v${snap.version}: ${rows.length} rows for tag ${tags.head}")
      checks += 1
    }
    writer.join()
    assert(checks > 0 && Snapshots.maxCommitted(root) == 6L)
  }

  test("time travel: historical versions stay exact under append commits; retention bounds history, never the head") {
    val root = freshRoot("snaptime")
    val v1 = Snapshots.commit(root)(writeTagged(_, tag = 1, rows = 10))
    val v2 = Snapshots.commitAppend(root)(writeTagged(_, tag = 2, rows = 5))
    val v3 = Snapshots.commitAppend(root)(writeTagged(_, tag = 3, rows = 2))
    assert((v1, v2, v3) == (1L, 2L, 3L))
    // an append manifest carries the parent's files forward verbatim
    assert(Snapshots.resolveAt(root, v2).files.toSet
      .subsetOf(Snapshots.resolveAt(root, v3).files.toSet))
    assert(Snapshots.readAt(spark, root, v1).count() == 10)
    assert(Snapshots.readAt(spark, root, v2).count() == 15)
    assert(Snapshots.read(spark, root).count() == 17)
    // never committed / beyond head: a clear error, not an empty read
    intercept[IllegalStateException](Snapshots.readAt(spark, root, 9L))
    // vacuum to the head only: history beyond retention raises, but the
    // head keeps ALL its rows — including those whose files physically
    // live in v1's dir (reference-aware vacuum must not delete them)
    Snapshots.vacuum(root, keepLast = 1)
    intercept[IllegalStateException](Snapshots.readAt(spark, root, v1))
    val head = Snapshots.read(spark, root)
    assert(head.count() == 17,
      "vacuum deleted files still referenced by the head's append manifest")
    assert(head.select($"tag").distinct().count() == 3)
  }

  test("incremental read surfaces exactly the appended delta via a metadata-only manifest diff") {
    val root = freshRoot("snapdelta")
    val v1 = Snapshots.commit(root)(writeTagged(_, tag = 1, rows = 10))
    Snapshots.commitAppend(root)(writeTagged(_, tag = 2, rows = 5))
    val v3 = Snapshots.commitAppend(root)(writeTagged(_, tag = 3, rows = 2))
    val delta = Snapshots.readChanges(spark, root, v1, v3)
    assert(delta.count() == 7 && delta.filter($"tag" === 1).count() == 0,
      "the (v1, v3] delta must hold only tags 2 and 3")
    // the delta read plans over ONLY post-v1 files — the base is
    // neither re-listed nor re-scanned
    val v1pfx = Snapshots.versionPrefix(v1)
    assert(plannedFiles(delta).nonEmpty, "the delta read must plan its files")
    assert(plannedFiles(delta).forall(!_.contains(v1pfx)),
      s"delta read touched base files: ${plannedFiles(delta)}")
    // fromVersion = 0 means "since the beginning" = the whole head
    assert(Snapshots.readChanges(spark, root, 0L, v3).count() == 17)
    // empty range is a degenerate but valid feed
    assert(Snapshots.changedFiles(root, v3, v3).isEmpty)
  }

  test("racing append writers: the loser retries onto the winner's head, no row lost or doubled") {
    val root = freshRoot("snapappendrace")
    Snapshots.commit(root)(writeTagged(_, tag = 0, rows = 1))
    // two writers append disjoint tags concurrently; the exclusive
    // manifest create serializes them — each loser re-resolves the new
    // head INSIDE the retry loop, so both deltas survive exactly once
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val ws = (1 to 2).map { t =>
      val th = new Thread(() =>
        try (1 to 3).foreach { i =>
          Snapshots.commitAppend(root)(writeTagged(_, tag = t * 10 + i, rows = t))
        } catch { case e: Throwable => errs.add(e) })
      th.setDaemon(true); th.start(); th
    }
    ws.foreach(_.join())
    assert(errs.isEmpty, s"append writer failed: ${errs.peek()}")
    assert(Snapshots.maxCommitted(root) == 7L, "1 base + 6 appends")
    val head = Snapshots.read(spark, root)
    // every appended tag present with exactly its own row count
    val got = head.groupBy($"tag").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val want = Map(0 -> 1L) ++
      (1 to 3).map(i => (10 + i) -> 1L) ++ (1 to 3).map(i => (20 + i) -> 2L)
    assert(got == want, s"head content after racing appends: $got")
  }

  test("idempotent txn append: replayed epochs no-op, distinct appIds are independent") {
    val root = freshRoot("snaptxn")
    def batchDf(tag: Int, rows: Long) =
      spark.range(rows).select(lit(tag).as("tag"), $"id")
    Snapshots.appendBatch(root, "app")(batchDf(1, 5), 0L)
    Snapshots.appendBatch(root, "app")(batchDf(2, 3), 1L)
    assert(Snapshots.maxCommitted(root) == 2L)
    assert(Snapshots.lastTxn(root, "app") == 1L)
    // crash-replay: both epochs already committed — must be skipped
    Snapshots.appendBatch(root, "app")(batchDf(99, 100), 1L)
    Snapshots.appendBatch(root, "app")(batchDf(99, 100), 0L)
    assert(Snapshots.maxCommitted(root) == 2L, "replays must not commit")
    val head = Snapshots.read(spark, root)
    assert(head.count() == 8 && head.filter($"tag" === 99).count() == 0)
    // a DIFFERENT appId's epoch 0 is independent (two streams, one table)
    Snapshots.appendBatch(root, "other")(batchDf(3, 2), 0L)
    assert(Snapshots.maxCommitted(root) == 3L)
    assert(Snapshots.lastTxn(root, "other") == 0L &&
      Snapshots.lastTxn(root, "app") == 1L)
    assert(Snapshots.read(spark, root).count() == 10)
    // an empty micro-batch is a no-op, not a failed commit
    Snapshots.appendBatch(root, "app")(batchDf(4, 5).filter($"id" < 0), 2L)
    assert(Snapshots.maxCommitted(root) == 3L)
  }

  test("snapshot-store foreachBatch sink is exactly-once across checkpointed restarts") {
    import java.nio.file.{Files, Paths}
    val dir = sf()
    val root = freshRoot("snapsinkroot")
    val staging = freshRoot("snapsinkstage")
    val landing = freshRoot("snapsinkland")
    val ckpt = freshRoot("snapsinkckpt")
    val ev = Tables.load(spark, dir, "events")
      .select($"event_id", $"event_type", $"value")
    ev.repartition(4).write.mode("overwrite").parquet(staging)
    val parts = new java.io.File(staging).listFiles()
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    assert(parts.length == 4)
    Files.createDirectories(Paths.get(landing))
    def land(fs: Seq[java.io.File]): Unit =
      fs.foreach(f => Files.copy(f.toPath, Paths.get(landing, f.getName)))
    val schema = spark.read.parquet(staging).schema
    // the REAL streaming sink: file source -> foreachBatch append
    // commits into the snapshot store, checkpointed; AvailableNow
    // drains what has landed, then the query STOPS (the "crash"
    // between feeds); the restart reuses the same checkpoint
    def runOnce(): Unit = {
      val q = spark.readStream.schema(schema).parquet(landing)
        .writeStream
        .foreachBatch(Snapshots.appendBatch(root, "sinkapp") _)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
    }
    land(parts.take(2))
    runOnce()
    val want = ev.count()
    val afterHalf = Snapshots.read(spark, root).count()
    assert(afterHalf > 0 && afterHalf < want,
      s"first run must ingest only the landed half ($afterHalf of $want)")
    // zombie replay: a crashed query re-runs its last micro-batch with
    // the same batchId — the txn gate must no-op it
    val last = Snapshots.lastTxn(root, "sinkapp")
    assert(last >= 0L)
    Snapshots.appendBatch(root, "sinkapp")(
      spark.range(3).select($"id".as("event_id"),
        lit("ZOMBIE").as("event_type"), lit(0.0f).as("value")), last)
    assert(Snapshots.read(spark, root).count() == afterHalf,
      "a replayed batchId must not append")
    land(parts.drop(2))
    runOnce() // restart: picks up ONLY the two new files
    val got = Snapshots.read(spark, root)
    assert(got.count() == want && got.filter($"event_type" === "ZOMBIE").count() == 0)
    val g = got.select($"event_id").collect().map(_.getLong(0)).sorted
    val w = ev.select($"event_id").collect().map(_.getLong(0)).sorted
    assert(g.sameElements(w), "restart broke exactly-once")
    // idle restart (nothing new): no new commit, no re-emit
    val headBefore = Snapshots.maxCommitted(root)
    runOnce()
    assert(Snapshots.maxCommitted(root) == headBefore &&
      Snapshots.read(spark, root).count() == want)
  }

  test("schema evolution: merged head nulls the added column in old files; time travel keeps the old schema") {
    val root = freshRoot("snapevospec")
    val v1 = Snapshots.commit(root)(out =>
      spark.range(4).select($"id").write.mode("append").parquet(out))
    Snapshots.commitAppend(root)(out =>
      spark.range(4, 6).select($"id", lit("x").as("extra"))
        .write.mode("append").parquet(out))
    val head = Snapshots.read(spark, root)
    assert(head.columns.toSet == Set("id", "extra"),
      s"merged head must resolve the union schema: ${head.columns.toSeq}")
    assert(head.count() == 6)
    assert(head.filter($"extra".isNull).count() == 4,
      "pre-evolution rows must surface NULL for the added column")
    assert(head.filter($"extra" === "x").count() == 2)
    // time travel: the pre-evolution version presents EXACTLY the
    // schema it was committed with — history is never rewritten
    val old = Snapshots.readAt(spark, root, v1)
    assert(old.columns.toSeq == Seq("id") && old.count() == 4)
  }

  test("partition-pruned snapshot read plans over only matching files, across eras") {
    val root = freshRoot("snappruspec")
    Snapshots.commit(root)(out =>
      spark.range(20).select($"id", ($"id" % 4).cast("string").as("p"))
        .write.partitionBy("p").mode("append").parquet(out))
    Snapshots.commitAppend(root)(out =>
      spark.range(20, 30).select($"id", ($"id" % 2).cast("string").as("p"))
        .write.partitionBy("p").mode("append").parquet(out))
    val all = Snapshots.resolve(root).get.files
    assert(all.forall(_.contains("/p=")), "partitioned staging must pin leaf files")
    val pruned = Snapshots.readPartitionPruned(spark, root, "p", Seq("1"))
    val scanned = plannedFiles(pruned)
    assert(scanned.nonEmpty && scanned.forall(_.contains("/p=1/")),
      s"pruned plan leaked non-matching files: $scanned")
    assert(scanned.size < all.size, "pruning must drop the other partitions' files")
    // era1: id%4==1 → 1,5,9,13,17; era2: id%2==1 → 21,23,25,27,29
    assert(pruned.count() == 10)
    assert(pruned.filter($"p" =!= "1").count() == 0)
    assert(pruned.select($"id").as[Long].collect().toSet ==
      Set(1L, 5L, 9L, 13L, 17L, 21L, 23L, 25L, 27L, 29L))
  }

  test("merge-on-read delete: base files never move, deletes stack, vacuum keeps them, rewrite absorbs") {
    val (t, root) = morTable("morspec", "id BIGINT, v DOUBLE")
    val v1 = Snapshots.commit(root)(out =>
      spark.range(10).select($"id", ($"id" * 1.0).as("v"))
        .write.mode("append").parquet(out))
    val baseFiles = Snapshots.resolve(root).get.files
    deleteIds(root, 8L, 9L)
    val snap2 = Snapshots.resolve(root).get
    assert(snap2.files == baseFiles, "MOR delete must not touch base files")
    assert(snap2.deletes.nonEmpty && snap2.deletes.forall(_.keyCol == "id"))
    assert(Snapshots.read(spark, root).count() == 8)
    assert(Snapshots.readAt(spark, root, v1).count() == 10,
      "time travel to the pre-delete version must see every row")
    // the read-side apply is ONE MOR scan with the keys inline — no
    // join and no exchange of any kind: the base never shuffles
    val plan = Snapshots.read(spark, root).queryExecution.executedPlan
    val morScans = plan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
        if b.scan.description().contains("MOR scan") => b.scan.description()
    }
    assert(morScans.size == 1 &&
      morScans.head.contains(s"${snap2.deletes.size} delete file(s), inline keys") &&
      !plan.toString.contains("Exchange"),
      s"deletes must apply inside one MOR scan with no exchange:\n$plan")
    // stacked deletes compose
    deleteIds(root, 0L, 1L)
    assert(Snapshots.read(spark, root).count() == 6)
    assert(Snapshots.resolve(root).get.deletes.size >= 2)
    // a DELETE matching nothing commits nothing
    val vBefore = Snapshots.maxCommitted(root)
    spark.sql(s"DELETE FROM $t WHERE id > 100")
    assert(Snapshots.maxCommitted(root) == vBefore, "empty delete must be a no-op")
    // vacuum to the head alone: referenced delete files survive the sweep
    Snapshots.vacuum(root, keepLast = 1)
    assert(Snapshots.read(spark, root).count() == 6,
      "vacuum must keep delete files the head still references")
    // a rewrite commit materializes survivors and clears the deletes
    Snapshots.commit(root)(out =>
      Snapshots.read(spark, root).write.mode("append").parquet(out))
    val head = Snapshots.resolve(root).get
    assert(head.deletes.isEmpty, "a rewrite must absorb pending deletes")
    assert(Snapshots.read(spark, root).count() == 6)
    assert(Snapshots.read(spark, root).select($"id").as[Long].collect().toSet ==
      (2L to 7L).toSet)
  }

  test("merge-on-read upsert: one atomic commit, old versions hidden, re-inserted keys visible") {
    val (t, root) = morTable("morupspec", "id BIGINT, v DOUBLE")
    val v1 = Snapshots.commit(root)(out =>
      spark.range(10).select($"id", lit(1.0).as("v"))
        .write.mode("append").parquet(out))
    val baseFiles = Snapshots.resolve(root).get.files
    spark.sql(s"UPDATE $t SET v = 2.0 WHERE id < 3")
    // exactly ONE commit happened, base files still pinned
    val snap = Snapshots.resolve(root).get
    assert(snap.version == v1 + 1, "an upsert is one atomic commit")
    assert(baseFiles.forall(snap.files.contains), "base files must not move")
    val head = Snapshots.read(spark, root)
    assert(head.count() == 10, "upsert must not change the row count")
    assert(head.filter($"v" === 2.0).count() == 3)
    assert(head.filter($"v" === 1.0).count() == 7)
    assert(Snapshots.readAt(spark, root, v1).filter($"v" === 2.0).count() == 0,
      "time travel must see the pre-upsert values")
    // an UPDATE matching nothing commits nothing
    spark.sql(s"UPDATE $t SET v = 9.9 WHERE id > 100")
    assert(Snapshots.maxCommitted(root) == snap.version)
    // scoping: delete a key, then APPEND it back — the re-insert is
    // visible because the delete covers only the files before it
    deleteIds(root, 5L)
    assert(Snapshots.read(spark, root).count() == 9)
    Snapshots.commitAppend(root)(out =>
      Seq((5L, 9.0)).toDF("id", "v").write.mode("append").parquet(out))
    val reRead = Snapshots.read(spark, root)
    assert(reRead.count() == 10, "a re-inserted key must be visible")
    assert(reRead.filter($"id" === 5).select($"v").as[Double].collect().toSeq
      == Seq(9.0), "the re-insert must carry the NEW value, not the deleted one")
  }

  test("partition-pruned reads compose with pending merge-on-read deletes, version-scoped") {
    val root = freshRoot("snapprudel")
    Snapshots.commit(root)(out =>
      spark.range(10).select($"id", ($"id" % 2).cast("string").as("p"))
        .write.partitionBy("p").mode("append").parquet(out))
    deleteIds(root, 3L)
    // pruned read with the delete pending: delete-applied rows of ONLY
    // the requested partition — no rewrite-first required
    val pruned = Snapshots.readPartitionPruned(spark, root, "p", Seq("1"))
    // the pin is that no OTHER partition's data file leaks into the
    // plan (the delete keys ride inside the MOR scan, not as files)
    assert(!plannedFiles(pruned).exists(_.contains("/p=0/")),
      "pruning must still drop non-matching partitions with deletes pending")
    assert(plannedFiles(pruned).exists(_.contains("/p=1/")))
    assert(pruned.select($"id").as[Long].collect().toSet ==
      Set(1L, 5L, 7L, 9L), "the pending delete must apply to the pruned read")
    // version scoping survives pruning: re-append id=3 AFTER the delete
    // — the delete covers only older files, so the new row is visible
    Snapshots.commitAppend(root)(out =>
      spark.range(3, 4).select($"id", lit("1").as("p"))
        .write.partitionBy("p").mode("append").parquet(out))
    // a second stacked delete hides id=7 everywhere below its version
    deleteIds(root, 7L)
    val stacked = Snapshots.readPartitionPruned(spark, root, "p", Seq("1"))
    assert(stacked.select($"id").as[Long].collect().toSet ==
      Set(1L, 3L, 5L, 9L),
      "re-inserted key visible, both stacked deletes applied, only p=1 rows")
    // the untouched partition reads delete-applied too
    assert(Snapshots.readPartitionPruned(spark, root, "p", Seq("0"))
      .select($"id").as[Long].collect().toSet == Set(0L, 2L, 4L, 6L, 8L))
  }

  test("partition pruning matches values Spark escapes in path segments") {
    val root = freshRoot("snappruesc")
    // ':' and ' ' are escaped by partitionBy (e.g. ':' → '%3A'); a
    // raw-value match would find no files and throw
    Snapshots.commit(root)(out =>
      spark.range(6)
        .select($"id", when($"id" % 2 === 0, lit("a:b c")).otherwise(lit("plain")).as("p"))
        .write.partitionBy("p").mode("append").parquet(out))
    val pruned = Snapshots.readPartitionPruned(spark, root, "p", Seq("a:b c"))
    assert(pruned.select($"id").as[Long].collect().toSet == Set(0L, 2L, 4L))
    assert(pruned.select($"p").distinct().as[String].collect().toSeq == Seq("a:b c"),
      "the partition column must round-trip the unescaped value")
  }

  test("a crashed writer's leftover tmp manifest never resolves and never blocks the next commit") {
    val root = freshRoot("snaptorn")
    Snapshots.commit(root)(writeTagged(_, tag = 1, rows = 10))
    // a writer that died between staging its manifest and the atomic
    // rename leaves a .tmp_* file in _commits — not a manifest
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, "_commits", ".tmp_99999_2"),
      "bogus/file.parquet".getBytes("UTF-8"))
    assert(Snapshots.maxCommitted(root) == 1L,
      "a torn tmp file must not advance the head")
    val v = Snapshots.commit(root)(writeTagged(_, tag = 2, rows = 5))
    assert(v == 2L && Snapshots.read(spark, root).count() == 5)
  }

  test("vacuum retains the newest K versions and reclaims the rest") {
    val root = freshRoot("snapvac")
    (1 to 5).foreach(t => Snapshots.commit(root)(writeTagged(_, t, 10L)))
    Snapshots.vacuum(root, keepLast = 2)
    def dirsAt(v: Long): Seq[java.nio.file.Path] = {
      import scala.jdk.CollectionConverters._
      val ls = java.nio.file.Files.list(java.nio.file.Paths.get(root))
      try ls.iterator().asScala.filter(
        _.getFileName.toString.startsWith(Snapshots.versionPrefix(v))).toSeq
      finally ls.close()
    }
    (1L to 3L).foreach { v =>
      assert(dirsAt(v).isEmpty, s"v$v data must be reclaimed")
    }
    (4L to 5L).foreach { v =>
      assert(dirsAt(v).nonEmpty, s"v$v must survive keepLast=2")
    }
    val df = Snapshots.read(spark, root)
    assert(Snapshots.maxCommitted(root) == 5L && df.count() == 10)
  }

  test("table_commit_swap: head resolves to <=4 compacted files, previous version holds the 8 fragments") {
    import graft.operators.WarehouseOps
    val dir = sf("0.01")
    assert(WarehouseOps.tableCommitSwap(spark, dir).collect().nonEmpty)
    val root = Qx.tmpOut("snaptbl", dir)
    val head = Snapshots.resolve(root).get
    assert(head.files.length <= 4,
      s"compacted head must be bin-packed: ${head.files.length} files")
    val headPfx = Snapshots.versionPrefix(head.version)
    assert(head.files.forall(_.contains(headPfx)))
    // the fragmented state is the immediately preceding version
    val prev = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(
      root, "_commits", f"${head.version - 1}%08d.manifest"))
    assert(prev.size >= 8,
      s"fragmented version must keep its delta files: ${prev.size}")
  }

  test("scd2Stream: conflicting-value redelivery is a violation, drop mode side-drops with a count") {
    import graft.streaming.StreamRunner
    import graft.streaming.StreamRunner.Ev
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    def ts(minute: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-01 00:$minute%02d:00")
    // strict mode: a same-(ts,event_id) arrival with a DIFFERENT value
    // is a contradictory correction, not an idempotent redelivery
    val ms1 = MemoryStream[Ev]
    val q1 = StreamRunner.scd2Stream(ms1.toDS())
      .writeStream.format("memory").queryName("scd2conflict")
      .outputMode("append").start()
    try {
      ms1.addData(Seq(Ev(2L, ts(10), 1L, "purchase", 1.0)))
      q1.processAllAvailable()
      ms1.addData(Seq(Ev(2L, ts(10), 1L, "purchase", 9.9))) // value conflict
      val ex = intercept[Exception] { q1.processAllAvailable() }
      def causes(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: causes(t.getCause)
      assert(causes(ex).exists(c => c.isInstanceOf[IllegalStateException] &&
        c.getMessage.contains("CONFLICTING value")), s"got: $ex")
    } finally q1.stop()
    // drop mode: the same violations are side-dropped with a signal
    // (accumulator) and the stream keeps running correctly
    val droppedAcc = spark.sparkContext.longAccumulator("scd2LateDropped")
    val ms2 = MemoryStream[Ev]
    val q2 = StreamRunner.scd2Stream(ms2.toDS(),
        dropLateViolations = true, dropped = Some(droppedAcc))
      .writeStream.format("memory").queryName("scd2drop")
      .outputMode("append").start()
    try {
      ms2.addData(Seq(Ev(5L, ts(10), 7L, "purchase", 1.0)))
      q2.processAllAvailable()
      // strictly-earlier arrival AND a conflicting redelivery: both drop
      ms2.addData(Seq(
        Ev(4L, ts(5), 7L, "purchase", 2.0),
        Ev(5L, ts(10), 7L, "purchase", 3.3)))
      q2.processAllAvailable()
      // a legitimate later change still seals the open version
      ms2.addData(Seq(Ev(6L, ts(20), 7L, "purchase", 4.0)))
      q2.processAllAvailable()
      assert(droppedAcc.value == 2, s"expected 2 drops, got ${droppedAcc.value}")
      val rows = spark.table("scd2drop").collect()
      assert(rows.length == 1 && rows(0).getLong(1) == 5L &&
        rows(0).getDouble(2) == 1.0,
        s"surviving interval must be the original open version: ${rows.toSeq}")
    } finally q2.stop()
  }

  test("ewma with an all-null window is NULL, never 0/0") {
    import graft.operators.Windows
    val df = Seq(
      (1L, 1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), Option.empty[Double]),
      (1L, 2L, java.sql.Timestamp.valueOf("2024-01-01 00:01:00"), Some(4.0)))
      .toDF("user_id", "event_id", "ts", "value")
    val rows = Windows.ewma8(df).select($"event_id", $"ewma8").collect()
    assert(rows.length == 2)
    assert(rows(0).isNullAt(1),
      s"first event with NULL value must yield NULL ewma, got ${rows(0)}")
    // second row: value present, one null lag — renormalized over j=0
    assert(math.abs(rows(1).getDouble(1) - 4.0) < 1e-12)
  }

  /** Rows surfaced by the parquet SCAN node itself (before Spark's
    * residual FilterExec) — row-group/page pruning from the pushed
    * predicate is exactly what this metric measures. */
  private def scanOutputRows(paths: String*): Long = {
    val df = spark.read.parquet(paths: _*)
      .filter($"l_partkey" >= 20 && $"l_partkey" < 120 &&
        $"l_suppkey" >= 2 && $"l_suppkey" < 8)
    df.collect() // execute THIS plan so its metrics populate
    def flatten(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = p +: (p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        flatten(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        flatten(q.plan)
      case _ => p.children.flatMap(flatten)
    })
    val scans = flatten(df.queryExecution.executedPlan)
      .filter(p => p.children.isEmpty && p.metrics.contains("numOutputRows"))
    assert(scans.nonEmpty, df.queryExecution.executedPlan.toString)
    scans.map(_.metrics("numOutputRows").value).sum
  }

  test("TopKPerGroup heap overflow degrades to the spillable sort shape, not an error") {
    import graft.plans.TopK
    val docs = Tables.load(spark, sf("0.01"), "documents")
      .select($"doc_id", $"lang", $"n_chars") // ~2000 groups at k=1
    def topkPerDoc = TopK.perGroup(docs, 1, Seq("doc_id"), Seq(("n_chars", true)))
    val want = topkPerDoc.collect().map(_.toSeq).sortBy(_.toString)
    assert(want.length > 100)
    try {
      // force the overflow on every final task; default policy = sort
      spark.conf.set(TopK.MaxFinalHeapRowsKey, "100")
      val df = topkPerDoc
      val got = df.collect().map(_.toSeq).sortBy(_.toString)
      assert(got.sameElements(want),
        s"sort degrade changed results: ${got.length} vs ${want.length} rows")
      def flatten(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.SparkPlan] = p +: (p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          flatten(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          flatten(q.plan)
        case _ => p.children.flatMap(flatten)
      })
      val finalExec = flatten(df.queryExecution.executedPlan)
        .collect { case t: graft.plans.TopKPerGroupExec if !t.partial => t }
      assert(finalExec.nonEmpty)
      assert(finalExec.head.metrics("numSortFallbacks").value > 0,
        "the degrade path must actually have fired")
    } finally spark.conf.unset(TopK.MaxFinalHeapRowsKey)
  }

  test("compaction measurably restores read-side pruning (scan surfaces fewer rows)") {
    import graft.operators.WarehouseOps
    val dir = sf("0.01")
    WarehouseOps.layoutCompact(spark, dir).collect() // materialize both layouts
    // r21: the fragment writer stages one subdir per slice (parallel
    // independent write jobs)
    val frag = scanOutputRows(
      (0 until 8).map(d => s"${Qx.tmpOut("frag", dir)}/f$d"): _*)
    val comp = scanOutputRows(Qx.tmpOut("compacted", dir))
    // every fragmented delta spans the whole key grid, so its row groups
    // all match the band's min/max and the scan surfaces ~everything;
    // compacted files are cell-local, so most row groups/pages prune out
    assert(frag > 0 && comp > 0)
    assert(comp * 2 < frag,
      s"compacted layout must prune the selective scan: $comp vs $frag scan rows")
  }
}
