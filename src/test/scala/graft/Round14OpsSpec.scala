package graft

import graft.sources.Snapshots
import org.apache.spark.sql.functions._

/** Round-13/14 store maintenance: delete-file compaction semantics —
  * the query-level read is oracle-checked (`rewrite_deletes`); these
  * pin what the oracle can't see: the manifest shrinking, the data
  * files not moving, and scope-equivalence refusing unsafe merges. */
class Round14OpsSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(prefix: String): String = {
    val root = s"${Qx.tmpOut(prefix, sf())}/store"
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

  test("compactDeletes merges scope-equivalent delete files and touches no data") {
    val root = freshRoot("dcmerge")
    Snapshots.commit(root)(out =>
      spark.range(100).select($"id", ($"id" % 7).as("m"))
        .write.mode("append").parquet(out))
    Snapshots.commitDelete(root, "id")(out =>
      spark.range(0, 10).select($"id").write.mode("append").parquet(out))
    Snapshots.commitDelete(root, "id")(out =>
      spark.range(20, 30).select($"id").write.mode("append").parquet(out))
    Snapshots.commitDelete(root, "id")(out =>
      spark.range(40, 50).select($"id").write.mode("append").parquet(out))
    val before = Snapshots.resolve(root).get
    // each statement staged one file per write partition — the
    // realistic stacking shape compaction exists for
    assert(before.deletes.size >= 3)

    val v = Snapshots.compactDeletes(spark, root)
    val after = Snapshots.resolveAt(root, v)
    // no data file staged between the three deletes → ONE merged file
    assert(after.deletes.size == 1,
      s"expected one compacted delete file, got ${after.deletes}")
    assert(after.files == before.files, "data files must not move")
    val expected = ((10L until 20L) ++ (30L until 40L) ++ (50L until 100L)).toSet
    assert(Snapshots.read(spark, root).select($"id").as[Long].collect().toSet
      == expected)
    // pre-compaction version still readable with its own delete files
    assert(Snapshots.readAt(spark, root, before.version)
      .select($"id").as[Long].collect().toSet == expected)
  }

  test("compactDeletes refuses to merge across a re-insert era boundary") {
    val root = freshRoot("dcera")
    Snapshots.commit(root)(out =>
      spark.range(50).select($"id").write.mode("append").parquet(out))
    Snapshots.commitDelete(root, "id")(out =>
      spark.range(0, 10).select($"id").write.mode("append").parquet(out))
    // re-insert half the deleted keys — an era boundary
    Snapshots.commitAppend(root)(out =>
      spark.range(0, 5).select($"id").write.mode("append").parquet(out))
    Snapshots.commitDelete(root, "id")(out =>
      spark.range(30, 40).select($"id").write.mode("append").parquet(out))
    val v = Snapshots.compactDeletes(spark, root)
    val after = Snapshots.resolveAt(root, v)
    // the two deletes straddle the re-insert: classes must stay apart
    assert(after.deletes.size == 2,
      s"era-straddling deletes must not merge: ${after.deletes}")
    val expected = ((0L until 5L) ++ (10L until 30L) ++ (40L until 50L)).toSet
    assert(Snapshots.read(spark, root).select($"id").as[Long].collect().toSet
      == expected, "re-inserted keys must stay visible after compaction")
  }

  test("partition evolution prunes per-spec: era-A files kept, era-B band=lo pruned") {
    val root = freshRoot("pevo")
    val base = spark.range(100).select($"id",
      ($"id" % 5).cast("string").as("prio"),
      (($"id" % 2) * 1000).as("price"))
    Snapshots.commit(root)(out =>
      base.filter($"id" < 50)
        .write.partitionBy("prio").mode("append").parquet(out))
    Snapshots.commitAppend(root)(out =>
      base.filter($"id" >= 50)
        .withColumn("band", org.apache.spark.sql.functions
          .when($"price" > 0, "hi").otherwise("lo"))
        .write.partitionBy("prio", "band").mode("append").parquet(out))
    val pruned = Snapshots.readPartitionPrunedEvolved(spark, root,
      Map("prio" -> Seq("1", "2"), "band" -> Seq("hi")))
    val files = plannedFiles(pruned)
    assert(files.nonEmpty)
    // priority pruning reaches BOTH eras
    assert(files.forall(f => f.contains("/prio=1/") || f.contains("/prio=2/")),
      s"non-matching priority leaked: $files")
    // band pruning applies only where the spec carries the column
    assert(!files.exists(_.contains("/band=lo/")),
      s"provably-non-matching band=lo file leaked: $files")
    assert(files.exists(f => !f.contains("/band=")),
      "era-A files (no band in their spec) must be kept for scanning")
    // correctness end-to-end: residual re-derivation over era A
    import org.apache.spark.sql.functions._
    val got = pruned
      .withColumn("band_eff", coalesce($"band", when($"price" > 0, "hi").otherwise("lo")))
      .filter($"band_eff" === "hi")
      .select($"id").as[Long].collect().toSet
    val want = (0L until 100L)
      .filter(i => (i % 5 == 1 || i % 5 == 2) && i % 2 == 1).toSet
    assert(got == want)
  }

  test("commitRewriteStaged refuses to publish over a concurrent commit") {
    val root = freshRoot("cowconflict")
    Snapshots.commit(root)(out =>
      spark.range(100).select($"id").write.mode("append").parquet(out))
    val plannedAgainst = Snapshots.maxCommitted(root)
    // stage a survivor set computed against v1
    val stagingDir = Snapshots.newStagingDir(root)
    spark.range(50).select($"id").coalesce(1)
      .write.mode("overwrite").parquet(stagingDir)
    val staged = new java.io.File(stagingDir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getPath).toSeq
    // a concurrent append lands between the scan and the publish
    Snapshots.commitAppend(root)(out =>
      spark.range(100, 110).select($"id").write.mode("append").parquet(out))
    val e = intercept[java.util.ConcurrentModificationException] {
      Snapshots.commitRewriteStaged(root, staged,
        basedOn = Some(plannedAgainst))
    }
    assert(e.getMessage.contains("planned against version"))
    // the table is untouched: head still holds all 110 rows
    assert(Snapshots.read(spark, root).count() == 110L)
    // re-planned against the new head, the rewrite publishes fine
    val v = Snapshots.commitRewriteStaged(root, staged,
      basedOn = Some(Snapshots.maxCommitted(root)))
    assert(v == Snapshots.maxCommitted(root))
    assert(Snapshots.read(spark, root).count() == 50L)
  }

  test("SQL DELETE on a COW catalog table still works (conflict gate pass-through)") {
    val (cat, db) = ("snap_r14cow", "default")
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse",
      Qx.tmpOut("r14cowsql", sf()))
    spark.sql(s"DROP TABLE IF EXISTS $cat.$db.t14")
    spark.sql(s"CREATE TABLE $cat.$db.t14 (id BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $cat.$db.t14 SELECT id, CAST(id AS STRING) FROM range(20)")
    spark.sql(s"DELETE FROM $cat.$db.t14 WHERE id < 5")
    assert(spark.sql(s"SELECT count(*) FROM $cat.$db.t14").as[Long].head() == 15L)
    spark.sql(s"UPDATE $cat.$db.t14 SET v = 'x' WHERE id = 7")
    assert(spark.sql(s"SELECT v FROM $cat.$db.t14 WHERE id = 7").as[String].head() == "x")
  }

  test("composite-key MOR delete: both components must match, scoping per era") {
    val root = freshRoot("compkey")
    val base = spark.range(40).select(($"id" / 10).cast("long").as("g"),
      ($"id" % 10).as("line"), ($"id" * 1.0).as("v"))
    Snapshots.commit(root)(out => base.write.mode("append").parquet(out))
    // delete pairs (g=1, line<=4) — g=1 lines 5..9 must SURVIVE
    Snapshots.commitDelete(root, Seq("g", "line"))(out =>
      base.filter($"g" === 1 && $"line" <= 4).select($"g", $"line")
        .write.mode("append").parquet(out))
    val got = Snapshots.read(spark, root)
      .select($"g", $"line").as[(Long, Long)].collect().toSet
    val want = (0L until 40L).map(i => (i / 10, i % 10))
      .filterNot { case (g, l) => g == 1 && l <= 4 }.toSet
    assert(got == want, "only exact (g, line) pairs may vanish")
    // scoping: re-append two deleted pairs — visible (staged later)
    Snapshots.commitAppend(root)(out =>
      base.filter($"g" === 1 && $"line" <= 1)
        .write.mode("append").parquet(out))
    assert(Snapshots.read(spark, root).filter($"g" === 1).count() == 7L)
    // compaction path handles composite keys too
    Snapshots.commitDelete(root, Seq("g", "line"))(out =>
      base.filter($"g" === 2 && $"line" === 0).select($"g", $"line")
        .write.mode("append").parquet(out))
    Snapshots.compactDeletes(spark, root)
    assert(Snapshots.read(spark, root).count() == 40L - 5 + 2 - 1)
  }

  test("catalog MOR read past the inline gate degrades to executor-side loading") {
    val (cat, db) = ("snap_r14lazy", "default")
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", Qx.tmpOut("r14lazy", sf()))
    spark.sql(s"DROP TABLE IF EXISTS $cat.$db.big")
    spark.sql(s"CREATE TABLE $cat.$db.big (id BIGINT, v STRING) " +
      "TBLPROPERTIES ('graft.mor.key' = 'id')")
    spark.sql(s"INSERT INTO $cat.$db.big SELECT id, CAST(id AS STRING) FROM range(1000)")
    spark.sql(s"DELETE FROM $cat.$db.big WHERE id % 3 = 0")
    val expect = (0L until 1000L).filterNot(_ % 3 == 0).sum
    // force the lazy path: a 1-byte gate makes EVERY delete oversized
    val old = spark.conf.getOption("spark.graft.mor.inlineDeleteBytes")
    spark.conf.set("spark.graft.mor.inlineDeleteBytes", "1")
    try {
      assert(spark.sql(s"SELECT sum(id) FROM $cat.$db.big").as[Long].head() == expect,
        "over-gate delete sets must still read correctly (executor-side load)")
    } finally old match {
      case Some(v) => spark.conf.set("spark.graft.mor.inlineDeleteBytes", v)
      case None => spark.conf.unset("spark.graft.mor.inlineDeleteBytes")
    }
    // and the inline path agrees
    assert(spark.sql(s"SELECT sum(id) FROM $cat.$db.big").as[Long].head() == expect)
  }

  test("catalog read of a partitionBy-staged direct-API root recovers the column") {
    val wh = Qx.tmpOut("r14partwh", sf())
    val root = s"$wh/default/pdirect"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val base = spark.range(20).select($"id",
      ($"id" % 2).cast("string").as("side"))
    Snapshots.commit(root)(out =>
      base.write.partitionBy("side").mode("append").parquet(out))
    // the store API recovers the partition column...
    assert(Snapshots.read(spark, root).columns.contains("side"))
    // ...and so does the catalog relation it reads through: the path
    // segments type as Spark's partition inference types them
    val cat = "snap_r14part"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val viaCatalog = spark.sql(s"SELECT id, side FROM $cat.default.pdirect")
    assert(viaCatalog.schema("side").dataType == org.apache.spark.sql.types.IntegerType)
    assert(viaCatalog.as[(Long, Int)].collect().toSet ==
      (0L until 20L).map(i => (i, (i % 2).toInt)).toSet)
    assert(spark.sql(s"SELECT count(*) FROM $cat.default.pdirect WHERE side = 1")
      .as[Long].head() == 10L)
  }

  test("executor-side delete loading handles string keys and composite keys") {
    val (cat, db) = ("snap_r14str", "default")
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", Qx.tmpOut("r14str", sf()))
    spark.sql(s"DROP TABLE IF EXISTS $cat.$db.sk")
    spark.sql(s"CREATE TABLE $cat.$db.sk (k STRING, v BIGINT) " +
      "TBLPROPERTIES ('graft.mor.key' = 'k')")
    spark.sql(s"INSERT INTO $cat.$db.sk SELECT CONCAT('k', id), id FROM range(200)")
    spark.sql(s"DELETE FROM $cat.$db.sk WHERE v % 4 = 1")
    val expect = (0L until 200L).filterNot(_ % 4 == 1).sum
    val old = spark.conf.getOption("spark.graft.mor.inlineDeleteBytes")
    spark.conf.set("spark.graft.mor.inlineDeleteBytes", "1")
    try {
      // string keys through the parquet-hadoop Group loader (UTF8String
      // catalyst form must match the row values)
      assert(spark.sql(s"SELECT sum(v) FROM $cat.$db.sk").as[Long].head() == expect)
      // composite (long, long) keys through the same loader, direct API
      val root = freshRoot("lazycomp")
      val base = spark.range(60).select(($"id" / 10).cast("long").as("a"),
        ($"id" % 10).as("b"), $"id".as("v"))
      Snapshots.commit(root)(out => base.write.mode("append").parquet(out))
      Snapshots.commitDelete(root, Seq("a", "b"))(out =>
        base.filter($"a" === 2 && $"b" <= 4).select($"a", $"b")
          .write.mode("append").parquet(out))
      // catalog read of the direct root exercises MorScan's lazy sets
      val cat2 = "snap_r14lzc"
      spark.conf.set(s"spark.sql.catalog.$cat2", "graft.catalog.GraftCatalog")
      spark.conf.set(s"spark.sql.catalog.$cat2.warehouse",
        new java.io.File(root).getParentFile.getParent + "")
      val ns = new java.io.File(root).getParentFile.getName
      val nm = new java.io.File(root).getName
      val got = spark.sql(s"SELECT count(*) FROM $cat2.`$ns`.`$nm`").as[Long].head()
      assert(got == 55L, s"5 (a=2, b<=4) rows must vanish, got $got")
    } finally old match {
      case Some(v) => spark.conf.set("spark.graft.mor.inlineDeleteBytes", v)
      case None => spark.conf.unset("spark.graft.mor.inlineDeleteBytes")
    }
  }

  test("non-key RENAME COLUMN composes with pending merge-on-read deletes") {
    val (cat, db) = ("snap_r14morren", "default")
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", Qx.tmpOut("r14morren", sf()))
    spark.sql(s"DROP TABLE IF EXISTS $cat.$db.mr")
    spark.sql(s"CREATE TABLE $cat.$db.mr (id BIGINT, amount DOUBLE) " +
      "TBLPROPERTIES ('graft.mor.key' = 'id')")
    spark.sql(s"INSERT INTO $cat.$db.mr SELECT id, id * 1.0 FROM range(100)")
    // pending MOR delete, THEN a non-key rename — both must apply
    spark.sql(s"DELETE FROM $cat.$db.mr WHERE id % 10 = 0")
    spark.sql(s"ALTER TABLE $cat.$db.mr RENAME COLUMN amount TO price")
    spark.sql(s"INSERT INTO $cat.$db.mr VALUES (1000, 7.5)")
    // pre-rename files resolve `price` from `amount`; deleted ids stay hidden
    val expect = (0L until 100L).filterNot(_ % 10 == 0).map(_ * 1.0).sum + 7.5
    assert(spark.sql(s"SELECT sum(price) FROM $cat.$db.mr").as[Double].head()
      == expect)
    assert(spark.sql(s"SELECT count(*) FROM $cat.$db.mr WHERE price < 5")
      .as[Long].head() == 4L, "ids 1..4 survive, 0 deleted")
    // r16: the KEY column renames too — pending `#del` lines keep
    // their commit-time spelling and resolve through the rename
    // ledger; graft.mor.key follows the rename
    spark.sql(s"ALTER TABLE $cat.$db.mr RENAME COLUMN id TO pk")
    assert(spark.sql(s"SELECT sum(price) FROM $cat.$db.mr").as[Double].head()
      == expect, "renamed key must still scope the pending deletes")
    spark.sql(s"DELETE FROM $cat.$db.mr WHERE pk = 1000")
    assert(spark.sql(s"SELECT count(*) FROM $cat.$db.mr").as[Long].head() == 90L,
      "a post-rename DELETE stages under the new spelling and applies")
  }

  test("empty-result reads: delete-only change range, unmatched partition, DELETE-all table") {
    // delete-only commit adds no files → readChanges is EMPTY, not an error
    val root = freshRoot("emptyreads")
    spark.range(30).select($"id", ($"id" % 3).cast("string").as("p"))
      .createOrReplaceTempView("er_base")
    Snapshots.commit(root)(out =>
      spark.table("er_base").write.mode("append").parquet(out))
    val v1 = Snapshots.maxCommitted(root)
    Snapshots.commitDelete(root, "id")(out =>
      spark.range(5).select($"id").write.mode("append").parquet(out))
    val v2 = Snapshots.maxCommitted(root)
    val changes = Snapshots.readChanges(spark, root, v1, v2)
    assert(changes.count() == 0L && changes.columns.contains("id"),
      "a delete-only range must read as an empty frame, schema intact")
    // a partition selection matching nothing is a valid empty result
    val proot = freshRoot("emptyprune")
    Snapshots.commit(proot)(out =>
      spark.table("er_base").write.partitionBy("p").mode("append").parquet(out))
    val pruned = Snapshots.readPartitionPruned(spark, proot, "p", Seq("nope"))
    assert(pruned.count() == 0L && pruned.columns.contains("id"))
    assert(Snapshots.readPartitionPrunedEvolved(spark, proot,
      Map("p" -> Seq("nope"))).count() == 0L)
    // a catalog DELETE matching every row leaves a ZERO-FILE snapshot —
    // the direct-API read must shape an empty frame from the declared
    // schema instead of failing parquet schema inference
    val (cat, db) = ("snap_r14empty", "default")
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", Qx.tmpOut("r14empty", sf()))
    spark.sql(s"DROP TABLE IF EXISTS $cat.$db.wiped")
    spark.sql(s"CREATE TABLE $cat.$db.wiped (id BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $cat.$db.wiped SELECT id, 'x' FROM range(10)")
    spark.sql(s"DELETE FROM $cat.$db.wiped WHERE id >= 0")
    val wroot = graft.catalog.GraftCatalog.tableRoot(spark, cat, db, "wiped")
    val direct = Snapshots.read(spark, wroot)
    assert(direct.count() == 0L && direct.columns.toSeq == Seq("id", "v"))
  }

  test("vacuum spares in-flight dsv2 staging and reclaims stale staging + tmp manifests") {
    val root = freshRoot("vacgrace")
    Snapshots.commit(root)(out =>
      spark.range(10).select($"id").write.mode("append").parquet(out))
    Snapshots.commit(root)(out =>
      spark.range(10).select($"id").write.mode("append").parquet(out))
    // a fresh (in-flight) DSV2 staging dir: version 0 sits below every
    // retention floor, but vacuum must NOT touch it inside the grace
    val fresh = Snapshots.newStagingDir(root)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(fresh))
    spark.range(3).select($"id").coalesce(1).write.mode("append").parquet(fresh)
    Snapshots.vacuum(root, keepLast = 1)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(fresh)),
      "vacuum must not reclaim an in-flight staging dir inside the grace window")
    // age the dir past the grace → reclaimed (crashed writer cleanup)
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 48L * 3600 * 1000)
    java.nio.file.Files.setLastModifiedTime(java.nio.file.Paths.get(fresh), old)
    // a stale orphaned manifest tmp file goes with it
    val tmp = java.nio.file.Paths.get(root, "_commits", ".tmp_dead_1")
    java.nio.file.Files.write(tmp, "zombie".getBytes)
    java.nio.file.Files.setLastModifiedTime(tmp, old)
    Snapshots.vacuum(root, keepLast = 1)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(fresh)),
      "a quiet-past-grace staging dir is a crashed writer's orphan")
    assert(!java.nio.file.Files.exists(tmp),
      "stale manifest tmp files must be reclaimed")
    assert(Snapshots.read(spark, root).count() == 10L, "table unharmed")
  }

  test("compactDeletes is a no-op when nothing can merge") {
    val root = freshRoot("dcnoop")
    Snapshots.commit(root)(out =>
      spark.range(20).select($"id").write.mode("append").parquet(out))
    Snapshots.commitDelete(root, "id")(out =>
      spark.range(0, 3).select($"id").coalesce(1)
        .write.mode("append").parquet(out))
    val head = Snapshots.maxCommitted(root)
    assert(Snapshots.compactDeletes(spark, root) == head,
      "a single single-file pending delete compacts to itself without a new commit")
    assert(Snapshots.maxCommitted(root) == head)
  }
}
