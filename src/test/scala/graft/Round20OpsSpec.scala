package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.catalog.GraftCatalog
import graft.sources.Snapshots

/** Round-20 pins — the r19 verdict items:
  *  1. fast-forward publish is ATOMIC: a multi-commit branch squashes
  *     into ONE main commit published by a single link; a racing main
  *     committer makes the publish refuse with NOTHING linked; a crash
  *     between the link and the ref/cleanup bookkeeping is finished
  *     idempotently on re-run;
  *  2. squash scoping: branch-staged files re-pin so fork-era deletes
  *     miss them (re-insert semantics survive the publish) and future
  *     main deletes cover them.
  */
class Round20OpsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val wh = {
    val dir = Qx.tmpOut("r20wh", sf())
    GraftCatalog.register(spark, "snap", Some(dir))
    dir
  }

  private def sqlDf(q: String) = { wh; spark.sql(q) }

  private def ks(root: String): Set[Long] =
    Snapshots.read(spark, root).select("k").collect().map(_.getLong(0)).toSet

  test("fast-forward squashes a multi-commit branch into ONE atomic main commit") {
    val root = Qx.tmpOut("r20ff", sf())
    Snapshots.commit(root)(out =>
      spark.range(0, 100).selectExpr("id AS k").write.mode("append").parquet(out))
    assert(Snapshots.createBranch(root, "audit") == 1L)
    // three branch commits — the audited-as-a-whole batch
    Seq((100L, 120L), (120L, 140L), (140L, 160L)).foreach { case (a, b) =>
      Snapshots.commitToBranch(root, "audit")(out =>
        spark.range(a, b).selectExpr("id AS k").write.mode("append").parquet(out))
    }
    assert(Snapshots.branchHead(root, "audit") == 4L)
    assert(Snapshots.maxCommitted(root) == 1L, "main untouched pre-publish")
    // ONE new main version, not three: the squash commit at fork+1
    assert(Snapshots.fastForward(root, "audit") == 2L)
    assert(Snapshots.maxCommitted(root) == 2L,
      "a squash publish adds exactly one main commit regardless of branch length")
    assert(ks(root) == (0L until 160L).toSet)
    assert(Snapshots.readAt(spark, root, 1L).count() == 100L, "history intact")
    // the ref advanced to the published version; the branch continues
    assert(Snapshots.branchFork(root, "audit").contains(2L))
    Snapshots.commitToBranch(root, "audit")(out =>
      spark.range(160, 170).selectExpr("id AS k").write.mode("append").parquet(out))
    assert(Snapshots.fastForward(root, "audit") == 3L)
    assert(ks(root) == (0L until 170L).toSet)
  }

  test("a racing main commit makes fast-forward refuse with NOTHING published") {
    val root = Qx.tmpOut("r20ffrace", sf())
    Snapshots.commit(root)(out =>
      spark.range(0, 50).selectExpr("id AS k").write.mode("append").parquet(out))
    Snapshots.createBranch(root, "audit")
    Snapshots.commitToBranch(root, "audit")(out =>
      spark.range(1000, 1050).selectExpr("id AS k").write.mode("append").parquet(out))
    Snapshots.commitToBranch(root, "audit")(out =>
      spark.range(1050, 1100).selectExpr("id AS k").write.mode("append").parquet(out))
    // the racer wins version fork+1 on main
    Snapshots.commitAppend(root)(out =>
      spark.range(50, 60).selectExpr("id AS k").write.mode("append").parquet(out))
    intercept[java.util.ConcurrentModificationException](
      Snapshots.fastForward(root, "audit"))
    // all-or-nothing: main is exactly the racer's state — no branch
    // file leaked into any main manifest, no extra version appeared
    assert(Snapshots.maxCommitted(root) == 2L)
    assert(ks(root) == (0L until 60L).toSet)
    val branchOnly = Snapshots.resolveBranch(root, "audit").files
      .filterNot(Snapshots.resolveAt(root, 1L).files.contains).toSet
    (1L to 2L).foreach { v =>
      val leaked = Snapshots.resolveAt(root, v).files.toSet & branchOnly
      assert(leaked.isEmpty, s"branch files leaked into main v$v: $leaked")
    }
  }

  test("a crash between the publish link and its bookkeeping finishes on re-run") {
    val root = Qx.tmpOut("r20ffcrash", sf())
    Snapshots.commit(root)(out =>
      spark.range(0, 30).selectExpr("id AS k").write.mode("append").parquet(out))
    Snapshots.createBranch(root, "audit")
    Snapshots.commitToBranch(root, "audit")(out =>
      spark.range(30, 40).selectExpr("id AS k").write.mode("append").parquet(out))
    Snapshots.commitToBranch(root, "audit")(out =>
      spark.range(40, 50).selectExpr("id AS k").write.mode("append").parquet(out))
    // snapshot the branch log + ref, publish, then restore them —
    // reconstructing the exact on-disk state of a publisher that died
    // AFTER the atomic link and BEFORE the ref advance + cleanup
    val commits = Paths.get(root, "_commits")
    val refBytes = Files.readAllBytes(commits.resolve("audit.branch"))
    val branchDir = commits.resolve("branch_audit")
    val saved = Files.list(branchDir).iterator()
    val savedManifests = new scala.collection.mutable.HashMap[String, Array[Byte]]
    try saved.forEachRemaining(p =>
      savedManifests(p.getFileName.toString) = Files.readAllBytes(p))
    finally () // Files.list stream closed by iterator exhaustion below
    assert(Snapshots.fastForward(root, "audit") == 2L)
    Files.write(commits.resolve(".crash_ref"), refBytes)
    Files.move(commits.resolve(".crash_ref"), commits.resolve("audit.branch"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    savedManifests.foreach { case (n, bytes) =>
      Files.write(branchDir.resolve(n), bytes) }
    // the crashed publisher's re-run: detects its own squash already
    // linked, finishes the bookkeeping, returns the published version
    assert(Snapshots.fastForward(root, "audit") == 2L)
    assert(Snapshots.maxCommitted(root) == 2L, "no duplicate publish")
    assert(ks(root) == (0L until 50L).toSet)
    assert(Snapshots.branchFork(root, "audit").contains(2L), "ref advanced")
    assert(!Files.exists(branchDir.resolve("00000002.manifest")) &&
      !Files.exists(branchDir.resolve("00000003.manifest")),
      "branch-log copies cleaned up")
  }

  test("crashed rewrite-squash publish with an empty diff finishes idempotently") {
    // r21 (r20 ADVICE, medium): on a graft.changes.rewriteDiff table a
    // row-PRESERVING branch rewrite links a squash manifest carrying
    // '#rowsunchanged:1', which the recomputed squash never
    // contains — the crash-recovery probe must strip that marker too,
    // or the re-run mis-reads its own published manifest as a lost
    // race and tells the operator to re-apply the batch.
    sqlDf("DROP TABLE IF EXISTS snap.default.r21ffrd")
    sqlDf("CREATE TABLE snap.default.r21ffrd " +
      "TBLPROPERTIES ('graft.changes.rewriteDiff'='true') AS " +
      "SELECT id AS k, CAST(id * 10 AS DOUBLE) AS v FROM range(0, 40)")
    val root = s"$wh/default/r21ffrd"
    sqlDf("CALL snap.system.create_branch('default.r21ffrd', 'audit')")
    // a COW rewrite that PRESERVES every row: files replaced, diff empty
    sqlDf("UPDATE snap.default.r21ffrd.branch_audit SET v = v WHERE k < 10")
    val commits = Paths.get(root, "_commits")
    val refBytes = Files.readAllBytes(commits.resolve("audit.branch"))
    val branchDir = commits.resolve("branch_audit")
    val savedManifests = new scala.collection.mutable.HashMap[String, Array[Byte]]
    Files.list(branchDir).iterator()
      .forEachRemaining(p =>
        savedManifests(p.getFileName.toString) = Files.readAllBytes(p))
    assert(Snapshots.fastForward(root, "audit") == 2L)
    assert(Snapshots.resolveAt(root, 2L).rowsUnchanged,
      "the empty-diff squash must carry the rows-unchanged marker")
    // reconstruct the publisher that died between the link and the
    // ref/cleanup bookkeeping
    Files.write(commits.resolve(".crash_ref"), refBytes)
    Files.move(commits.resolve(".crash_ref"), commits.resolve("audit.branch"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    savedManifests.foreach { case (n, bytes) =>
      Files.write(branchDir.resolve(n), bytes) }
    // re-run: recognizes its own squash despite the marker and finishes
    assert(Snapshots.fastForward(root, "audit") == 2L)
    assert(Snapshots.maxCommitted(root) == 2L, "no duplicate publish")
    assert(sqlDf("SELECT count(*) FROM snap.default.r21ffrd").as[Long].head() == 40L)
    assert(Snapshots.branchFork(root, "audit").contains(2L), "ref advanced")
  }

  test("branch row-level SQL (COW): UPDATE + DELETE repair the batch before publish") {
    sqlDf("DROP TABLE IF EXISTS snap.default.r20bcow")
    sqlDf("CREATE TABLE snap.default.r20bcow AS " +
      "SELECT id AS k, CAST(id * 10 AS DOUBLE) AS v FROM range(0, 50)")
    val root = s"$wh/default/r20bcow"
    sqlDf("CALL snap.system.create_branch('default.r20bcow', 'audit')")
    // the risky batch: k 50..59, two rows corrupted (negative v)
    sqlDf("""INSERT INTO snap.default.r20bcow.branch_audit
            |SELECT id AS k, CAST(IF(id IN (52, 57), -1, id * 10) AS DOUBLE) AS v
            |FROM range(50, 60)""".stripMargin)
    // audit finds the corruption; the REPAIR runs on the branch:
    // one row fixable in place, one must go
    sqlDf("UPDATE snap.default.r20bcow.branch_audit SET v = 520.0 WHERE k = 52")
    sqlDf("DELETE FROM snap.default.r20bcow.branch_audit WHERE v < 0")
    // main untouched through the whole repair loop
    assert(sqlDf("SELECT count(*) FROM snap.default.r20bcow").as[Long].head() == 50L)
    assert(Snapshots.maxCommitted(root) == 1L)
    // re-audit on the branch sees the repaired batch
    assert(sqlDf("SELECT count(*) FROM snap.default.r20bcow.branch_audit " +
      "WHERE v < 0").as[Long].head() == 0L)
    sqlDf("CALL snap.system.fast_forward('default.r20bcow', 'audit')")
    assert(Snapshots.maxCommitted(root) == 2L, "one atomic squash commit")
    val rows = sqlDf("SELECT k, v FROM snap.default.r20bcow WHERE k >= 50 ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(rows == Seq(50L -> 500.0, 51L -> 510.0, 52L -> 520.0, 53L -> 530.0,
      54L -> 540.0, 55L -> 550.0, 56L -> 560.0, 58L -> 580.0, 59L -> 590.0))
    assert(sqlDf("SELECT count(*) FROM snap.default.r20bcow").as[Long].head() == 59L)
  }

  test("branch row-level SQL (keyed MOR): two delete eras squash; a third refuses") {
    sqlDf("DROP TABLE IF EXISTS snap.default.r20bmor")
    sqlDf("CREATE TABLE snap.default.r20bmor (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('graft.mor.key' = 'k')")
    sqlDf("INSERT INTO snap.default.r20bmor SELECT id, id * 2 FROM range(0, 20)")
    val root = s"$wh/default/r20bmor"
    sqlDf("CALL snap.system.create_branch('default.r20bmor', 'fix')")
    // era 1: UPDATE (delete + insert at one branch version)
    sqlDf("UPDATE snap.default.r20bmor.branch_fix SET v = 999 WHERE k < 3")
    // era 2: a later DELETE covering the update's own insert half too
    sqlDf("DELETE FROM snap.default.r20bmor.branch_fix WHERE k IN (1, 10)")
    assert(sqlDf("SELECT count(*) FROM snap.default.r20bmor").as[Long].head() == 20L,
      "main untouched by branch MOR statements")
    val branchRows = sqlDf(
      "SELECT k, v FROM snap.default.r20bmor.branch_fix WHERE k < 4 ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(branchRows == Seq(0L -> 999L, 2L -> 999L, 3L -> 6L))
    sqlDf("CALL snap.system.fast_forward('default.r20bmor', 'fix')")
    assert(Snapshots.maxCommitted(root) == 2L,
      "one squash commit on top of the INSERT (CREATE with a schema commits no version)")
    val after = sqlDf("SELECT k, v FROM snap.default.r20bmor ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(after == ((0L to 19L).filterNot(Set(1L, 10L))
      .map(k => k -> (if (k < 3) 999L else k * 2))))
    // post-publish semantics: a re-insert of a squashed-out key shines
    // through (the re-scoped deletes must not cover future appends)
    sqlDf("INSERT INTO snap.default.r20bmor VALUES (1, 111)")
    assert(sqlDf("SELECT v FROM snap.default.r20bmor WHERE k = 1")
      .as[Long].head() == 111L)
    // THREE eras (delete, append, delete, append) exceed the squash's
    // sequence slots — the publish refuses with guidance
    sqlDf("CALL snap.system.create_branch('default.r20bmor', 'fix3')")
    sqlDf("DELETE FROM snap.default.r20bmor.branch_fix3 WHERE k = 2")
    sqlDf("INSERT INTO snap.default.r20bmor.branch_fix3 VALUES (2, 222)")
    sqlDf("DELETE FROM snap.default.r20bmor.branch_fix3 WHERE k = 3")
    sqlDf("INSERT INTO snap.default.r20bmor.branch_fix3 VALUES (3, 333)")
    val e = intercept[Exception](
      sqlDf("CALL snap.system.fast_forward('default.r20bmor', 'fix3')"))
    assert(e.getMessage.contains("fast-forward between rounds"), e.getMessage)
    sqlDf("CALL snap.system.drop_branch('default.r20bmor', 'fix3')")
  }

  test("branch row-level SQL (positional MOR): DELETE stages DVs on the branch") {
    sqlDf("DROP TABLE IF EXISTS snap.default.r20bpos")
    sqlDf("CREATE TABLE snap.default.r20bpos (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('graft.mor.positional' = 'true')")
    sqlDf("INSERT INTO snap.default.r20bpos " +
      "SELECT id, concat('row', id) FROM range(0, 30)")
    val root = s"$wh/default/r20bpos"
    sqlDf("CALL snap.system.create_branch('default.r20bpos', 'purge')")
    sqlDf("DELETE FROM snap.default.r20bpos.branch_purge WHERE k % 3 = 0")
    assert(sqlDf("SELECT count(*) FROM snap.default.r20bpos").as[Long].head() == 30L)
    assert(sqlDf("SELECT count(*) FROM snap.default.r20bpos.branch_purge")
      .as[Long].head() == 20L)
    // position deletes scope by FILE IDENTITY — the squash carries them
    // verbatim and main's data files never move
    val preFiles = Snapshots.resolveAt(root, Snapshots.maxCommitted(root)).files.toSet
    sqlDf("CALL snap.system.fast_forward('default.r20bpos', 'purge')")
    assert(sqlDf("SELECT count(*) FROM snap.default.r20bpos").as[Long].head() == 20L)
    val post = Snapshots.resolveAt(root, Snapshots.maxCommitted(root))
    assert(post.files.toSet == preFiles, "a positional branch DELETE moves no data file")
    assert(post.posDeletes.nonEmpty, "the squash carries the branch's #posdel lines")
  }

  test("MERGE INTO a branch: upsert repairs land on the speculative log only") {
    sqlDf("DROP TABLE IF EXISTS snap.default.r20bmerge")
    sqlDf("CREATE TABLE snap.default.r20bmerge (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('graft.mor.key' = 'k')")
    sqlDf("INSERT INTO snap.default.r20bmerge SELECT id, id FROM range(0, 10)")
    sqlDf("CALL snap.system.create_branch('default.r20bmerge', 'audit')")
    sqlDf("""MERGE INTO snap.default.r20bmerge.branch_audit t
            |USING (SELECT id AS k, id * 100 AS v FROM range(8, 12)) s
            |ON t.k = s.k
            |WHEN MATCHED THEN UPDATE SET v = s.v
            |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""".stripMargin)
    assert(sqlDf("SELECT sum(v) FROM snap.default.r20bmerge").as[Long].head() == 45L,
      "main untouched by a branch MERGE")
    sqlDf("CALL snap.system.fast_forward('default.r20bmerge', 'audit')")
    val rows = sqlDf("SELECT k, v FROM snap.default.r20bmerge ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows == ((0L to 7L).map(k => k -> k) ++ (8L to 11L).map(k => k -> k * 100)))
  }

  test("keyed MOR composes with derived layouts: bucket and days(ts) tables") {
    import java.nio.file.{Files => JFiles, Paths => JPaths}
    // BUCKET + graft.mor.key (r20): O(matched) row-level statements on
    // a bucketed table — base files never move, delta insert halves
    // stage under the synthetic segment
    sqlDf("DROP TABLE IF EXISTS snap.default.r20morb")
    sqlDf("""CREATE TABLE snap.default.r20morb (k BIGINT, v STRING)
            |PARTITIONED BY (bucket(4, k))
            |TBLPROPERTIES ('graft.mor.key'='k')""".stripMargin)
    sqlDf("INSERT INTO snap.default.r20morb SELECT id, concat('v', id) FROM range(0, 40)")
    val root = s"$wh/default/r20morb"
    val v1Files = Snapshots.resolveAt(root, 1L).files.toSet
    assert(v1Files.forall(_.contains("/_gbucket=")))
    sqlDf("DELETE FROM snap.default.r20morb WHERE k % 10 = 0")
    sqlDf("UPDATE snap.default.r20morb SET v = 'patched' WHERE k = 7")
    val head = Snapshots.resolve(root).get
    assert(v1Files.subsetOf(head.files.toSet), "MOR statements move no base file")
    assert(head.deletes.nonEmpty, "deletes pend as MOR key files")
    val newData = head.files.toSet -- v1Files
    assert(newData.nonEmpty && newData.forall(_.contains("/_gbucket=")),
      s"delta insert halves must stage under the bucket segment: $newData")
    val got = sqlDf("SELECT k, v FROM snap.default.r20morb ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val want = (0L until 40L).filterNot(_ % 10 == 0)
      .map(k => (k, if (k == 7) "patched" else s"v$k"))
    assert(got.toSeq == want, s"${got.toSeq.diff(want)}")
    // compaction absorbs the pending deletes and re-buckets — the SPJ
    // eligibility gate (deletes empty) re-opens
    sqlDf("CALL snap.system.compact('default.r20morb')")
    val compacted = Snapshots.resolve(root).get
    assert(compacted.deletes.isEmpty && compacted.posDeletes.isEmpty)
    assert(compacted.files.forall(_.contains("/_gbucket=")))
    assert(sqlDf("SELECT count(*) FROM snap.default.r20morb").as[Long].head() == 36L)

    // days(ts) TRANSFORM + graft.mor.key
    sqlDf("DROP TABLE IF EXISTS snap.default.r20mort")
    sqlDf("""CREATE TABLE snap.default.r20mort (k BIGINT, ts TIMESTAMP, v STRING)
            |PARTITIONED BY (days(ts))
            |TBLPROPERTIES ('graft.mor.key'='k')""".stripMargin)
    sqlDf("""INSERT INTO snap.default.r20mort
            |SELECT id, timestamp'2026-05-01 08:00:00' + make_interval(0,0,0,CAST(id % 3 AS INT)),
            |       concat('t', id) FROM range(0, 12)""".stripMargin)
    sqlDf("DELETE FROM snap.default.r20mort WHERE k < 3")
    sqlDf("UPDATE snap.default.r20mort SET v = 'moved' WHERE k = 5")
    val rootT = s"$wh/default/r20mort"
    val headT = Snapshots.resolve(rootT).get
    val newT = headT.files.filterNot(Snapshots.resolveAt(rootT, 1L).files.toSet)
    assert(newT.nonEmpty && newT.forall(_.contains("/_gtpart=")),
      s"delta inserts must carry the transform segment: $newT")
    assert(sqlDf("SELECT k, v FROM snap.default.r20mort WHERE k IN (2, 5) ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq == Seq(5L -> "moved"))
    assert(JFiles.exists(JPaths.get(rootT)), "sanity")

    // the exclusions that REMAIN refused, loudly
    sqlDf("DROP TABLE IF EXISTS snap.default.r20morbad")
    val e1 = intercept[Exception](sqlDf(
      """CREATE TABLE snap.default.r20morbad (region STRING, k BIGINT)
        |PARTITIONED BY (region)
        |TBLPROPERTIES ('graft.mor.key'='k')""".stripMargin))
    assert(e1.getMessage.contains("identity"), e1.getMessage)
    val e2 = intercept[Exception](sqlDf(
      """CREATE TABLE snap.default.r20morbad (k BIGINT)
        |PARTITIONED BY (bucket(4, k))
        |TBLPROPERTIES ('graft.mor.positional'='true')""".stripMargin))
    assert(e2.getMessage.contains("positional"), e2.getMessage)
  }

  test("bucket hash stamp: legacy int-keyed tables refuse; refs claim atomically") {
    sqlDf("DROP TABLE IF EXISTS snap.default.r20bh")
    sqlDf("CREATE TABLE snap.default.r20bh (k INT, v STRING) " +
      "PARTITIONED BY (bucket(4, k))")
    sqlDf("INSERT INTO snap.default.r20bh VALUES (1, 'a'), (2, 'b')")
    val root = s"$wh/default/r20bh"
    val (sc, props) = graft.catalog.GraftTable.readMeta(root).get
    assert(props.get(graft.catalog.SnapBucket.hashVerProp)
      .contains(graft.catalog.SnapBucket.hashVer),
      "bucket tables stamp their hash discipline at CREATE")
    // a pre-r19 table (int-hash directories) has no stamp: it is
    // refused by name at load — never pruned with the long-hash rule,
    // never silently degraded to an unpruned scan
    def refused(): Unit = {
      val e = intercept[Exception](spark.table("snap.default.r20bh").where("k = 2").count())
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => Option(t.getMessage).exists(m => m.contains("retired form") &&
          m.contains(graft.catalog.SnapBucket.hashVerProp))), e)
    }
    graft.catalog.GraftTable.writeMeta(root, sc,
      props - graft.catalog.SnapBucket.hashVerProp)
    refused()
    // ...and so is the RETIRED ledger (retiring is the first escape a
    // user of such a table reaches for)
    graft.catalog.GraftTable.writeMeta(root, sc,
      props - graft.catalog.SnapBucket.hashVerProp -
        graft.catalog.SnapBucket.prop +
        (graft.catalog.SnapBucket.retiredProp ->
          props(graft.catalog.SnapBucket.prop)))
    refused()
    graft.catalog.GraftTable.writeMeta(root, sc, props)
    assert(sqlDf("SELECT count(*) FROM snap.default.r20bh").as[Long].head() == 2L)
    // a LONG-keyed table needs no stamp: long/string hashes are
    // identical under both disciplines
    sqlDf("DROP TABLE IF EXISTS snap.default.r20bhl")
    sqlDf("CREATE TABLE snap.default.r20bhl (k BIGINT, v STRING) " +
      "PARTITIONED BY (bucket(4, k))")
    sqlDf("INSERT INTO snap.default.r20bhl VALUES (1, 'a')")
    val rootL = s"$wh/default/r20bhl"
    val (scL, propsL) = graft.catalog.GraftTable.readMeta(rootL).get
    graft.catalog.GraftTable.writeMeta(rootL, scL,
      propsL - graft.catalog.SnapBucket.hashVerProp)
    assert(sqlDf("SELECT count(*) FROM snap.default.r20bhl").as[Long].head() == 1L,
      "unstamped long-keyed bucket tables stay servable")

    // ATOMIC ref claims: tags and branches race on one claim file, so
    // a same-name collision can never land both; dropping the branch
    // releases the name for either kind
    val troot = Qx.tmpOut("r20refs", sf())
    Snapshots.commit(troot)(out =>
      spark.range(3).selectExpr("id AS k").write.mode("append").parquet(out))
    Snapshots.tag(troot, "rel", 1L)
    intercept[Exception](Snapshots.createBranch(troot, "rel"))
    Snapshots.createBranch(troot, "wip")
    intercept[Exception](Snapshots.tag(troot, "wip", 1L))
    Snapshots.dropBranch(troot, "wip")
    Snapshots.tag(troot, "wip", 1L)
    assert(Snapshots.tagVersion(troot, "wip").contains(1L))
    // a drop that crashed between deleting the ref and the claim must
    // not block the name forever: a claim whose ref is gone is stale
    // debris the next creator takes over atomically
    Snapshots.createBranch(troot, "ghost")
    Files.deleteIfExists(Paths.get(troot, "_commits", "ghost.branch"))
    Snapshots.tag(troot, "ghost", 1L) // stale 'branch' claim taken over
    assert(Snapshots.tagVersion(troot, "ghost").contains(1L))
  }

  test("SET and UNSET TBLPROPERTIES of the bucket hash stamp refuse") {
    sqlDf("DROP TABLE IF EXISTS snap.default.r20bhset")
    sqlDf("CREATE TABLE snap.default.r20bhset (k INT, v STRING) " +
      "PARTITIONED BY (bucket(4, k))")
    sqlDf("INSERT INTO snap.default.r20bhset VALUES (1, 'a'), (2, 'b')")
    val root = s"$wh/default/r20bhset"
    val before = graft.catalog.GraftTable.readMeta(root).get._2
    val prop = graft.catalog.SnapBucket.hashVerProp
    Seq(s"ALTER TABLE snap.default.r20bhset SET TBLPROPERTIES ('$prop'='int')",
      s"ALTER TABLE snap.default.r20bhset SET TBLPROPERTIES ('$prop'='long')",
      s"ALTER TABLE snap.default.r20bhset UNSET TBLPROPERTIES ('$prop')").foreach { q =>
      val e = intercept[Exception](sqlDf(q).collect())
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => Option(t.getMessage).exists(_.contains(s"$prop is stamped at CREATE"))),
        s"$q: expected the stamp refusal, got $e")
    }
    assert(graft.catalog.GraftTable.readMeta(root).get._2 == before,
      "a refused ALTER must leave the properties untouched")
    assert(sqlDf("SELECT count(*) FROM snap.default.r20bhset WHERE k = 2")
      .as[Long].head() == 1L)
  }

  test("date->timestamp_ntz widening of a MOR key survives the executor key loader") {
    // force the EXECUTOR-side delete-key loader (inline gate 0): the
    // staged date keys are INT32 epoch days and must upcast to
    // midnight micros after the widening, exactly like the data scan
    spark.conf.set("spark.graft.mor.inlineDeleteBytes", "0")
    try {
      sqlDf("DROP TABLE IF EXISTS snap.default.r20dts")
      sqlDf("CREATE TABLE snap.default.r20dts (d DATE, v BIGINT) " +
        "TBLPROPERTIES ('graft.mor.key'='d')")
      sqlDf("""INSERT INTO snap.default.r20dts
              |SELECT date_add(DATE'2026-03-01', CAST(id AS INT)), id
              |FROM range(0, 10)""".stripMargin)
      sqlDf("DELETE FROM snap.default.r20dts WHERE d < DATE'2026-03-03'")
      sqlDf("ALTER TABLE snap.default.r20dts ALTER COLUMN d TYPE TIMESTAMP_NTZ")
      val rows = sqlDf("SELECT CAST(d AS STRING), v FROM snap.default.r20dts ORDER BY v")
        .collect().map(r => (r.getString(0), r.getLong(1)))
      assert(rows.length == 8 && rows.head == ("2026-03-03 00:00:00", 2L),
        s"${rows.toSeq}")
      // the pre-widening delete still hides its keys through the
      // executor loader's INT32-date upcast
      assert(sqlDf("SELECT count(*) FROM snap.default.r20dts " +
        "WHERE d < TIMESTAMP_NTZ'2026-03-03 00:00:00'").as[Long].head() == 0L)
    } finally spark.conf.unset("spark.graft.mor.inlineDeleteBytes")
  }

  test("widening lattice: date->timestamp_ntz and nested decimal growth straddle") {
    sqlDf("DROP TABLE IF EXISTS snap.default.r20widen")
    sqlDf("""CREATE TABLE snap.default.r20widen
            |(k BIGINT, d DATE, s STRUCT<x: DATE, m: DECIMAL(10,2)>)""".stripMargin)
    sqlDf("""INSERT INTO snap.default.r20widen VALUES
            |(1, DATE'2026-03-05', named_struct('x', DATE'2026-01-01',
            |                                   'm', CAST(1.25 AS DECIMAL(10,2))))""".stripMargin)
    // Iceberg v3 widenings: date -> timestamp (zoneless), decimal
    // precision growth on a NESTED field — all metadata-only
    sqlDf("ALTER TABLE snap.default.r20widen ALTER COLUMN d TYPE TIMESTAMP_NTZ")
    sqlDf("ALTER TABLE snap.default.r20widen ALTER COLUMN s.x TYPE TIMESTAMP_NTZ")
    sqlDf("ALTER TABLE snap.default.r20widen ALTER COLUMN s.m TYPE DECIMAL(20,2)")
    sqlDf("""INSERT INTO snap.default.r20widen VALUES
            |(2, TIMESTAMP_NTZ'2026-06-01 12:34:56',
            |    named_struct('x', TIMESTAMP_NTZ'2026-06-02 01:02:03',
            |                 'm', CAST(123456789012345678.99 AS DECIMAL(20,2))))""".stripMargin)
    // the straddling read serves BOTH eras under the widened schema:
    // pre-ALTER dates read as midnight NTZ, narrow decimals upcast
    val rows = sqlDf("""SELECT k, CAST(d AS STRING), CAST(s.x AS STRING),
                       |CAST(s.m AS STRING) FROM snap.default.r20widen ORDER BY k""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
    assert(rows.toSeq == Seq(
      (1L, "2026-03-05 00:00:00", "2026-01-01 00:00:00", "1.25"),
      (2L, "2026-06-01 12:34:56", "2026-06-02 01:02:03", "123456789012345678.99")),
      rows.mkString(", "))
    val sch = spark.table("snap.default.r20widen").schema
    assert(sch("d").dataType == org.apache.spark.sql.types.TimestampNTZType)
    // a pinned pre-widening read presents the narrow types its own
    // footers carry
    val pinned = sqlDf("SELECT * FROM snap.default.r20widen VERSION AS OF 1")
    assert(pinned.schema("d").dataType == org.apache.spark.sql.types.DateType)
    assert(pinned.count() == 1L)
    // the zone-adjusting TimestampType is NOT a safe widening (a date
    // has no instant), nor is a decimal scale change
    sqlDf("DROP TABLE IF EXISTS snap.default.r20widenbad")
    sqlDf("CREATE TABLE snap.default.r20widenbad (d DATE, m DECIMAL(10,2))")
    val e1 = intercept[Exception](sqlDf(
      "ALTER TABLE snap.default.r20widenbad ALTER COLUMN d TYPE TIMESTAMP"))
    assert(e1.getMessage.contains("not a safe widening") ||
      e1.getMessage.toLowerCase.contains("widening"), e1.getMessage)
    intercept[Exception](sqlDf(
      "ALTER TABLE snap.default.r20widenbad ALTER COLUMN m TYPE DECIMAL(20,4)"))
  }

  test("squash scoping: fork-era deletes miss branch rows; future deletes cover them") {
    val root = Qx.tmpOut("r20ffscope", sf())
    Snapshots.commit(root)(out =>
      spark.range(0, 10).selectExpr("id AS k").write.mode("append").parquet(out))
    // fork-era MOR delete: k < 5 vanish
    Snapshots.commitDelete(root, "k")(out =>
      spark.range(0, 5).selectExpr("id AS k").write.mode("append").parquet(out))
    assert(ks(root) == (5L until 10L).toSet)
    // the branch RE-INSERTS k = 0,1,2 — staged after the delete, so the
    // branch serves them; the squash must keep serving them on main
    Snapshots.createBranch(root, "fix")
    Snapshots.commitToBranch(root, "fix")(out =>
      spark.range(0, 3).selectExpr("id AS k").write.mode("append").parquet(out))
    assert(Snapshots.readBranch(spark, root, "fix")
      .select("k").collect().map(_.getLong(0)).toSet == Set(0L, 1L, 2L, 5L, 6L, 7L, 8L, 9L))
    Snapshots.fastForward(root, "fix")
    assert(ks(root) == Set(0L, 1L, 2L, 5L, 6L, 7L, 8L, 9L),
      "the fork-era delete must not cover rows the branch re-inserted")
    // a FUTURE main delete covers published branch rows like any other
    Snapshots.commitDelete(root, "k")(out =>
      spark.range(1, 2).selectExpr("id AS k").write.mode("append").parquet(out))
    assert(ks(root) == Set(0L, 2L, 5L, 6L, 7L, 8L, 9L),
      "a post-publish delete must cover branch-staged rows")
  }
}
