package graft

import graft.catalog.GraftCatalog
import graft.sources.Snapshots
import org.apache.spark.sql.DataFrame

/** The DataSourceV2 catalog, the one SQL path for snapshot tables:
  * every statement here — MERGE, UPDATE, DELETE and VERSION/TIMESTAMP
  * AS OF included — executes through SPARK'S OWN analyzer, with no
  * graft-side parsed-tree interception. Stock Spark refuses the
  * row-level statements on default-catalog tables; a table from
  * [[GraftCatalog]] accepts them. */
class CatalogSpec extends SparkSpec {
  import spark.implicits._

  private lazy val wh = {
    val dir = Qx.tmpOut("catwh", sf())
    GraftCatalog.register(spark, "snap", Some(dir))
    dir
  }

  private def rootOf(name: String): String = s"$wh/default/$name"

  private def sqlDf(q: String): DataFrame = { wh; spark.sql(q) }

  test("CREATE TABLE + INSERT INTO + SELECT round-trips through native SQL") {
    sqlDf("DROP TABLE IF EXISTS snap.default.t1")
    sqlDf("CREATE TABLE snap.default.t1 (k BIGINT, v STRING)")
    sqlDf("INSERT INTO snap.default.t1 VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    sqlDf("INSERT INTO snap.default.t1 VALUES (4, 'd')")
    assert(sqlDf("SELECT * FROM snap.default.t1").count() == 4)
    assert(sqlDf("SELECT v FROM snap.default.t1 WHERE k = 2")
      .as[String].collect().toSeq == Seq("b"))
    // two appends = two commits
    assert(Snapshots.maxCommitted(rootOf("t1")) == 2L)
  }

  test("CTAS + INSERT OVERWRITE (truncate) replace atomically") {
    sqlDf("DROP TABLE IF EXISTS snap.default.t2")
    sqlDf("CREATE TABLE snap.default.t2 AS SELECT id AS k, id * 2 AS dbl FROM range(10)")
    assert(sqlDf("SELECT sum(dbl) FROM snap.default.t2").as[Long].head() == 90L)
    sqlDf("INSERT OVERWRITE snap.default.t2 SELECT id AS k, id * 3 AS dbl FROM range(5)")
    assert(sqlDf("SELECT count(*) FROM snap.default.t2").as[Long].head() == 5L)
    assert(sqlDf("SELECT sum(dbl) FROM snap.default.t2").as[Long].head() == 30L)
    // the overwrite is a new version; the CTAS state is still readable
    val v1 = sqlDf("SELECT sum(dbl) FROM snap.default.t2 VERSION AS OF 1")
    assert(v1.as[Long].head() == 90L)
  }

  test("native VERSION AS OF / TIMESTAMP AS OF / tag resolution") {
    sqlDf("DROP TABLE IF EXISTS snap.default.tt")
    sqlDf("CREATE TABLE snap.default.tt AS SELECT id FROM range(3)")
    sqlDf("INSERT INTO snap.default.tt SELECT id FROM range(3, 10)")
    assert(sqlDf("SELECT count(*) FROM snap.default.tt VERSION AS OF 1")
      .as[Long].head() == 3L)
    assert(sqlDf("SELECT count(*) FROM snap.default.tt VERSION AS OF 2")
      .as[Long].head() == 10L)
    // tag → served through loadTable(ident, version-string)
    Snapshots.tag(rootOf("tt"), "first_load", 1L)
    assert(sqlDf("SELECT count(*) FROM snap.default.tt VERSION AS OF 'first_load'")
      .as[Long].head() == 3L)
    // timestamp of commit 1 (µs header) resolves to version 1
    val ts1 = Snapshots.commitTimestamp(rootOf("tt"), 1L).get
    val lit = java.time.Instant.ofEpochMilli(ts1 / 1000L).toString.replace("Z", "")
    assert(sqlDf(
      s"SELECT count(*) FROM snap.default.tt TIMESTAMP AS OF '$lit'")
      .as[Long].head() == 3L)
  }

  test("native DELETE (copy-on-write) rewrites survivors atomically") {
    sqlDf("DROP TABLE IF EXISTS snap.default.cow")
    sqlDf("CREATE TABLE snap.default.cow AS SELECT id AS k, id % 5 AS m FROM range(100)")
    sqlDf("DELETE FROM snap.default.cow WHERE m = 3")
    assert(sqlDf("SELECT count(*) FROM snap.default.cow").as[Long].head() == 80L)
    assert(sqlDf("SELECT count(*) FROM snap.default.cow WHERE m = 3")
      .as[Long].head() == 0L)
    // COW: no pending delete files; pre-delete version intact
    assert(Snapshots.resolve(rootOf("cow")).get.deletes.isEmpty)
    assert(sqlDf("SELECT count(*) FROM snap.default.cow VERSION AS OF 1")
      .as[Long].head() == 100L)
  }

  test("native UPDATE (copy-on-write) applies assignments, NULL-safe WHERE") {
    sqlDf("DROP TABLE IF EXISTS snap.default.cowu")
    sqlDf("CREATE TABLE snap.default.cowu AS " +
      "SELECT id AS k, CAST(id AS DOUBLE) AS bal FROM range(10)")
    sqlDf("UPDATE snap.default.cowu SET bal = bal + 100.0 WHERE k < 5")
    val out = sqlDf("SELECT sum(bal) FROM snap.default.cowu").as[Double].head()
    assert(out == (0 until 10).map(_.toDouble).sum + 500.0)
  }

  test("native MERGE INTO (copy-on-write): update + delete + insert clauses") {
    sqlDf("DROP TABLE IF EXISTS snap.default.mt")
    sqlDf("CREATE TABLE snap.default.mt AS " +
      "SELECT id AS k, CAST(10 AS BIGINT) AS v FROM range(5)") // k=0..4, v=10
    Seq((3L, 100L), (4L, 200L), (7L, 300L), (8L, 400L))
      .toDF("k", "nv").createOrReplaceTempView("merge_src")
    sqlDf("""
      MERGE INTO snap.default.mt t USING merge_src s ON t.k = s.k
      WHEN MATCHED AND s.nv >= 200 THEN DELETE
      WHEN MATCHED THEN UPDATE SET v = s.nv
      WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.nv)
    """)
    val rows = sqlDf("SELECT k, v FROM snap.default.mt ORDER BY k")
      .as[(Long, Long)].collect().toSeq
    assert(rows == Seq(0L -> 10L, 1L -> 10L, 2L -> 10L, 3L -> 100L,
      7L -> 300L, 8L -> 400L))
  }

  /** One copy-on-write and one merge-on-read table (key `k`) holding
    * `rows`, each passed to `body` with its name and root. */
  private def onCowAndMor(prefix: String, cols: String = "k BIGINT, v DOUBLE",
      rows: String = "(1, 10.0), (2, 20.0)")(body: (String, String) => Unit): Unit =
    Seq(s"${prefix}_cow" -> "", s"${prefix}_mor" -> " TBLPROPERTIES ('graft.mor.key' = 'k')")
      .foreach { case (t, props) =>
        sqlDf(s"DROP TABLE IF EXISTS snap.default.$t")
        sqlDf(s"CREATE TABLE snap.default.$t ($cols)$props")
        sqlDf(s"INSERT INTO snap.default.$t VALUES $rows")
        body(s"snap.default.$t", rootOf(t))
      }

  private def kv(table: String): Seq[(Long, Double)] =
    sqlDf(s"SELECT k, v FROM $table ORDER BY k").as[(Long, Double)].collect().toSeq

  private def messages(t: Throwable): Seq[String] =
    if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)

  test("MERGE with duplicate source keys raises cardinality violation (COW, MOR)") {
    // two source rows match target k=1: the SQL contract requires an
    // error, not a silent fan-out into two updated copies of the row
    Seq((1L, 11.0), (1L, 12.0), (3L, 30.0)).toDF("k", "v")
      .createOrReplaceTempView("merge_card_dup_s")
    onCowAndMor("mcard") { (t, root) =>
      val before = Snapshots.maxCommitted(root)
      val ex = intercept[Exception](sqlDf(
        s"""MERGE INTO $t t USING merge_card_dup_s s ON t.k = s.k
           |WHEN MATCHED THEN UPDATE SET v = s.v
           |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""".stripMargin))
      assert(messages(ex).exists(_.contains("MERGE_CARDINALITY_VIOLATION")),
        s"$t: expected the cardinality error, got: $ex")
      assert(Snapshots.maxCommitted(root) == before,
        s"$t: a cardinality-violating MERGE must not commit")
      assert(kv(t) == Seq(1L -> 10.0, 2L -> 20.0))
    }
  }

  test("insert-only MERGE tolerates duplicate source matches (COW, MOR)") {
    // k=1 matches TWICE, but no WHEN MATCHED clause consumes the match:
    // target rows pass through exactly once, only k=3 inserts
    Seq((1L, 11.0), (1L, 12.0), (3L, 30.0)).toDF("k", "v")
      .createOrReplaceTempView("merge_insonly_s")
    onCowAndMor("minsonly") { (t, root) =>
      val before = Snapshots.maxCommitted(root)
      sqlDf(s"""MERGE INTO $t t USING merge_insonly_s s ON t.k = s.k
               |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""".stripMargin)
      assert(Snapshots.maxCommitted(root) == before + 1, s"$t: one commit")
      assert(kv(t) == Seq(1L -> 10.0, 2L -> 20.0, 3L -> 30.0),
        s"$t: target rows must survive exactly once, insert applied once")
    }
  }

  test("MERGE with a misspelled SET or INSERT column raises and commits nothing") {
    Seq((1L, 11.0), (3L, 30.0)).toDF("k", "v").createOrReplaceTempView("merge_badcol_s")
    onCowAndMor("mbadcol") { (t, root) =>
      val before = Snapshots.maxCommitted(root)
      intercept[Exception](sqlDf(
        s"""MERGE INTO $t t USING merge_badcol_s s ON t.k = s.k
           |WHEN MATCHED THEN UPDATE SET vee = s.v""".stripMargin))
      intercept[Exception](sqlDf(
        s"""MERGE INTO $t t USING merge_badcol_s s ON t.k = s.k
           |WHEN NOT MATCHED THEN INSERT (kk, v) VALUES (s.k, s.v)""".stripMargin))
      assert(Snapshots.maxCommitted(root) == before, s"$t: nothing committed")
      assert(kv(t) == Seq(1L -> 10.0, 2L -> 20.0))
    }
  }

  test("UPDATE: a NULL predicate keeps the old value (COW, MOR)") {
    onCowAndMor("updnull", "k BIGINT, v DOUBLE, s STRING",
        "(1, 1.0, 'a'), (2, -1.0, 'b'), (3, NULL, 'c')") { (t, _) =>
      sqlDf(s"UPDATE $t SET s = concat(s, '!') WHERE v > 0.0")
      // k=1: v>0 TRUE → updated; k=2: FALSE → kept; k=3: NULL → kept
      val got = sqlDf(s"SELECT s FROM $t ORDER BY k").as[String].collect().toSeq
      assert(got == Seq("a!", "b", "c"), s"$t: three-valued UPDATE broke: $got")
    }
  }

  test("DELETE: a NULL predicate keeps the row (COW, MOR)") {
    onCowAndMor("delnull", rows = "(1, 1.0), (2, -1.0), (3, NULL)") { (t, _) =>
      sqlDf(s"DELETE FROM $t WHERE v > 0.0")
      val kept = sqlDf(s"SELECT k FROM $t ORDER BY k").as[Long].collect().toSeq
      assert(kept == Seq(2L, 3L), s"$t: three-valued DELETE broke: $kept")
    }
  }

  test("UPDATE with a misspelled SET column raises and commits nothing") {
    onCowAndMor("updbadcol") { (t, root) =>
      val before = Snapshots.maxCommitted(root)
      intercept[Exception](sqlDf(s"UPDATE $t SET vee = 9.0"))
      assert(Snapshots.maxCommitted(root) == before,
        s"$t: a rejected statement must not commit a version")
    }
  }

  test("DELETE through a target alias (COW, MOR)") {
    onCowAndMor("delalias") { (t, _) =>
      sqlDf(s"DELETE FROM $t AS x WHERE x.v > 15.0")
      assert(kv(t) == Seq(1L -> 10.0))
    }
  }

  test("COW UPDATE and DELETE each commit a version; earlier ones stay readable") {
    sqlDf("DROP TABLE IF EXISTS snap.default.cowver")
    sqlDf("CREATE TABLE snap.default.cowver AS SELECT id, 1.0D AS v FROM range(10)")
    val v1 = Snapshots.maxCommitted(rootOf("cowver"))
    sqlDf("UPDATE snap.default.cowver SET v = 2.0 WHERE id < 5")
    sqlDf("DELETE FROM snap.default.cowver WHERE id >= 8")
    val after = sqlDf("SELECT * FROM snap.default.cowver")
    assert(after.count() == 8)
    assert(after.filter($"v" === 2.0).count() == 5)
    // v1 is untouched history; the two statements made versions 2 and 3
    val old = sqlDf(s"SELECT * FROM snap.default.cowver VERSION AS OF $v1")
    assert(old.count() == 10 && old.filter($"v" === 1.0).count() == 10,
      "pre-statement version must stay readable and pristine")
    assert(Snapshots.maxCommitted(rootOf("cowver")) == v1 + 2)
  }

  test("MOR UPDATE/DELETE matching no row commit nothing; key update is delete+insert") {
    sqlDf("DROP TABLE IF EXISTS snap.default.morempty")
    sqlDf("CREATE TABLE snap.default.morempty (k BIGINT, v DOUBLE) " +
      "TBLPROPERTIES ('graft.mor.key' = 'k')")
    sqlDf("INSERT INTO snap.default.morempty VALUES (1, 5.0), (2, 6.0)")
    val root = rootOf("morempty")
    val v0 = Snapshots.maxCommitted(root)
    // no row matches → NO commit, no empty delete files
    sqlDf("DELETE FROM snap.default.morempty WHERE v > 100.0")
    sqlDf("UPDATE snap.default.morempty SET v = 0.0 WHERE v > 100.0")
    assert(Snapshots.maxCommitted(root) == v0,
      "statements matching nothing must not advance the head")
    assert(Snapshots.resolve(root).get.deletes.isEmpty)
    // the happy path lands one atomic delta commit
    sqlDf("UPDATE snap.default.morempty SET v = v + 1 WHERE k = 1")
    assert(kv("snap.default.morempty") == Seq(1L -> 6.0, 2L -> 6.0))
    assert(Snapshots.maxCommitted(root) == v0 + 1)
    // assigning the key column is a correct delete-old-key +
    // insert-new-key: the update arrives split, so the delete scopes
    // to the old key and the new row shines through
    sqlDf("UPDATE snap.default.morempty SET k = k + 10 WHERE k = 1")
    assert(Snapshots.maxCommitted(root) == v0 + 2)
    assert(kv("snap.default.morempty") == Seq(2L -> 6.0, 11L -> 6.0))
  }

  test("VERSION AS OF: a cross-version self-join in one statement") {
    sqlDf("DROP TABLE IF EXISTS snap.default.ttjoin")
    sqlDf("CREATE TABLE snap.default.ttjoin AS SELECT id, 'a' AS tag FROM range(5)")
    sqlDf("INSERT INTO snap.default.ttjoin SELECT id, 'b' FROM range(5, 8)")
    // "what landed since v1" — head anti-joined to v1, in ONE statement
    val added = sqlDf(
      """SELECT h.id FROM snap.default.ttjoin h
        |LEFT JOIN snap.default.ttjoin VERSION AS OF 1 o ON h.id = o.id
        |WHERE o.id IS NULL ORDER BY h.id""".stripMargin)
    assert(added.as[Long].collect().toSeq == Seq(5L, 6L, 7L))
  }

  test("TIMESTAMP AS OF resolves newest-commit-<=-literal; pre-history errors") {
    sqlDf("DROP TABLE IF EXISTS snap.default.ttts")
    sqlDf("CREATE TABLE snap.default.ttts AS SELECT id FROM range(5)")
    sqlDf("INSERT INTO snap.default.ttts SELECT id FROM range(5, 8)")
    val root = rootOf("ttts")
    val t1 = Snapshots.commitTimestamp(root, 1L).get
    val t2 = Snapshots.commitTimestamp(root, 2L).get
    assert(t1 < t2, "commit timestamps must be strictly monotonic")
    def litOf(us: Long): String = java.time.Instant
      .ofEpochSecond(us / 1000000L, (us % 1000000L) * 1000L)
      .atZone(java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS"))
    def countAsOf(ts: String): Long =
      sqlDf(s"SELECT COUNT(*) FROM snap.default.ttts TIMESTAMP AS OF '$ts'")
        .as[Long].head()
    assert(countAsOf(litOf(t1)) == 5L, "exactly v1's commit instant pins v1")
    assert(countAsOf(litOf(t2 - 1)) == 5L, "between commits resolves backward, not forward")
    assert(countAsOf(litOf(t2)) == 8L, "at v2's instant the append is visible")
    assert(countAsOf(litOf(t2 + 1000000L)) == 8L, "after the head sees the head")
    val ex = intercept[Exception](countAsOf(litOf(t1 - 1)))
    assert(messages(ex).exists(_.contains("predates retained history")), ex)
    val exExpr = intercept[Exception](countAsOf("not a timestamp"))
    assert(messages(exExpr).exists(_.contains("INVALID_TIME_TRAVEL_TIMESTAMP_EXPR")), exExpr)
  }

  test(".history and TIMESTAMP AS OF walk retained versions; a refused manifest fails") {
    sqlDf("DROP TABLE IF EXISTS snap.default.hret")
    sqlDf("CREATE TABLE snap.default.hret AS SELECT id FROM range(5)")
    (1 to 3).foreach(i => sqlDf(s"INSERT INTO snap.default.hret SELECT $i"))
    val root = rootOf("hret")
    val Seq(t2, t3, t4) = (2L to 4L).map(Snapshots.commitTimestamp(root, _).get)
    Snapshots.vacuum(root, keepLast = 2)
    def history: Seq[Long] =
      sqlDf("SELECT version FROM snap.default.hret.history ORDER BY version")
        .as[Long].collect().toSeq
    assert(history == Seq(3L, 4L))
    def countAsOf(us: Long): Long = sqlDf(
      s"SELECT COUNT(*) FROM snap.default.hret TIMESTAMP AS OF timestamp_micros($us)")
      .as[Long].head()
    assert(countAsOf(t4 - 1) == 7L, "between retained commits resolves backward")
    assert(countAsOf(t4) == 8L)
    Seq(t3 - 1, t2).foreach { us =>
      val ex = intercept[Exception](countAsOf(us))
      assert(messages(ex).exists(_.contains("predates retained history")), ex)
    }
    // a retained manifest in a retired form is refused, not dropped
    // from the history as if it had been vacuumed
    val m3 = java.nio.file.Paths.get(root, "_commits", "00000003.manifest")
    java.nio.file.Files.write(m3, "\n#del:id:/nowhere.parquet".getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.APPEND)
    val ex = intercept[Exception](history)
    assert(messages(ex).exists(m => m.contains(m3.toString) &&
      m.contains("version-less delete")), ex)
  }

  test("VERSION AS OF 'tag': a retag re-points, a missing tag raises") {
    sqlDf("DROP TABLE IF EXISTS snap.default.tttag")
    sqlDf("CREATE TABLE snap.default.tttag AS SELECT id FROM range(5)")
    sqlDf("INSERT INTO snap.default.tttag SELECT id FROM range(5, 8)")
    val root = rootOf("tttag")
    val (v1, v2) = (1L, Snapshots.maxCommitted(root))
    Snapshots.tag(root, "cut", v1)
    def countAt(ref: String): Long =
      sqlDf(s"SELECT COUNT(*) FROM snap.default.tttag VERSION AS OF $ref").as[Long].head()
    assert(countAt("'cut'") == 5L, "tag resolves to v1")
    assert(countAt(v2.toString) == 8L, "numeric versions still resolve directly")
    Snapshots.tag(root, "cut", v2) // mutable ref: re-point
    assert(countAt("'cut'") == 8L, "retag re-points the same name")
    val exMissing = intercept[Exception](countAt("'nope'"))
    assert(messages(exMissing).exists(_.contains("no tag or branch 'nope'")), exMissing)
    val exUncommitted = intercept[IllegalStateException](
      Snapshots.tag(root, "future", v2 + 7))
    assert(exUncommitted.getMessage.contains("not committed"))
    val exBadName = intercept[IllegalArgumentException](
      Snapshots.tag(root, "bad/name", v1))
    assert(exBadName.getMessage.contains("tag name"))
  }

  test("native DELETE on a merge-on-read table writes delete files, not a rewrite") {
    sqlDf("DROP TABLE IF EXISTS snap.default.mor")
    sqlDf("CREATE TABLE snap.default.mor (k BIGINT, m BIGINT) " +
      "TBLPROPERTIES ('graft.mor.key' = 'k')")
    sqlDf("INSERT INTO snap.default.mor SELECT id, id % 5 FROM range(100)")
    val filesBefore = Snapshots.resolve(rootOf("mor")).get.files.toSet
    sqlDf("DELETE FROM snap.default.mor WHERE m = 3")
    val snap = Snapshots.resolve(rootOf("mor")).get
    // MOR: base files untouched, a pending delete landed
    assert(snap.files.toSet == filesBefore, "base files must not move")
    assert(snap.deletes.nonEmpty, "a #del line must be pending")
    // the catalog scan applies it
    assert(sqlDf("SELECT count(*) FROM snap.default.mor").as[Long].head() == 80L)
    assert(sqlDf("SELECT count(*) FROM snap.default.mor WHERE m = 3")
      .as[Long].head() == 0L)
    // column pruning across the forced key col: k not selected
    assert(sqlDf("SELECT sum(m) FROM snap.default.mor").as[Long].head() ==
      (0 until 100).map(_ % 5).filter(_ != 3).sum)
  }

  test("native UPDATE on a merge-on-read table is one atomic delta commit") {
    sqlDf("DROP TABLE IF EXISTS snap.default.moru")
    sqlDf("CREATE TABLE snap.default.moru (k BIGINT, bal DOUBLE) " +
      "TBLPROPERTIES ('graft.mor.key' = 'k')")
    sqlDf("INSERT INTO snap.default.moru SELECT id, CAST(id AS DOUBLE) - 5.0 FROM range(10)")
    val vBefore = Snapshots.maxCommitted(rootOf("moru"))
    sqlDf("UPDATE snap.default.moru SET bal = bal + 100.0 WHERE bal < 0.0")
    assert(Snapshots.maxCommitted(rootOf("moru")) == vBefore + 1, "one commit")
    // rows 0..4 had bal -5..-1 → now +95..+99; rows 5..9 keep 0..4
    val total = sqlDf("SELECT sum(bal) FROM snap.default.moru").as[Double].head()
    assert(total == (95 to 99).sum.toDouble + (0 to 4).sum.toDouble)
    assert(sqlDf("SELECT count(*) FROM snap.default.moru").as[Long].head() == 10L)
    // stacked statement over the delta state: DELETE sees post-update rows
    sqlDf("DELETE FROM snap.default.moru WHERE bal >= 95.0")
    assert(sqlDf("SELECT count(*) FROM snap.default.moru").as[Long].head() == 5L)
    assert(sqlDf("SELECT sum(bal) FROM snap.default.moru").as[Double].head() ==
      (0 to 4).sum.toDouble)
  }

  test("DELETE matching every row leaves a readable empty table (COW)") {
    sqlDf("DROP TABLE IF EXISTS snap.default.wipe")
    sqlDf("CREATE TABLE snap.default.wipe AS SELECT id FROM range(7)")
    sqlDf("DELETE FROM snap.default.wipe WHERE id >= 0")
    assert(sqlDf("SELECT count(*) FROM snap.default.wipe").as[Long].head() == 0L)
    // and the table accepts new inserts afterwards
    sqlDf("INSERT INTO snap.default.wipe VALUES (42)")
    assert(sqlDf("SELECT * FROM snap.default.wipe").as[Long].collect().toSeq == Seq(42L))
  }

  test("a direct-API root reads through the catalog (schema inferred from footers)") {
    val root = rootOf("direct")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    Snapshots.commit(root)(out =>
      spark.range(20).select($"id", ($"id" * 2).as("d"))
        .write.mode("append").parquet(out))
    assert(sqlDf("SELECT sum(d) FROM snap.default.direct").as[Long].head() == 380L)
  }

  test("native ALTER TABLE ADD COLUMN: metadata-only evolution, time travel keeps the old schema") {
    sqlDf("DROP TABLE IF EXISTS snap.default.evo")
    sqlDf("CREATE TABLE snap.default.evo AS SELECT id AS k FROM range(5)")
    sqlDf("ALTER TABLE snap.default.evo ADD COLUMN v STRING")
    sqlDf("INSERT INTO snap.default.evo VALUES (100, 'new')")
    val rows = sqlDf("SELECT k, v FROM snap.default.evo ORDER BY k")
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1)))
    assert(rows.toSeq == Seq((0L, null), (1L, null), (2L, null), (3L, null),
      (4L, null), (100L, "new")),
      "pre-evolution rows must surface NULL for the added column")
    assert(sqlDf("SELECT count(*) FROM snap.default.evo WHERE v = 'new'")
      .as[Long].head() == 1L)
    // time travel to the pre-evolution version: its schema has no v
    assert(sqlDf("SELECT * FROM snap.default.evo VERSION AS OF 1")
      .columns.toSeq == Seq("k"))
    // property changes ride the same path
    sqlDf("ALTER TABLE snap.default.evo SET TBLPROPERTIES ('pipeline' = 'graft')")
    // rejected shapes stay rejected (type changes need a rewrite)
    intercept[Exception](
      sqlDf("ALTER TABLE snap.default.evo ALTER COLUMN k TYPE STRING"))
  }

  test("native RENAME/DROP COLUMN: head resolves across eras, time travel keeps old names") {
    sqlDf("DROP TABLE IF EXISTS snap.default.ren")
    sqlDf("""CREATE TABLE snap.default.ren AS
            |SELECT id AS k, CAST(id * 10 AS DOUBLE) AS amount,
            |       CONCAT('c', id) AS note
            |FROM range(5)""".stripMargin)
    sqlDf("ALTER TABLE snap.default.ren RENAME COLUMN amount TO price")
    sqlDf("INSERT INTO snap.default.ren VALUES (100, 999.0, 'post')")
    // head: pre-rename files resolve `price` from the old spelling
    val rows = sqlDf("SELECT k, price FROM snap.default.ren ORDER BY k")
      .as[(Long, Double)].collect().toSeq
    assert(rows == Seq((0L, 0.0), (1L, 10.0), (2L, 20.0), (3L, 30.0),
      (4L, 40.0), (100L, 999.0)),
      "pre-rename rows must surface their values under the NEW name")
    // filters and aggregates over the coalesced column work
    assert(sqlDf("SELECT sum(price) FROM snap.default.ren WHERE price >= 20")
      .as[Double].head() == 1089.0)
    // a second rename chains the prior-name history
    sqlDf("ALTER TABLE snap.default.ren RENAME COLUMN price TO price_usd")
    sqlDf("INSERT INTO snap.default.ren VALUES (200, 1.0, 'post2')")
    assert(sqlDf("SELECT sum(price_usd) FROM snap.default.ren")
      .as[Double].head() == 1100.0,
      "values must resolve across ALL three spellings' eras")
    // a STRADDLING version (files on both sides of a rename) presents
    // the newest spelling its own files carry, fully populated — never
    // a union schema with the values split across half-null columns
    assert(sqlDf("SELECT * FROM snap.default.ren VERSION AS OF 2")
      .columns.toSeq == Seq("k", "price", "note"))
    assert(sqlDf("SELECT sum(price) FROM snap.default.ren VERSION AS OF 2")
      .as[Double].head() == 1099.0,
      "pre-rename rows must be populated under the straddling version's name")
    assert(sqlDf("SELECT * FROM snap.default.ren VERSION AS OF 3")
      .columns.toSeq == Seq("k", "price_usd", "note"))
    // DROP COLUMN: metadata-only, bytes stay dead in place
    sqlDf("ALTER TABLE snap.default.ren DROP COLUMN note")
    assert(sqlDf("SELECT * FROM snap.default.ren").columns.toSeq
      == Seq("k", "price_usd"))
    // time travel to the pre-rename version presents the ORIGINAL names
    assert(sqlDf("SELECT * FROM snap.default.ren VERSION AS OF 1")
      .columns.toSeq == Seq("k", "amount", "note"))
    assert(sqlDf("SELECT sum(amount) FROM snap.default.ren VERSION AS OF 1")
      .as[Double].head() == 100.0)
    // name re-use is LEGAL since r18 (physical remap — the re-added
    // column reads a fresh physical spelling, never the dead bytes);
    // RENAME onto a tombstoned name stays refused (only ADD re-uses)
    sqlDf("ALTER TABLE snap.default.ren ADD COLUMN note STRING")
    assert(sqlDf("SELECT count(note) FROM snap.default.ren").as[Long].head() == 0L,
      "re-added 'note' must NOT resurface the dropped column's bytes")
    intercept[Exception](
      sqlDf("ALTER TABLE snap.default.ren RENAME COLUMN price_usd TO amount"))
    // copy-on-write statements run over the rename-aware scan
    sqlDf("DELETE FROM snap.default.ren WHERE price_usd > 500")
    assert(sqlDf("SELECT sum(price_usd) FROM snap.default.ren")
      .as[Double].head() == 101.0)
    // the rewrite re-materialized every row under current names → the
    // prior-name ledger and tombstones are cleared (pushdown scan is
    // back) and previously-tombstoned names become addable again
    val props = graft.catalog.GraftTable
      .readMeta(graft.catalog.GraftCatalog.tableRoot(spark, "snap", "default", "ren"))
      .get._2
    assert(!props.keys.exists(_.startsWith("graft.col.prior.")),
      s"rename ledger must clear after a full rewrite: $props")
    assert(!props.contains("graft.cols.dropped"))
    sqlDf("ALTER TABLE snap.default.ren ADD COLUMN amount DOUBLE")
    assert(sqlDf("SELECT sum(coalesce(amount, 0)) FROM snap.default.ren")
      .as[Double].head() == 0.0,
      "re-added name must NOT resurrect pre-rewrite bytes")
  }

  test("createTable rejects nested namespaces and reserved metadata names") {
    sqlDf("DROP TABLE IF EXISTS snap.default.nst")
    sqlDf("CREATE TABLE snap.default.nst AS SELECT id FROM range(3)")
    intercept[Exception](
      sqlDf("CREATE TABLE snap.default.nst.extra AS SELECT id FROM range(3)"))
    intercept[Exception](
      sqlDf("CREATE TABLE snap.default.history AS SELECT id FROM range(3)"))
  }

  test("writeStream.toTable lands exactly-once epoch appends in the catalog") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    sqlDf("DROP TABLE IF EXISTS snap.default.strm")
    sqlDf("CREATE TABLE snap.default.strm (v BIGINT)")
    val ms = MemoryStream[Long]
    val ckpt = Qx.tmpOut("catstrmckpt", sf())
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    val q = ms.toDF().toDF("v").writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(0))
      .toTable("snap.default.strm")
    try {
      ms.addData(1L, 2L, 3L)
      q.processAllAvailable()
      ms.addData(10L, 20L)
      q.processAllAvailable()
    } finally q.stop()
    assert(sqlDf("SELECT sum(v) FROM snap.default.strm").as[Long].head() == 36L)
    // two non-empty micro-batches = two txn-tagged commits after CREATE
    val root = rootOf("strm")
    assert(Snapshots.maxCommitted(root) == 2L)
    // the txn tags make a replayed epoch a no-op: re-committing epoch 1's
    // files through the same appId must not advance the head
    val before = Snapshots.maxCommitted(root)
    val appId = {
      // find the tag the sink wrote (dsv2-<queryId>)
      val m = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(root, "_commits", "00000001.manifest"))
      m.get(0).stripPrefix("#txn:").split(":")(0)
    }
    Snapshots.commitAppendStagedTxn(root, appId, 0L,
      Seq("/nonexistent.parquet"))
    assert(Snapshots.maxCommitted(root) == before,
      "replayed epoch must no-op on the retained txn tag")
  }

  test("metadata tables: history / files / deletes / tags as SQL") {
    sqlDf("DROP TABLE IF EXISTS snap.default.mt2")
    sqlDf("CREATE TABLE snap.default.mt2 TBLPROPERTIES ('graft.mor.key' = 'id') " +
      "AS SELECT id FROM range(10)")
    sqlDf("INSERT INTO snap.default.mt2 SELECT id FROM range(10, 20)")
    sqlDf("DELETE FROM snap.default.mt2 WHERE id < 3")
    Snapshots.tag(rootOf("mt2"), "cut_a", 2L)

    val hist = sqlDf("SELECT version, n_files, n_deletes FROM snap.default.mt2.history ORDER BY version")
      .as[(Long, Int, Int)].collect().toSeq
    assert(hist.map(_._1) == Seq(1L, 2L, 3L), s"history versions: $hist")
    assert(hist.last._3 >= 1, "head must show pending delete file(s)")
    assert(hist(1)._3 == 0, "pre-delete version has no pending deletes")

    val nFiles = sqlDf("SELECT count(*) FROM snap.default.mt2.files").as[Long].head()
    assert(nFiles == hist.last._2.toLong)
    assert(sqlDf("SELECT min(seq) FROM snap.default.mt2.files").as[Long].head() >= 1L)

    val dels = sqlDf("SELECT key_col, covers_below FROM snap.default.mt2.deletes")
      .as[(String, Long)].collect().toSeq
    assert(dels.nonEmpty && dels.forall(_ == ("id", 3L)), s"deletes: $dels")

    val tags = sqlDf("SELECT name, version FROM snap.default.mt2.tags")
      .as[(String, Long)].collect().toSeq
    assert(tags == Seq(("cut_a", 2L)))

    // metadata tables join with time travel like any other relation
    val joined = sqlDf("""
      SELECT h.version, count(*) AS rows_at
      FROM snap.default.mt2.history h
      JOIN snap.default.mt2 VERSION AS OF 1 t ON true
      WHERE h.version = 1 GROUP BY h.version""").as[(Long, Long)].head()
    assert(joined == (1L, 10L))
  }

  test("catalog DDL surface: EXISTS, SHOW TABLES, DROP") {
    sqlDf("DROP TABLE IF EXISTS snap.default.ddl1")
    sqlDf("CREATE TABLE snap.default.ddl1 (x INT)")
    val listed = sqlDf("SHOW TABLES IN snap.default").select("tableName")
      .as[String].collect().toSet
    assert(listed.contains("ddl1"))
    sqlDf("DROP TABLE snap.default.ddl1")
    assert(!spark.catalog.tableExists("snap.default.ddl1"))
  }
}
