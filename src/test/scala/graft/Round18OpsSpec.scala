package graft

import graft.catalog.GraftCatalog
import graft.sources.Snapshots

/** Round-18 pins — the r17 verdict items:
  *  1. bloom sidecars are written EXECUTOR-SIDE in the distributed
  *     sketch pass (a many-files commit never moves sketch bytes
  *     through the driver);
  *  2. remove_orphan_files refuses sub-day grace windows (see
  *     Round17OpsSpec's sweep test for the 72h fixture);
  *  3. the commit funnel refuses '_gbucket=' staging on roots without
  *     a declared bucket layout.
  */
class Round18OpsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val wh = {
    val dir = Qx.tmpOut("r18wh", sf())
    GraftCatalog.register(spark, "snap", Some(dir))
    dir
  }

  private def sqlDf(q: String) = { wh; spark.sql(q) }

  test("a 64-file bloom commit writes every sidecar executor-side and still prunes") {
    sqlDf("DROP TABLE IF EXISTS snap.default.r18blm")
    sqlDf("""CREATE TABLE snap.default.r18blm (k BIGINT, v DOUBLE)
            |TBLPROPERTIES ('graft.bloom.cols'='k')""".stripMargin)
    // ONE commit staging 64 files — the initial-conversion shape the
    // r17 verdict flagged: per-file sketches must be written by the
    // tasks that built them, never collected to the driver as bytes
    sqlDf("""INSERT INTO snap.default.r18blm
            |SELECT /*+ REPARTITION(64, id) */ id, id * 1.0
            |FROM range(0, 64000)""".stripMargin)
    val root = s"$wh/default/r18blm"
    val snap = Snapshots.resolve(root).get
    assert(snap.files.size >= 64, s"fixture must stage >= 64 files: ${snap.files.size}")
    // every data file carries its sidecar, written beside it by the task
    val missing = snap.files.filterNot(f =>
      java.nio.file.Files.exists(java.nio.file.Paths.get(
        Snapshots.bloomSidecar(f, "k"))))
    assert(missing.isEmpty, s"sidecars missing for ${missing.take(3)}")
    // and every file has a manifest line (blooms map keyed by file)
    assert(snap.files.forall(f => snap.blooms.get(f).exists(_.contains("k"))),
      "every staged file needs a #bloom: manifest line")
    // the sketches actually refute: an absent key plans zero files
    val none = sqlDf("SELECT * FROM snap.default.r18blm WHERE k = 99999999")
    assert(plannedFiles(none).isEmpty, "absent key must plan no files")
    assert(none.count() == 0)
    // a present key plans a strict subset (the key lives in ONE of the
    // 64 hash-partitioned files; fpp 3% admits a few more)
    val one = sqlDf("SELECT * FROM snap.default.r18blm WHERE k = 4242")
    assert(plannedFiles(one).size < snap.files.size / 2,
      s"present key should prune most files: ${plannedFiles(one).size}")
    assert(one.count() == 1)
  }

  test("restore and publishFrom carry the parent's bloom index") {
    sqlDf("DROP TABLE IF EXISTS snap.default.r18rbl")
    sqlDf("""CREATE TABLE snap.default.r18rbl (k BIGINT, v DOUBLE)
            |TBLPROPERTIES ('graft.bloom.cols'='k')""".stripMargin)
    // EVEN keys hashed over 4 files: every file's [min, max] spans the
    // domain, so only the sketches can refute an odd key inside it
    sqlDf("""INSERT INTO snap.default.r18rbl
            |SELECT /*+ REPARTITION(4, id) */ id * 2, id * 1.0
            |FROM range(0, 4000)""".stripMargin)
    val root = s"$wh/default/r18rbl"
    val v1 = Snapshots.maxCommitted(root)
    val sketched = Snapshots.resolveAt(root, v1).blooms
    assert(sketched.nonEmpty, "fixture must sketch k")
    // a by-reference publish into the bloom-enabled main keeps main's
    // carried entries
    val staging = Qx.tmpOut("r18rblstg", sf())
    Snapshots.commit(staging)(out =>
      spark.range(0, 10).selectExpr("id * 2 AS k", "CAST(id AS DOUBLE) AS v")
        .write.mode("append").parquet(out))
    Snapshots.publishFrom(root, staging)
    val published = Snapshots.resolve(root).get.blooms
    assert(sketched.forall { case (f, cols) => published.get(f).contains(cols) },
      s"publishFrom dropped main's bloom entries: ${sketched.keySet -- published.keySet}")
    // a restore republishes the restored version's entries
    sqlDf("INSERT INTO snap.default.r18rbl VALUES (1001, 1.0)")
    def absent = sqlDf("SELECT * FROM snap.default.r18rbl WHERE k = 2001")
    assert(plannedFiles(absent).isEmpty, "sketches must refute before the restore")
    Snapshots.restore(root, v1)
    assert(Snapshots.resolve(root).get.blooms == sketched,
      "a restore must carry the restored version's bloom entries")
    assert(plannedFiles(absent).isEmpty, "an absent key must plan no files after a restore")
    assert(sqlDf("SELECT count(*) FROM snap.default.r18rbl").as[Long].head() == 4000L)
  }

  test("SnapTransform ordinals match the calendar on known values") {
    import graft.catalog.SnapTransform
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    def micros(iso: String): Long =
      java.time.Instant.parse(iso).toEpochMilli * 1000L
    val days = SnapTransform.Spec("days", "ts", 0L)
    val hours = SnapTransform.Spec("hours", "ts", 0L)
    val months = SnapTransform.Spec("months", "ts", 0L)
    val years = SnapTransform.Spec("years", "ts", 0L)
    assert(SnapTransform.ordinalOf(micros("1970-01-01T00:00:00Z"), TimestampType, days) == 0L)
    assert(SnapTransform.ordinalOf(micros("1970-01-02T00:00:00Z"), TimestampType, days) == 1L)
    // pre-epoch values must FLOOR (floorDiv), not truncate toward zero
    assert(SnapTransform.ordinalOf(micros("1969-12-31T23:59:59Z"), TimestampType, days) == -1L)
    assert(SnapTransform.ordinalOf(micros("2024-03-15T17:30:00Z"), TimestampType, days) ==
      java.time.LocalDate.parse("2024-03-15").toEpochDay)
    assert(SnapTransform.ordinalOf(micros("1970-01-01T05:59:59Z"), TimestampType, hours) == 5L)
    assert(SnapTransform.ordinalOf(micros("2024-03-15T00:00:00Z"), TimestampType, months) ==
      (2024 - 1970) * 12 + 2)
    assert(SnapTransform.ordinalOf(micros("2024-12-31T23:59:59Z"), TimestampType, years) == 54L)
    // DateType carries epoch days directly
    assert(SnapTransform.ordinalOf(Integer.valueOf(19738), DateType, days) == 19738L)
    val trunc10 = SnapTransform.Spec("truncate", "k", 10L)
    assert(SnapTransform.ordinalOf(java.lang.Long.valueOf(27L), LongType, trunc10) == 20L)
    assert(SnapTransform.ordinalOf(java.lang.Long.valueOf(-1L), LongType, trunc10) == -10L)
    val trunc3 = SnapTransform.Spec("truncate", "s", 3L)
    assert(SnapTransform.ordinalOf(UTF8String.fromString("abcdef"), StringType, trunc3) ==
      UTF8String.fromString("abc"))
    assert(SnapTransform.ordinalOf(null, TimestampType, days) == null)
  }

  test("write-side ordinal Column agrees with the row/prune-side ordinal for EVERY kind") {
    // the layout is written by the SQL expression (ordinalCol) and
    // pruned/row-routed by the JVM function (ordinalOf) — any
    // disagreement silently drops rows from pruned reads, so pin
    // equality over a hostile value grid per transform kind
    import graft.catalog.SnapTransform
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.functions.col
    val micros = Seq(
      -1L, 0L, 1L, 86399999999L, 86400000000L, // epoch-day boundary
      -86400000001L,                           // pre-epoch floor
      1700000000000000L, 1706745599999999L,    // 2024-01-31T23:59:59.999999
      1706745600000000L,                       // 2024-02-01T00:00:00
      4102444800000000L)                       // 2100-01-01
    val tsDf = micros.toDF("us").selectExpr("timestamp_micros(us) AS ts", "us")
    for (kind <- Seq("years", "months", "days", "hours")) {
      val spec = SnapTransform.Spec(kind, "ts", 0L)
      val got = tsDf
        .withColumn("ord", SnapTransform.ordinalCol("ts", TimestampType, spec))
        .select("us", "ord").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      micros.foreach { u =>
        val expected = SnapTransform.ordinalOf(u, TimestampType, spec)
        assert(got(u) == expected,
          s"$kind($u): Column says ${got(u)}, row side says $expected")
      }
    }
    // DateType sources for years/months/days
    val days = Seq(-1, 0, 1, 19738, 47482)
    val dDf = days.toDF("d").selectExpr("date_from_unix_date(d) AS dt", "d")
    for (kind <- Seq("years", "months", "days")) {
      val spec = SnapTransform.Spec(kind, "dt", 0L)
      val got = dDf
        .withColumn("ord", SnapTransform.ordinalCol("dt", DateType, spec))
        .select("d", "ord").collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      days.foreach { d =>
        val expected = SnapTransform.ordinalOf(Integer.valueOf(d), DateType, spec)
        assert(got(d) == expected,
          s"$kind(date $d): Column says ${got(d)}, row side says $expected")
      }
    }
    // integer and string truncation
    val longs = Seq(-21L, -20L, -1L, 0L, 1L, 19L, 20L, Long.MaxValue / 2)
    val lDf = longs.toDF("k")
    val lSpec = SnapTransform.Spec("truncate", "k", 20L)
    val gotL = lDf.withColumn("ord", SnapTransform.ordinalCol("k", LongType, lSpec))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    longs.foreach { v =>
      val expected = SnapTransform.ordinalOf(java.lang.Long.valueOf(v), LongType, lSpec)
      assert(gotL(v) == expected, s"truncate($v): ${gotL(v)} vs $expected")
    }
    val strs = Seq("", "a", "abc", "abcdef", "héllo", "日本語のテキスト")
    val sDf = strs.toDF("s")
    val sSpec = SnapTransform.Spec("truncate", "s", 3L)
    val gotS = sDf.withColumn("ord", SnapTransform.ordinalCol("s", StringType, sSpec))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    strs.foreach { v =>
      val expected = SnapTransform.ordinalOf(
        org.apache.spark.unsafe.types.UTF8String.fromString(v), StringType, sSpec)
      assert(gotS(v) == expected.toString, s"truncate('$v'): ${gotS(v)} vs $expected")
    }
  }

  test("months(ts) end to end: layout, pruning, exact counts across month boundaries") {
    sqlDf("DROP TABLE IF EXISTS snap.default.r18mon")
    sqlDf("""CREATE TABLE snap.default.r18mon (k BIGINT, ts TIMESTAMP)
            |PARTITIONED BY (months(ts))""".stripMargin)
    // six months of every-three-days events
    sqlDf("""INSERT INTO snap.default.r18mon
            |SELECT id, timestamp_micros(CAST(1704067200000000 + id * 259200000000 AS BIGINT))
            |FROM range(0, 60)""".stripMargin)
    val full = plannedFiles(sqlDf("SELECT * FROM snap.default.r18mon")).size
    val feb = sqlDf(
      """SELECT count(*) FROM snap.default.r18mon
        |WHERE ts >= TIMESTAMP '2024-02-01 00:00:00'
        |  AND ts <  TIMESTAMP '2024-03-01 00:00:00'""".stripMargin)
    assert(plannedFiles(feb).size < full, "month range must prune")
    // Feb 2024 (leap): days 31..59 of the year → ids 11..19 (3-day grid
    // starting Jan 1) — recompute exactly
    val expected = (0 until 60).count { id =>
      val d = java.time.LocalDate.ofEpochDay(19723 + (id * 3L)) // 2024-01-01 + 3d*id
      d.getYear == 2024 && d.getMonthValue == 2
    }
    assert(feb.as[Long].head() == expected.toLong, s"feb rows: expected $expected")
  }

  test("days(ts) tables stage ordinal dirs, prune day ranges, and answer exactly") {
    sqlDf("DROP TABLE IF EXISTS snap.default.r18days")
    sqlDf("""CREATE TABLE snap.default.r18days (k BIGINT, ts TIMESTAMP, v DOUBLE)
            |PARTITIONED BY (days(ts))""".stripMargin)
    // ten days of hourly events, one commit
    sqlDf("""INSERT INTO snap.default.r18days
            |SELECT id, timestamp_micros(CAST(1700000000000000 + id * 3600000000 AS BIGINT)),
            |       id * 1.0
            |FROM range(0, 240)""".stripMargin)
    val root = s"$wh/default/r18days"
    val snap = Snapshots.resolve(root).get
    // every file sits under a _gtpart=<epoch day> segment
    assert(snap.files.forall(_.contains("/_gtpart=")),
      s"files must stage under ordinal dirs: ${snap.files.take(2)}")
    val dayDirs = snap.files.map(f =>
      f.split("/").find(_.startsWith("_gtpart=")).get).distinct
    assert(dayDirs.size >= 10, s"ten distinct days expected: $dayDirs")
    val full = plannedFiles(sqlDf("SELECT * FROM snap.default.r18days")).size
    // a one-day range predicate keeps ~1/10 of the files
    val day = sqlDf(
      """SELECT count(*) FROM snap.default.r18days
        |WHERE ts >= timestamp_micros(1700092800000000)
        |  AND ts <  timestamp_micros(1700179200000000)""".stripMargin)
    assert(plannedFiles(day).size * 3 < full,
      s"day range must prune: ${plannedFiles(day).size} of $full")
    assert(day.as[Long].head() == 24L, "24 hourly rows per day")
    // the synthetic column never surfaces
    assert(!sqlDf("SELECT * FROM snap.default.r18days").columns.contains("_gtpart"))
    // COW DELETE preserves the layout and pruning still works after it
    sqlDf("DELETE FROM snap.default.r18days WHERE k % 2 = 0")
    val snap2 = Snapshots.resolve(root).get
    assert(snap2.files.forall(_.contains("/_gtpart=")),
      "the rewrite must re-derive the ordinal layout")
    val day2 = sqlDf(
      """SELECT count(*) FROM snap.default.r18days
        |WHERE ts >= timestamp_micros(1700092800000000)
        |  AND ts <  timestamp_micros(1700179200000000)""".stripMargin)
    assert(day2.as[Long].head() == 12L)
    assert(plannedFiles(day2).size < plannedFiles(
      sqlDf("SELECT * FROM snap.default.r18days")).size)
  }

  test("truncate(w, s) string tables prune prefix ranges") {
    sqlDf("DROP TABLE IF EXISTS snap.default.r18trunc")
    sqlDf("""CREATE TABLE snap.default.r18trunc (s STRING, v BIGINT)
            |PARTITIONED BY (truncate(2, s))""".stripMargin)
    sqlDf("""INSERT INTO snap.default.r18trunc
            |SELECT concat(CASE WHEN id % 4 = 0 THEN 'aa' WHEN id % 4 = 1 THEN 'bb'
            |                   WHEN id % 4 = 2 THEN 'cc' ELSE 'dd' END,
            |              CAST(id AS STRING)), id
            |FROM range(0, 400)""".stripMargin)
    val full = plannedFiles(sqlDf("SELECT * FROM snap.default.r18trunc")).size
    val eq = sqlDf("SELECT count(*) FROM snap.default.r18trunc WHERE s = 'bb101'")
    assert(plannedFiles(eq).size < full, "prefix equality must prune")
    assert(eq.as[Long].head() == 1L)
    val range = sqlDf("SELECT count(*) FROM snap.default.r18trunc WHERE s >= 'cc'")
    assert(plannedFiles(range).size < full, "prefix range must prune")
    assert(range.as[Long].head() == 200L)
  }

  test("partition evolution: a live table adopts days(ts); both eras read and prune") {
    sqlDf("DROP TABLE IF EXISTS snap.default.r18evo")
    sqlDf("CREATE TABLE snap.default.r18evo (k BIGINT, ts TIMESTAMP, v DOUBLE)")
    // era A: five days of data staged FLAT (no layout)
    sqlDf("""INSERT INTO snap.default.r18evo
            |SELECT id, timestamp_micros(CAST(1700000000000000 + id * 3600000000 AS BIGINT)), id * 1.0
            |FROM range(0, 120)""".stripMargin)
    sqlDf("""ALTER TABLE snap.default.r18evo
            |SET TBLPROPERTIES ('graft.partition.transform'='days,ts')""".stripMargin)
    // era B: five more days under the adopted ordinal layout
    sqlDf("""INSERT INTO snap.default.r18evo
            |SELECT id, timestamp_micros(CAST(1700000000000000 + id * 3600000000 AS BIGINT)), id * 1.0
            |FROM range(120, 240)""".stripMargin)
    val root = s"$wh/default/r18evo"
    val files = Snapshots.resolve(root).get.files
    val (eraB, eraA) = files.partition(_.contains("/_gtpart="))
    assert(eraA.nonEmpty && eraB.nonEmpty, "both eras must coexist")
    assert(sqlDf("SELECT count(*) FROM snap.default.r18evo").as[Long].head() == 240L)
    // an era-B-only day range: era-B dirs prune to the matching day
    // (era-A files may additionally stats-prune on their ts bounds —
    // also metadata-only, also correct)
    val q = sqlDf(
      """SELECT count(*) FROM snap.default.r18evo
        |WHERE ts >= timestamp_micros(1700524800000000)
        |  AND ts <  timestamp_micros(1700611200000000)""".stripMargin)
    assert(q.as[Long].head() == 24L)
    val planned = plannedFiles(q)
    assert(planned.size < files.size,
      s"era-B dirs outside the day must prune: ${planned.size} of ${files.size}")
    // a day range that lives entirely in ERA A: the NULL-ordinal keep
    // rule must let those flat files supply their rows — a wrongly
    // pruned null ordinal would return 0 here
    val qa = sqlDf(
      """SELECT count(*) FROM snap.default.r18evo
        |WHERE ts >= timestamp_micros(1700092800000000)
        |  AND ts <  timestamp_micros(1700179200000000)""".stripMargin)
    assert(qa.as[Long].head() == 24L,
      "pre-evolution rows must stay visible under the transform's predicates")
    // a SECOND transform adoption is refused (ordinals would collide)
    intercept[Exception](sqlDf(
      """ALTER TABLE snap.default.r18evo
        |SET TBLPROPERTIES ('graft.partition.transform'='months,ts')""".stripMargin))
  }

  test("transform DDL guards: source column renames, never drops/retypes") {
    sqlDf("DROP TABLE IF EXISTS snap.default.r18guard")
    sqlDf("""CREATE TABLE snap.default.r18guard (k BIGINT, ts TIMESTAMP)
            |PARTITIONED BY (days(ts))""".stripMargin)
    // r18: the transform SOURCE column renames freely — ordinals are
    // value-derived; the spec follows the new name
    sqlDf("INSERT INTO snap.default.r18guard SELECT id, timestamp_micros(1700000000000000 + id * 3600000000) FROM range(0, 48)")
    sqlDf("ALTER TABLE snap.default.r18guard RENAME COLUMN ts TO event_ts")
    sqlDf("INSERT INTO snap.default.r18guard SELECT id, timestamp_micros(1700000000000000 + id * 3600000000) FROM range(48, 96)")
    assert(sqlDf(
      """SELECT count(*) FROM snap.default.r18guard
        |WHERE event_ts >= timestamp_micros(1700092800000000)
        |  AND event_ts < timestamp_micros(1700179200000000)""".stripMargin)
      .as[Long].head() == 24L, "day range answers across the rename")
    intercept[Exception](
      sqlDf("ALTER TABLE snap.default.r18guard DROP COLUMN event_ts"))
    intercept[Exception](
      sqlDf("ALTER TABLE snap.default.r18guard ALTER COLUMN event_ts TYPE DATE"))
    intercept[Exception](
      sqlDf("ALTER TABLE snap.default.r18guard ADD COLUMN _gtpart BIGINT"))
    // r19: UNSET of the layout property RETIRES the layout (DROP
    // PARTITION FIELD) instead of refusing — after it, the source
    // column drops like any other and the retired ledger is
    // system-maintained (no direct UNSET)
    sqlDf("ALTER TABLE snap.default.r18guard UNSET TBLPROPERTIES ('graft.partition.transform')")
    sqlDf("ALTER TABLE snap.default.r18guard DROP COLUMN event_ts")
    assert(sqlDf("SELECT count(k) FROM snap.default.r18guard")
      .as[Long].head() == 96L)
    intercept[Exception](sqlDf("ALTER TABLE snap.default.r18guard " +
      "UNSET TBLPROPERTIES ('graft.partition.transform.retired')"))
    // days() on a string column refused at CREATE
    sqlDf("DROP TABLE IF EXISTS snap.default.r18bad")
    intercept[Exception](sqlDf(
      "CREATE TABLE snap.default.r18bad (s STRING) PARTITIONED BY (days(s))"))
    // a declared _gtpart column refused at CREATE
    intercept[Exception](sqlDf(
      "CREATE TABLE snap.default.r18bad (_gtpart BIGINT, ts TIMESTAMP) PARTITIONED BY (days(ts))"))
  }

  test("compaction re-derives the ordinal layout") {
    sqlDf("DROP TABLE IF EXISTS snap.default.r18cmp")
    sqlDf("""CREATE TABLE snap.default.r18cmp (k BIGINT, ts TIMESTAMP)
            |PARTITIONED BY (days(ts))""".stripMargin)
    // three small commits -> fragmented files per day dir
    for (i <- 0 until 3)
      sqlDf(s"""INSERT INTO snap.default.r18cmp
               |SELECT id, timestamp_micros(CAST(1700000000000000 + id * 21600000000 AS BIGINT))
               |FROM range(${i * 40}, ${i * 40 + 40})""".stripMargin)
    sqlDf("CALL snap.system.compact('default.r18cmp')").collect()
    val root = s"$wh/default/r18cmp"
    val files = Snapshots.resolve(root).get.files
    assert(files.forall(_.contains("/_gtpart=")),
      s"compaction must keep the ordinal layout: ${files.take(2)}")
    assert(sqlDf("SELECT count(*) FROM snap.default.r18cmp").as[Long].head() == 120L)
    val full = plannedFiles(sqlDf("SELECT * FROM snap.default.r18cmp")).size
    val day = sqlDf(
      """SELECT count(*) FROM snap.default.r18cmp
        |WHERE ts >= timestamp_micros(1700092800000000)
        |  AND ts < timestamp_micros(1700179200000000)""".stripMargin)
    assert(plannedFiles(day).size < full, "pruning must survive compaction")
  }

  test("positional MOR: non-key DELETE leaves files unchanged; stacking, compaction, travel") {
    sqlDf("DROP TABLE IF EXISTS snap.default.r18pos")
    // NO unique key anywhere — the table equality deletes cannot serve
    sqlDf("""CREATE TABLE snap.default.r18pos (k BIGINT, grp BIGINT, v DOUBLE)
            |TBLPROPERTIES ('graft.mor.positional'='true')""".stripMargin)
    sqlDf("""INSERT INTO snap.default.r18pos
            |SELECT /*+ REPARTITION(4) */ id % 100, id % 7, id * 1.0
            |FROM range(0, 1000)""".stripMargin)
    val root = s"$wh/default/r18pos"
    val filesBefore = Snapshots.resolve(root).get.files.toSet
    assert(filesBefore.size >= 4)
    // DELETE on a NON-key predicate over duplicated k values: an
    // equality delete by k would over-hide (k repeats 10x)
    sqlDf("DELETE FROM snap.default.r18pos WHERE v >= 100.0 AND v < 200.0")
    val s1 = Snapshots.resolve(root).get
    assert(s1.files.toSet == filesBefore, "table data files must not move")
    assert(s1.posDeletes.nonEmpty, "posdel lines must be pending")
    assert(sqlDf("SELECT count(*) FROM snap.default.r18pos").as[Long].head() == 900L)
    // rows with the same k as deleted rows survive
    assert(sqlDf("SELECT count(*) FROM snap.default.r18pos WHERE k = 50")
      .as[Long].head() == 9L, "only the one positioned row of k=50 in [100,200) dies")
    // stacked second delete composes
    sqlDf("DELETE FROM snap.default.r18pos WHERE v < 10.0")
    assert(sqlDf("SELECT count(*) FROM snap.default.r18pos").as[Long].head() == 890L)
    val s2 = Snapshots.resolve(root).get
    assert(s2.files.toSet == filesBefore, "second delete moves no data either")
    assert(s2.posDeletes.exists(_._2.size > 1), "stacked pair files per data file")
    // the store-level read path applies them identically
    assert(Snapshots.read(spark, root).count() == 890L)
    // time travel to v1 sees every row
    assert(sqlDf("SELECT count(*) FROM snap.default.r18pos VERSION AS OF 1")
      .as[Long].head() == 1000L)
    // ... and travel INTO a version with pending posdels applies
    // exactly that version's pairs (v2 = after the first delete only)
    assert(sqlDf("SELECT count(*) FROM snap.default.r18pos VERSION AS OF 2")
      .as[Long].head() == 900L,
      "a pinned read must apply its own version's position deletes")
    // aggregate correctness through the posdel-applying scan
    val agg = sqlDf(
      """SELECT grp, count(*) AS n, CAST(SUM(v) AS BIGINT) AS sv
        |FROM snap.default.r18pos GROUP BY grp ORDER BY grp""".stripMargin).collect()
    assert(agg.map(_.getLong(1)).sum == 890L)
    // compact_deletes merges the stacked pair files (no data movement)
    sqlDf("CALL snap.system.compact_deletes('default.r18pos')").collect()
    val s3 = Snapshots.resolve(root).get
    assert(s3.files.toSet == filesBefore, "delete compaction moves no table data")
    assert(s3.posDeletes.forall(_._2.size == 1), "pair files merged per data file")
    assert(sqlDf("SELECT count(*) FROM snap.default.r18pos").as[Long].head() == 890L)
    // a full compaction (rewrite) absorbs the posdels entirely
    sqlDf("CALL snap.system.compact('default.r18pos')").collect()
    val s4 = Snapshots.resolve(root).get
    assert(s4.posDeletes.isEmpty, "the rewrite must absorb position deletes")
    assert(sqlDf("SELECT count(*) FROM snap.default.r18pos").as[Long].head() == 890L)
  }

  test("positional MOR: UPDATE is posdel + insert in one atomic commit") {
    sqlDf("DROP TABLE IF EXISTS snap.default.r18posu")
    sqlDf("""CREATE TABLE snap.default.r18posu (k BIGINT, v DOUBLE)
            |TBLPROPERTIES ('graft.mor.positional'='true')""".stripMargin)
    sqlDf("INSERT INTO snap.default.r18posu SELECT id, id * 1.0 FROM range(0, 100)")
    val root = s"$wh/default/r18posu"
    val before = Snapshots.resolve(root).get.files.toSet
    sqlDf("UPDATE snap.default.r18posu SET v = v + 1000 WHERE k < 10")
    val s1 = Snapshots.resolve(root).get
    assert(before.subsetOf(s1.files.toSet), "old files stay in place")
    assert(s1.files.size > before.size, "the insert half appends new files")
    assert(s1.posDeletes.nonEmpty, "the delete half hides old versions")
    assert(sqlDf("SELECT count(*) FROM snap.default.r18posu").as[Long].head() == 100L)
    assert(sqlDf("SELECT CAST(SUM(v) AS BIGINT) FROM snap.default.r18posu")
      .as[Long].head() == (0 until 100).map(_.toDouble).sum.toLong + 10000L)
    // guards: positional does not compose with a MOR key or PARTITIONED BY
    intercept[Exception](sqlDf(
      """ALTER TABLE snap.default.r18posu
        |SET TBLPROPERTIES ('graft.mor.key'='k')""".stripMargin))
    sqlDf("DROP TABLE IF EXISTS snap.default.r18posbad")
    intercept[Exception](sqlDf(
      """CREATE TABLE snap.default.r18posbad (k BIGINT, p STRING)
        |PARTITIONED BY (p)
        |TBLPROPERTIES ('graft.mor.positional'='true')""".stripMargin))
  }

  test("row-level CDF across an unmarked rewrite reports ONLY genuinely changed rows") {
    // the r17 caveat said a row-changing REWRITE republishes survivors:
    // that is true of the FILE-level feed (readChanges hands the
    // rewrite's files to the consumer — correctly, it is file-level),
    // but the ROW-level diff must cancel them — a survivor row is
    // byte-identical in both states and the keyed full-outer value
    // diff (<=>) suppresses it. Pin that contract across an UNMARKED
    // row-changing rewrite (a COW DELETE, which rewrites every file).
    val root = Qx.tmpOut("r18cdf", sf())
    val df = spark.range(0, 1000).selectExpr("id AS k", "CAST(id * 2.0 AS DOUBLE) AS v")
    Snapshots.commit(root)(out => df.write.mode("append").parquet(out))
    // v2: an unmarked rewrite that drops 10 rows and keeps 990
    Snapshots.commit(root)(out =>
      Snapshots.read(spark, root).filter("k >= 10")
        .write.mode("append").parquet(out))
    val changes = Snapshots.readChangesRows(spark, root, 1, 2, Seq("k"))
    val byType = changes.groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType == Map("delete" -> 10L),
      s"only the 10 genuinely deleted rows may surface: $byType")
    // and an update-shaped rewrite reports update_pre/update_post pairs
    Snapshots.commit(root)(out =>
      Snapshots.read(spark, root)
        .selectExpr("k", "CAST(CASE WHEN k < 15 THEN v + 100.0 ELSE v END AS DOUBLE) AS v")
        .write.mode("append").parquet(out))
    val changes2 = Snapshots.readChangesRows(spark, root, 2, 3, Seq("k"))
    val byType2 = changes2.groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType2 == Map("update_pre" -> 5L, "update_post" -> 5L),
      s"only the 5 genuinely updated rows (k in [10,15)) may surface: $byType2")
  }

  test("spelling re-use: a dropped name re-adds under a physical remap; dead bytes stay dead") {
    sqlDf("DROP TABLE IF EXISTS snap.default.r18reuse")
    sqlDf("""CREATE TABLE snap.default.r18reuse (k BIGINT, v DOUBLE, tag STRING)
            |TBLPROPERTIES ('graft.bloom.cols'='k')""".stripMargin)
    sqlDf("""INSERT INTO snap.default.r18reuse
            |SELECT id, id * 1.0, concat('old', id % 3) FROM range(0, 300)""".stripMargin)
    sqlDf("ALTER TABLE snap.default.r18reuse DROP COLUMN tag")
    sqlDf("INSERT INTO snap.default.r18reuse SELECT id, id * 1.0 FROM range(300, 400)")
    // r18: RE-ADDING the dropped name is legal — the column gets a
    // fresh PHYSICAL spelling; the dropped column's bytes (old0/old1/
    // old2 in the first 300 rows' files) can never resurface under it
    sqlDf("ALTER TABLE snap.default.r18reuse ADD COLUMN tag STRING")
    sqlDf("""INSERT INTO snap.default.r18reuse
            |SELECT id, id * 1.0, concat('new', id % 2) FROM range(400, 500)""".stripMargin)
    val root = s"$wh/default/r18reuse"
    // the remap ledger exists and new files carry the physical spelling
    val props = graft.catalog.GraftTable.readMeta(root).get._2
    val phys = graft.catalog.GraftTable.physOf(props)
    assert(phys.contains("tag"), s"remap ledger must record tag: $props")
    // commits: v1/v2 = the two pre-re-add inserts, v3 = the
    // post-re-add insert (DDL is metadata-only, no commit)
    val newest = Snapshots.resolve(root).get.files
      .filter(_.contains("v00000003"))
    assert(newest.nonEmpty)
    val footer = spark.read.parquet(newest: _*).schema.fieldNames.toSet
    assert(footer.contains(phys("tag")) && !footer.contains("tag"),
      s"new files must carry the PHYSICAL spelling only: $footer")
    // pre-re-add rows read NULL; post-re-add rows read their values;
    // the dead old0/old1/old2 bytes never surface
    val byTag = sqlDf(
      """SELECT tag, count(*) AS n FROM snap.default.r18reuse
        |GROUP BY tag ORDER BY tag NULLS FIRST""".stripMargin).collect()
      .map(r => Option(r.getString(0)).getOrElse("NULL") -> r.getLong(1)).toMap
    assert(byTag == Map("NULL" -> 400L, "new0" -> 50L, "new1" -> 50L),
      s"dead bytes resurfaced or new values lost: $byTag")
    // predicates on the re-added column answer exactly (and must not
    // be refuted by the dead column's parquet stats in old files)
    assert(sqlDf("SELECT count(*) FROM snap.default.r18reuse WHERE tag = 'new1'")
      .as[Long].head() == 50L)
    assert(sqlDf("SELECT count(*) FROM snap.default.r18reuse WHERE tag IS NULL")
      .as[Long].head() == 400L)
    assert(sqlDf("SELECT count(*) FROM snap.default.r18reuse WHERE tag = 'old1'")
      .as[Long].head() == 0L, "the dropped column's values are gone")
    // COW rewrite (UPDATE) keeps the remap coherent
    sqlDf("UPDATE snap.default.r18reuse SET tag = 'upd' WHERE k = 450")
    assert(sqlDf("SELECT count(*) FROM snap.default.r18reuse WHERE tag = 'upd'")
      .as[Long].head() == 1L)
    assert(sqlDf("SELECT count(*) FROM snap.default.r18reuse WHERE tag IS NULL")
      .as[Long].head() == 400L, "the rewrite must keep pre-re-add rows NULL")
    // time travel: v1 (pre-drop) presents the OLD column's values;
    // the post-re-add pinned version presents the new meaning
    val v1 = sqlDf("SELECT count(*) FROM snap.default.r18reuse VERSION AS OF 1 WHERE tag = 'old1'")
    assert(v1.as[Long].head() == 100L, "pre-drop versions own the old column")
    val v3 = sqlDf("SELECT count(*) FROM snap.default.r18reuse VERSION AS OF 3 WHERE tag = 'new1'")
    assert(v3.as[Long].head() == 50L, "post-re-add versions own the new column")
    // compaction keeps the physical spelling and the values
    // (k=450 was new0 before the UPDATE flipped it to 'upd')
    sqlDf("CALL snap.system.compact('default.r18reuse')").collect()
    assert(sqlDf("SELECT count(*) FROM snap.default.r18reuse WHERE tag = 'new0'")
      .as[Long].head() == 49L)
    assert(sqlDf("SELECT count(*) FROM snap.default.r18reuse WHERE tag IS NULL")
      .as[Long].head() == 400L)
  }

  test("spelling re-use: renamed-away names, MOR-key interleaving, guards") {
    // (a) re-adding a RENAMED-AWAY spelling: old bytes belong to the
    // renamed column and keep coalescing into it; the re-added column
    // is physically separate
    sqlDf("DROP TABLE IF EXISTS snap.default.r18reuse2")
    sqlDf("CREATE TABLE snap.default.r18reuse2 (k BIGINT, v DOUBLE)")
    sqlDf("INSERT INTO snap.default.r18reuse2 SELECT id, id * 1.0 FROM range(0, 100)")
    sqlDf("ALTER TABLE snap.default.r18reuse2 RENAME COLUMN v TO w")
    sqlDf("ALTER TABLE snap.default.r18reuse2 ADD COLUMN v DOUBLE")
    sqlDf("INSERT INTO snap.default.r18reuse2 SELECT id, id * 1.0, id * 10.0 FROM range(100, 150)")
    assert(sqlDf("SELECT CAST(SUM(w) AS BIGINT) FROM snap.default.r18reuse2")
      .as[Long].head() == (0 until 150).map(_.toDouble).sum.toLong,
      "the renamed column keeps coalescing its old spelling")
    assert(sqlDf("SELECT CAST(SUM(v) AS BIGINT) FROM snap.default.r18reuse2")
      .as[Long].head() == (100 until 150).map(_ * 10.0).sum.toLong,
      "the re-added column reads ONLY its physical spelling")
    assert(sqlDf("SELECT count(*) FROM snap.default.r18reuse2 WHERE v IS NULL")
      .as[Long].head() == 100L)
    // (b) MOR-key interleaving: re-adding the dropped KEY name is
    // refused while pending deletes still resolve to it; a rewrite
    // (compact) clears them and the re-add proceeds
    sqlDf("DROP TABLE IF EXISTS snap.default.r18reuse3")
    sqlDf("""CREATE TABLE snap.default.r18reuse3 (ck BIGINT, val DOUBLE)
            |TBLPROPERTIES ('graft.mor.key'='ck')""".stripMargin)
    sqlDf("INSERT INTO snap.default.r18reuse3 SELECT id, id * 1.0 FROM range(0, 100)")
    sqlDf("DELETE FROM snap.default.r18reuse3 WHERE ck < 10") // pending #del on ck
    sqlDf("ALTER TABLE snap.default.r18reuse3 DROP COLUMN ck")  // de-configures MOR
    val e = intercept[Exception](
      sqlDf("ALTER TABLE snap.default.r18reuse3 ADD COLUMN ck BIGINT"))
    assert(e.getMessage.contains("pending merge-on-read deletes"), e.getMessage)
    sqlDf("CALL snap.system.compact('default.r18reuse3')").collect() // absorbs deletes
    sqlDf("ALTER TABLE snap.default.r18reuse3 ADD COLUMN ck BIGINT") // now legal
    sqlDf("INSERT INTO snap.default.r18reuse3 SELECT id * 1.0, id + 1000 FROM range(0, 5)")
    assert(sqlDf("SELECT count(*) FROM snap.default.r18reuse3").as[Long].head() == 95L)
    assert(sqlDf("SELECT count(*) FROM snap.default.r18reuse3 WHERE ck >= 1000")
      .as[Long].head() == 5L, "the re-added key column carries only new values")
    // (c) guards: remapped columns refuse rename and (while the first
    // drop's ledger lives) re-drop; a fresh add colliding with the
    // physical spelling is refused
    sqlDf("DROP TABLE IF EXISTS snap.default.r18reuse4")
    sqlDf("CREATE TABLE snap.default.r18reuse4 (k BIGINT, t STRING)")
    sqlDf("INSERT INTO snap.default.r18reuse4 VALUES (1, 'a')")
    sqlDf("ALTER TABLE snap.default.r18reuse4 DROP COLUMN t")
    sqlDf("ALTER TABLE snap.default.r18reuse4 ADD COLUMN t STRING")
    intercept[Exception](
      sqlDf("ALTER TABLE snap.default.r18reuse4 RENAME COLUMN t TO t2"))
    intercept[Exception](
      sqlDf("ALTER TABLE snap.default.r18reuse4 DROP COLUMN t"))
    val props4 = graft.catalog.GraftTable.readMeta(s"$wh/default/r18reuse4").get._2
    val physT = graft.catalog.GraftTable.physOf(props4)("t")
    intercept[Exception](
      sqlDf(s"ALTER TABLE snap.default.r18reuse4 ADD COLUMN $physT STRING"))
  }

  test("streaming epochs land under the transform layout") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    sqlDf("DROP TABLE IF EXISTS snap.default.r18strm")
    sqlDf("""CREATE TABLE snap.default.r18strm (k BIGINT, ts TIMESTAMP)
            |PARTITIONED BY (days(ts))""".stripMargin)
    val ms = MemoryStream[Long]
    val ckpt = Qx.tmpOut("r18strmckpt", sf())
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    ms.addData(0L until 20L: _*) // BEFORE start: AvailableNow pins at launch
    val q = ms.toDF().toDF("k")
      .selectExpr("k", "timestamp_micros(1700000000000000 + k * 43200000000) AS ts")
      .writeStream.option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).toTable("snap.default.r18strm")
    q.processAllAvailable(); q.stop(); q.awaitTermination()
    val root = s"$wh/default/r18strm"
    val files = Snapshots.resolve(root).get.files
    assert(files.nonEmpty && files.forall(_.contains("/_gtpart=")),
      s"streamed epochs must stage under ordinal dirs: ${files.take(2)}")
    assert(sqlDf("SELECT count(*) FROM snap.default.r18strm").as[Long].head() == 20L)
    val day = sqlDf(
      """SELECT count(*) FROM snap.default.r18strm
        |WHERE ts >= timestamp_micros(1700092800000000)
        |  AND ts <  timestamp_micros(1700179200000000)""".stripMargin)
    assert(day.as[Long].head() == 2L, "two half-day rows per day")
    assert(plannedFiles(day).size < files.size, "streamed dirs must prune")
  }

  test("posdel commits classify as change commits for streams; vacuum keeps pair files") {
    import org.apache.spark.sql.streaming.Trigger
    sqlDf("DROP TABLE IF EXISTS snap.default.r18posv")
    sqlDf("""CREATE TABLE snap.default.r18posv (k BIGINT, v DOUBLE)
            |TBLPROPERTIES ('graft.mor.positional'='true')""".stripMargin)
    sqlDf("INSERT INTO snap.default.r18posv SELECT id, id * 1.0 FROM range(0, 100)")
    sqlDf("DELETE FROM snap.default.r18posv WHERE v >= 50.0 AND v < 60.0")
    sqlDf("INSERT INTO snap.default.r18posv SELECT id, id * 1.0 FROM range(100, 110)")
    val root = s"$wh/default/r18posv"
    // vacuum below the posdel version: the pair files are REFERENCED by
    // the head and must survive (reads still hide the rows)
    Snapshots.vacuum(root, keepLast = 1)
    val s1 = Snapshots.resolve(root).get
    assert(s1.posDeletes.nonEmpty)
    s1.posDeletes.values.flatten.foreach(pf =>
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(pf)),
        s"vacuum must keep the referenced pair file $pf"))
    assert(sqlDf("SELECT count(*) FROM snap.default.r18posv").as[Long].head() == 100L)
    // a fresh stream over the table refuses: the initial snapshot
    // carries pending position deletes (raw files would leak the
    // hidden rows) — same contract as pending equality deletes
    val ckpt = Qx.tmpOut("r18posvck", sf())
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    val ex = intercept[Exception] {
      val q = spark.readStream.table("snap.default.r18posv")
        .writeStream.format("noop").option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      try { q.processAllAvailable(); q.awaitTermination() } finally q.stop()
    }
    assert(ex.getMessage != null && ex.getMessage.contains("pending merge-on-read"),
      s"streaming over pending posdels must refuse: ${ex.getMessage}")
  }

  test("MOR equality reads compose with a remapped (re-added) non-key column") {
    sqlDf("DROP TABLE IF EXISTS snap.default.r18mix")
    sqlDf("""CREATE TABLE snap.default.r18mix (ck BIGINT, val DOUBLE, note STRING)
            |TBLPROPERTIES ('graft.mor.key'='ck')""".stripMargin)
    sqlDf("""INSERT INTO snap.default.r18mix
            |SELECT id, id * 1.0, concat('n', id % 5) FROM range(0, 100)""".stripMargin)
    sqlDf("ALTER TABLE snap.default.r18mix DROP COLUMN note")
    sqlDf("ALTER TABLE snap.default.r18mix ADD COLUMN note STRING") // remap
    sqlDf("""INSERT INTO snap.default.r18mix
            |SELECT id, id * 1.0, concat('m', id % 2) FROM range(100, 120)""".stripMargin)
    // pending equality delete AFTER the remap: the MOR scan must apply
    // the key filter AND keep the remapped column coherent
    sqlDf("DELETE FROM snap.default.r18mix WHERE ck < 10")
    assert(sqlDf("SELECT count(*) FROM snap.default.r18mix").as[Long].head() == 110L)
    val byNote = sqlDf(
      """SELECT note, count(*) AS n FROM snap.default.r18mix
        |GROUP BY note ORDER BY note NULLS FIRST""".stripMargin).collect()
      .map(r => Option(r.getString(0)).getOrElse("NULL") -> r.getLong(1)).toMap
    assert(byNote == Map("NULL" -> 90L, "m0" -> 10L, "m1" -> 10L),
      s"dead bytes resurfaced through the MOR scan: $byNote")
    assert(sqlDf("SELECT count(*) FROM snap.default.r18mix WHERE note = 'n1'")
      .as[Long].head() == 0L)
  }

  test("the commit funnel refuses '_gbucket=' staging without a declared bucket layout") {
    val root = Qx.tmpOut("r18gb", sf())
    val ex = intercept[IllegalArgumentException] {
      Snapshots.commit(root) { out =>
        spark.range(10).selectExpr("id", "id % 4 AS _gbucket")
          .write.partitionBy("_gbucket").parquet(out)
      }
    }
    assert(ex.getMessage.contains("_gbucket"), ex.getMessage)
    // nothing was published
    assert(Snapshots.maxCommitted(root) == 0L)
  }
}
