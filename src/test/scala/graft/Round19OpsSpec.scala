package graft

import graft.catalog.GraftCatalog
import graft.sources.Snapshots

/** Round-19 pins — the r18 verdict items:
  *  1. bucket keys hash int-AS-long (Iceberg's bucket-spec rule), so
  *     `ALTER COLUMN k TYPE BIGINT` on a bucket key is metadata-only:
  *     no committed assignment moves, point-predicate pruning keeps
  *     answering across the widening, and a storage-partitioned join
  *     of two widened tables stays zero-exchange and EXACT over files
  *     written on both sides of the ALTER;
  *  2. the same for truncate-transform sources (ordinals already
  *     promote int sources to long before the floorDiv);
  *  3. non-int->long retypes of a layout source stay refused.
  */
class Round19OpsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val wh = {
    val dir = Qx.tmpOut("r19wh", sf())
    GraftCatalog.register(spark, "snap", Some(dir))
    dir
  }

  private def sqlDf(q: String) = { wh; spark.sql(q) }

  test("int bucket keys hash as longs: every committed dir is the long-hash dir") {
    sqlDf("DROP TABLE IF EXISTS snap.default.r19bwh")
    sqlDf("""CREATE TABLE snap.default.r19bwh (k INT, v STRING)
            |PARTITIONED BY (bucket(8, k))""".stripMargin)
    sqlDf("""INSERT INTO snap.default.r19bwh
            |SELECT CAST(id AS INT), concat('v', id) FROM range(0, 400)""".stripMargin)
    val snap = Snapshots.resolve(s"$wh/default/r19bwh").get
    assert(snap.files.forall(_.contains("/_gbucket=")), snap.files.take(3))
    // rows inside each dir hash to that id under the LONG hash — the
    // widening-safety invariant itself
    val perFile = snap.files.map { f =>
      val id = f.split("/_gbucket=")(1).split("/")(0).toInt
      val bad = spark.read.parquet(f)
        .selectExpr(s"count(CASE WHEN pmod(hash(CAST(k AS BIGINT)), 8) <> $id THEN 1 END)")
        .head().getLong(0)
      (id, bad)
    }
    assert(perFile.forall(_._2 == 0L), s"a dir disagrees with the long hash: $perFile")
  }

  test("ALTER COLUMN bucket key INT -> BIGINT: metadata-only, pruning and SPJ survive") {
    sqlDf("DROP TABLE IF EXISTS snap.default.r19bwa")
    sqlDf("DROP TABLE IF EXISTS snap.default.r19bwb")
    // live tables: bloom sidecars + stats on the key, data committed
    // BEFORE the widening
    sqlDf("""CREATE TABLE snap.default.r19bwa (k INT, price DOUBLE)
            |PARTITIONED BY (bucket(8, k))
            |TBLPROPERTIES ('graft.bloom.cols'='k')""".stripMargin)
    sqlDf("""CREATE TABLE snap.default.r19bwb (k INT, w BIGINT)
            |PARTITIONED BY (bucket(8, k))""".stripMargin)
    sqlDf("""INSERT INTO snap.default.r19bwa
            |SELECT CAST(id AS INT), CAST(id % 100 AS DOUBLE)
            |FROM range(0, 1000)""".stripMargin)
    sqlDf("""INSERT INTO snap.default.r19bwb
            |SELECT CAST(id AS INT), id % 7 FROM range(0, 1000)""".stripMargin)
    val filesBefore = Snapshots.resolve(s"$wh/default/r19bwa").get.files.toSet
    // the r17/r18 refusal is retired: the widening is accepted...
    sqlDf("ALTER TABLE snap.default.r19bwa ALTER COLUMN k TYPE BIGINT")
    sqlDf("ALTER TABLE snap.default.r19bwb ALTER COLUMN k TYPE BIGINT")
    // ...and is METADATA-ONLY: no file moved or rewrote
    assert(Snapshots.resolve(s"$wh/default/r19bwa").get.files.toSet == filesBefore,
      "widening a bucket key must not touch data files")
    assert(sqlDf("DESCRIBE snap.default.r19bwa").collect()
      .exists(r => r.getString(0) == "k" && r.getString(1) == "bigint"))
    // post-widening writes land in the SAME dirs as pre-widening rows
    // of the same key values (the int era hashed as longs already)
    sqlDf("""INSERT INTO snap.default.r19bwa
            |SELECT id, CAST(id % 100 AS DOUBLE) FROM range(1000, 2000)""".stripMargin)
    sqlDf("""INSERT INTO snap.default.r19bwb
            |SELECT id, id % 7 FROM range(1000, 2000)""".stripMargin)
    // point predicates prune to ONE dir and find PRE-widening rows —
    // a re-bucketing hash would open the right dir and find nothing
    val expect123 = graft.catalog.SnapBucket.bucketIdOf(123L,
      org.apache.spark.sql.types.LongType, 8)
    val hit = sqlDf("SELECT price FROM snap.default.r19bwa WHERE k = 123")
    val hitDirs = plannedFiles(hit)
      .map(_.split("/_gbucket=")(1).split("/")(0).toInt).toSet
    assert(hitDirs == Set(expect123),
      s"k = 123 must open ONLY bucket $expect123, opened $hitDirs")
    assert(hit.collect().map(_.getDouble(0)).toSeq == Seq(23.0))
    // the storage-partitioned join stays ZERO-EXCHANGE and EXACT over
    // a mix of int-era and long-era files on both sides
    val prev = Seq("spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.enabled").map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      spark.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val j = sqlDf("""SELECT a.k, a.price, b.w
                      |FROM snap.default.r19bwa a
                      |JOIN snap.default.r19bwb b ON a.k = b.k""".stripMargin)
      val exchanges = j.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.isEmpty,
        s"widened co-bucketed tables must join with ZERO exchange:\n" +
          j.queryExecution.executedPlan)
      assert(j.count() == 2000L,
        "a re-bucketed side would lose matches across the widening boundary")
      val wsum = j.selectExpr("sum(k * w)").head().getLong(0)
      val expect = (0L until 2000L).map(k => k * (k % 7)).sum
      assert(wsum == expect, s"$wsum != $expect")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    // non-widening retypes stay refused, on both the int and the
    // string layout shape
    intercept[Exception](sqlDf(
      "ALTER TABLE snap.default.r19bwa ALTER COLUMN k TYPE DOUBLE"))
    sqlDf("DROP TABLE IF EXISTS snap.default.r19bws")
    sqlDf("""CREATE TABLE snap.default.r19bws (k STRING, v INT)
            |PARTITIONED BY (bucket(4, k))""".stripMargin)
    intercept[Exception](sqlDf(
      "ALTER TABLE snap.default.r19bws ALTER COLUMN k TYPE BIGINT"))
  }

  test("ALTER COLUMN truncate source INT -> BIGINT: ordinals hold across the widening") {
    sqlDf("DROP TABLE IF EXISTS snap.default.r19twd")
    sqlDf("""CREATE TABLE snap.default.r19twd (k INT, v STRING)
            |PARTITIONED BY (truncate(100, k))""".stripMargin)
    sqlDf("""INSERT INTO snap.default.r19twd
            |SELECT CAST(id AS INT), concat('v', id) FROM range(0, 500)""".stripMargin)
    val filesBefore = Snapshots.resolve(s"$wh/default/r19twd").get.files.toSet
    sqlDf("ALTER TABLE snap.default.r19twd ALTER COLUMN k TYPE BIGINT")
    assert(Snapshots.resolve(s"$wh/default/r19twd").get.files.toSet == filesBefore,
      "widening a truncate source must not touch data files")
    sqlDf("""INSERT INTO snap.default.r19twd
            |SELECT id, concat('v', id) FROM range(500, 1000)""".stripMargin)
    // range predicate on the source prunes ordinal dirs METADATA-ONLY
    // and stays exact across the int-era/long-era mix
    val q = sqlDf("SELECT count(*) FROM snap.default.r19twd WHERE k >= 700")
    assert(q.as[Long].head() == 300L)
    val pruned = plannedFiles(
      sqlDf("SELECT v FROM snap.default.r19twd WHERE k >= 700"))
      .map(_.split("/_gtpart=")(1).split("/")(0).toLong).toSet
    assert(pruned.nonEmpty && pruned.forall(_ >= 700L),
      s"k >= 700 must keep only ordinals >= 700: $pruned")
    // the int era answers under the widened type
    assert(sqlDf("SELECT count(*) FROM snap.default.r19twd WHERE k = 123")
      .as[Long].head() == 1L)
    // time-transform sources still refuse retyping (no widening applies)
    sqlDf("DROP TABLE IF EXISTS snap.default.r19twt")
    sqlDf("""CREATE TABLE snap.default.r19twt (ts TIMESTAMP, v INT)
            |PARTITIONED BY (days(ts))""".stripMargin)
    intercept[Exception](sqlDf(
      "ALTER TABLE snap.default.r19twt ALTER COLUMN ts TYPE TIMESTAMP_NTZ"))
  }

  test("bucket layout retirement: UNSET retires, writes flatten, old dirs still prune, key drops") {
    sqlDf("DROP TABLE IF EXISTS snap.default.r19ret")
    sqlDf("""CREATE TABLE snap.default.r19ret (k BIGINT, v STRING)
            |PARTITIONED BY (bucket(8, k))""".stripMargin)
    sqlDf("""INSERT INTO snap.default.r19ret
            |SELECT id, concat('v', id) FROM range(0, 400)""".stripMargin)
    val root = s"$wh/default/r19ret"
    // DROP PARTITION FIELD, spelled as UNSET of the layout property
    sqlDf("ALTER TABLE snap.default.r19ret UNSET TBLPROPERTIES ('graft.partition.bucket')")
    // post-retirement writes stage FLAT — no _gbucket segment
    sqlDf("""INSERT INTO snap.default.r19ret
            |SELECT id, concat('v', id) FROM range(400, 500)""".stripMargin)
    val files = Snapshots.resolve(root).get.files
    val (bucketed, flat) = files.partition(_.contains("/_gbucket="))
    assert(bucketed.nonEmpty && flat.nonEmpty,
      s"mixed eras expected: ${bucketed.size} bucketed / ${flat.size} flat")
    // reads span both eras exactly
    assert(sqlDf("SELECT count(*) FROM snap.default.r19ret").as[Long].head() == 500L)
    assert(!sqlDf("SELECT * FROM snap.default.r19ret").columns.contains("_gbucket"))
    // point predicates still prune the OLD era's directories (one
    // bucket dir kept) while keeping every flat file conservatively
    val hit = sqlDf("SELECT v FROM snap.default.r19ret WHERE k = 123")
    val planned = plannedFiles(hit)
    val plannedBucketDirs = planned.filter(_.contains("/_gbucket="))
      .map(_.split("/_gbucket=")(1).split("/")(0).toInt).toSet
    val expect = graft.catalog.SnapBucket.bucketIdOf(123L,
      org.apache.spark.sql.types.LongType, 8)
    assert(plannedBucketDirs == Set(expect),
      s"retired dirs must still prune to bucket $expect: $plannedBucketDirs")
    assert(hit.collect().map(_.getString(0)).toSeq == Seq("v123"))
    // a flat-era key: bucket pruning must keep NULL-id (flat) files —
    // only data-skipping stats may trim them, and the row is found
    assert(sqlDf("SELECT v FROM snap.default.r19ret WHERE k = 450")
      .collect().map(_.getString(0)).toSeq == Seq("v450"))
    // a retired key answers point lookups from BOTH eras
    assert(sqlDf("SELECT count(*) FROM snap.default.r19ret WHERE k IN (10, 450)")
      .as[Long].head() == 2L)
    // the ledger is system-maintained: no direct SET, no UNSET
    intercept[Exception](sqlDf("ALTER TABLE snap.default.r19ret " +
      "UNSET TBLPROPERTIES ('graft.partition.bucket.retired')"))
    intercept[Exception](sqlDf("ALTER TABLE snap.default.r19ret " +
      "SET TBLPROPERTIES ('graft.partition.bucket.retired'='k,4')"))
    // ...and a retired-bucket table adopts neither a transform (two
    // layout eras' segments under one root) nor POSITIONAL merge-on-read
    // (keyed MOR composes with derived layouts since r20 — the MOR
    // scan reads their files flat, value-exact; pinned in Round20OpsSpec)
    intercept[Exception](sqlDf("ALTER TABLE snap.default.r19ret " +
      "SET TBLPROPERTIES ('graft.partition.transform'='truncate,k,100')"))
    intercept[Exception](sqlDf("ALTER TABLE snap.default.r19ret " +
      "SET TBLPROPERTIES ('graft.mor.positional'='true')"))
    // the LAST layout refusal retires with the layout: the former key
    // column now DROPS like any other column
    sqlDf("ALTER TABLE snap.default.r19ret DROP COLUMN k")
    assert(sqlDf("SELECT count(v) FROM snap.default.r19ret").as[Long].head() == 500L)
    assert(sqlDf("SELECT * FROM snap.default.r19ret").columns.toSeq == Seq("v"))
    // pre-drop versions still present the key (pinned-era schema)
    val atV2 = sqlDf("SELECT * FROM snap.default.r19ret VERSION AS OF 2")
    assert(atV2.columns.contains("k"))
    assert(atV2.where("k = 123").count() == 1L)
    // maintenance still composes: compaction flattens the whole table
    sqlDf("CALL snap.system.compact('default.r19ret')")
    assert(sqlDf("SELECT count(v) FROM snap.default.r19ret").as[Long].head() == 500L)
  }

  test("transform layout retirement: ordinal dirs keep pruning, source column drops") {
    sqlDf("DROP TABLE IF EXISTS snap.default.r19rtt")
    sqlDf("""CREATE TABLE snap.default.r19rtt (k BIGINT, v STRING)
            |PARTITIONED BY (truncate(100, k))""".stripMargin)
    sqlDf("""INSERT INTO snap.default.r19rtt
            |SELECT id, concat('v', id) FROM range(0, 500)""".stripMargin)
    sqlDf("ALTER TABLE snap.default.r19rtt UNSET TBLPROPERTIES ('graft.partition.transform')")
    sqlDf("""INSERT INTO snap.default.r19rtt
            |SELECT id, concat('v', id) FROM range(500, 600)""".stripMargin)
    val files = Snapshots.resolve(s"$wh/default/r19rtt").get.files
    val (orded, flat) = files.partition(_.contains("/_gtpart="))
    assert(orded.nonEmpty && flat.nonEmpty, s"${orded.size} / ${flat.size}")
    // range predicates prune the ordinal era, keep the flat era, exact
    val q = sqlDf("SELECT v FROM snap.default.r19rtt WHERE k >= 300")
    val planned = plannedFiles(q)
    val plannedOrds = planned.filter(_.contains("/_gtpart="))
      .map(_.split("/_gtpart=")(1).split("/")(0).toLong).toSet
    assert(plannedOrds.nonEmpty && plannedOrds.forall(_ >= 300L),
      s"retired ordinals must still prune: $plannedOrds")
    assert(planned.count(!_.contains("/_gtpart=")) == flat.size)
    assert(q.count() == 300L)
    // a NEW transform is refused while the retired one holds _gtpart
    intercept[Exception](sqlDf("ALTER TABLE snap.default.r19rtt " +
      "SET TBLPROPERTIES ('graft.partition.transform'='truncate,k,50')"))
    // the source column drops; both eras still read
    sqlDf("ALTER TABLE snap.default.r19rtt DROP COLUMN k")
    assert(sqlDf("SELECT count(v) FROM snap.default.r19rtt").as[Long].head() == 600L)
    assert(sqlDf("SELECT * FROM snap.default.r19rtt").columns.toSeq == Seq("v"))
  }

  test("deletion vectors: per-file bitmaps, >=10x smaller than pairs, join-free read plan") {
    import graft.sources.DeleteVectors
    sqlDf("DROP TABLE IF EXISTS snap.default.r19dv")
    sqlDf("""CREATE TABLE snap.default.r19dv (k BIGINT, v DOUBLE)
            |TBLPROPERTIES ('graft.mor.positional'='true')""".stripMargin)
    // time-clustered files (DISTRIBUTE+SORT BY k), the 100 TB event-
    // table layout a retention DELETE actually hits: the deleted band
    // is a contiguous ordinal run inside its file(s)
    sqlDf("""INSERT INTO snap.default.r19dv
            |SELECT id, id * 1.0 FROM range(0, 500000)
            |DISTRIBUTE BY CAST(id / 125000 AS INT) SORT BY id""".stripMargin)
    val root = s"$wh/default/r19dv"
    val filesBefore = Snapshots.resolve(root).get.files.toSet
    // the retention shape: DELETE a contiguous 10% (the GDPR/TTL
    // statement a 100 TB table actually runs)
    sqlDf("DELETE FROM snap.default.r19dv WHERE k < 50000")
    val s1 = Snapshots.resolve(root).get
    assert(s1.files.toSet == filesBefore, "file-list invariance under posdel")
    val dvFiles = s1.posDeletes.values.flatten.toSeq.distinct
    assert(dvFiles.nonEmpty && dvFiles.forall(DeleteVectors.isDv),
      s"positional deletes must stage .dv sidecars: $dvFiles")
    // each DV self-describes the ONE data file it covers
    dvFiles.foreach { p =>
      val (covered, _) = DeleteVectors.read(p)
      assert(filesBefore.contains(covered), s"$p covers unknown file $covered")
    }
    // SIZE: the bitmaps vs the same ordinals in the legacy
    // (file STRING, pos BIGINT) pair-parquet encoding
    val dvBytes = dvFiles.map(p =>
      java.nio.file.Files.size(java.nio.file.Paths.get(p))).sum
    val pairsOut = Qx.tmpOut("r19dvpairs", sf())
    val bms = DeleteVectors.loadBitmaps(dvFiles)
    val deleted = bms.map { case (_, bm) => bm.getLongCardinality }.sum
    assert(deleted == 50000L, s"the DVs must carry exactly the deleted rows: $deleted")
    bms.toSeq.flatMap { case (f, bm) =>
      bm.toArray.map(pos => (f, pos.toLong)) }
      .toDF("file", "pos")
      .coalesce(1).write.mode("overwrite").parquet(pairsOut)
    val pairBytes = new java.io.File(pairsOut).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    assert(pairBytes >= 10 * dvBytes,
      s"DVs must be >=10x smaller: $dvBytes dv vs $pairBytes pair bytes")
    // READ: the direct path's plan is join-free and exchange-free —
    // bitmap membership is a broadcast-variable probe, not an anti join
    val direct = Snapshots.read(spark, root)
    val planStr = direct.queryExecution.executedPlan.toString
    assert(!planStr.contains("Join") && !planStr.contains("Exchange"),
      s"DV read must carry no join/exchange:\n$planStr")
    assert(direct.count() == 450000L)
    // catalog path: exact through the partition-reader bitmap probe
    assert(sqlDf("SELECT count(*) FROM snap.default.r19dv").as[Long].head() == 450000L)
    assert(sqlDf("SELECT count(*) FROM snap.default.r19dv WHERE k < 50000")
      .as[Long].head() == 0L)
    assert(sqlDf("SELECT CAST(min(k) AS BIGINT) FROM snap.default.r19dv")
      .as[Long].head() == 50000L)
    // STACKING: a second (scattered) statement adds a second DV on the
    // same file; compact_deletes folds them to ONE DV per file
    sqlDf("DELETE FROM snap.default.r19dv WHERE k >= 50000 AND k < 60000 AND k % 2 = 0")
    val s2 = Snapshots.resolve(root).get
    assert(s2.posDeletes.exists(_._2.size > 1), "stacked DVs per data file")
    assert(sqlDf("SELECT count(*) FROM snap.default.r19dv").as[Long].head() == 445000L)
    sqlDf("CALL snap.system.compact_deletes('default.r19dv')").collect()
    val s3 = Snapshots.resolve(root).get
    assert(s3.files.toSet == filesBefore, "DV compaction moves no table data")
    assert(s3.posDeletes.forall { case (_, pfs) =>
      pfs.size == 1 && DeleteVectors.isDv(pfs.head) }, "one DV per file")
    assert(sqlDf("SELECT count(*) FROM snap.default.r19dv").as[Long].head() == 445000L)
    assert(sqlDf("SELECT count(*) FROM snap.default.r19dv WHERE k >= 50000 AND k < 60000")
      .as[Long].head() == 5000L)
    // time travel still applies each version's own vectors
    assert(sqlDf("SELECT count(*) FROM snap.default.r19dv VERSION AS OF 2")
      .as[Long].head() == 450000L)
    assert(sqlDf("SELECT count(*) FROM snap.default.r19dv VERSION AS OF 1")
      .as[Long].head() == 500000L)
  }

  test("nested-struct ADD COLUMN: metadata-only, NULL pre-evolution, era-true travel") {
    sqlDf("DROP TABLE IF EXISTS snap.default.r19ns")
    // FHIR-shaped: a patient struct that grows a field after go-live
    sqlDf("""CREATE TABLE snap.default.r19ns
            |(id BIGINT, patient STRUCT<name: STRING, birth: DATE>)""".stripMargin)
    sqlDf("""INSERT INTO snap.default.r19ns
            |SELECT id, named_struct('name', concat('p', id),
            |  'birth', date_add(DATE'1980-01-01', CAST(id AS INT)))
            |FROM range(0, 100)""".stripMargin)
    val filesBefore = Snapshots.resolve(s"$wh/default/r19ns").get.files.toSet
    sqlDf("ALTER TABLE snap.default.r19ns ADD COLUMN patient.mrn STRING")
    assert(Snapshots.resolve(s"$wh/default/r19ns").get.files.toSet == filesBefore,
      "nested ADD COLUMN must be metadata-only")
    sqlDf("""INSERT INTO snap.default.r19ns
            |SELECT id, named_struct('name', concat('p', id),
            |  'birth', date_add(DATE'1980-01-01', CAST(id AS INT)),
            |  'mrn', concat('MRN', id))
            |FROM range(100, 150)""".stripMargin)
    // pre-evolution rows surface NULL for the new field; new rows carry it
    assert(sqlDf("SELECT count(*) FROM snap.default.r19ns WHERE patient.mrn IS NULL")
      .as[Long].head() == 100L)
    assert(sqlDf("SELECT count(*) FROM snap.default.r19ns WHERE patient.mrn = 'MRN120'")
      .as[Long].head() == 1L)
    assert(sqlDf("SELECT patient.name FROM snap.default.r19ns WHERE id = 3")
      .collect().head.getString(0) == "p3", "old fields read through the evolution")
    // a pinned PRE-evolution read presents the era's own struct shape
    val v1 = sqlDf("SELECT * FROM snap.default.r19ns VERSION AS OF 1")
    val v1Struct = v1.schema("patient").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(!v1Struct.fieldNames.contains("mrn"),
      s"version 1 must present the pre-evolution struct: $v1Struct")
    assert(v1.count() == 100L)
    // a pinned STRADDLING read merges the shapes (added field nullable)
    val v2 = sqlDf("SELECT * FROM snap.default.r19ns VERSION AS OF 2")
    assert(v2.schema("patient").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames.contains("mrn"))
    assert(v2.where("patient.mrn IS NULL").count() == 100L && v2.count() == 150L)
    // guards: existing field, non-struct parent, NOT NULL all refuse
    intercept[Exception](sqlDf(
      "ALTER TABLE snap.default.r19ns ADD COLUMN patient.name INT"))
    intercept[Exception](sqlDf(
      "ALTER TABLE snap.default.r19ns ADD COLUMN id.sub INT"))
    intercept[Exception](sqlDf(
      "ALTER TABLE snap.default.r19ns ADD COLUMN patient.req STRING NOT NULL"))
    // DEEP nesting: grow a struct inside a struct, then add under it
    sqlDf("ALTER TABLE snap.default.r19ns ADD COLUMN patient.addr STRUCT<city: STRING>")
    sqlDf("ALTER TABLE snap.default.r19ns ADD COLUMN patient.addr.zip STRING")
    sqlDf("""INSERT INTO snap.default.r19ns
            |SELECT id, named_struct('name', concat('p', id),
            |  'birth', date_add(DATE'1980-01-01', CAST(id AS INT)),
            |  'mrn', concat('MRN', id),
            |  'addr', named_struct('city', 'Oz', 'zip', concat('Z', id)))
            |FROM range(150, 160)""".stripMargin)
    assert(sqlDf("SELECT count(*) FROM snap.default.r19ns WHERE patient.addr.zip IS NULL")
      .as[Long].head() == 150L, "pre-evolution rows surface NULL at depth")
    assert(sqlDf("SELECT patient.addr.city FROM snap.default.r19ns WHERE id = 155")
      .collect().head.getString(0) == "Oz")
    intercept[Exception](sqlDf(
      "ALTER TABLE snap.default.r19ns ADD COLUMN patient.addr.zip INT")) // exists
    intercept[Exception](sqlDf(
      "ALTER TABLE snap.default.r19ns ADD COLUMN patient.mrn.x INT")) // non-struct step
    // NESTED WIDENING: grow an int field inside the struct, widen it
    // to bigint metadata-only, and read across both eras
    sqlDf("ALTER TABLE snap.default.r19ns ADD COLUMN patient.visits INT")
    sqlDf("""INSERT INTO snap.default.r19ns
            |SELECT id, named_struct('name', concat('p', id),
            |  'birth', DATE'1980-01-01', 'mrn', concat('MRN', id),
            |  'addr', named_struct('city', 'Oz', 'zip', concat('Z', id)),
            |  'visits', CAST(id AS INT))
            |FROM range(160, 165)""".stripMargin)
    val filesPreWiden = Snapshots.resolve(s"$wh/default/r19ns").get.files.toSet
    sqlDf("ALTER TABLE snap.default.r19ns ALTER COLUMN patient.visits TYPE BIGINT")
    assert(Snapshots.resolve(s"$wh/default/r19ns").get.files.toSet == filesPreWiden,
      "nested widening must be metadata-only")
    sqlDf("""INSERT INTO snap.default.r19ns
            |SELECT id, named_struct('name', concat('p', id),
            |  'birth', DATE'1980-01-01', 'mrn', concat('MRN', id),
            |  'addr', named_struct('city', 'Oz', 'zip', concat('Z', id)),
            |  'visits', id * 10000000000)
            |FROM range(165, 170)""".stripMargin)
    assert(sqlDf("SELECT CAST(SUM(patient.visits) AS BIGINT) FROM snap.default.r19ns")
      .as[Long].head() ==
        (160L until 165L).sum + (165L until 170L).map(_ * 10000000000L).sum,
      "narrow-era ints and wide-era longs sum under the widened type")
    intercept[Exception](sqlDf(
      "ALTER TABLE snap.default.r19ns ALTER COLUMN patient.visits TYPE INT")) // narrowing
  }

  test("branch SQL surface: CALL procedures, VERSION AS OF a branch, .branches table") {
    sqlDf("DROP TABLE IF EXISTS snap.default.r19bsql")
    sqlDf("CREATE TABLE snap.default.r19bsql AS SELECT id AS k FROM range(0, 100)")
    val root = s"$wh/default/r19bsql"
    val created = sqlDf(
      "CALL snap.system.create_branch('default.r19bsql', 'audit')").collect().head
    assert(created.getString(0) == "audit" && created.getLong(1) == 1L)
    Snapshots.commitToBranch(root, "audit")(out =>
      spark.range(100, 150).selectExpr("id AS k")
        .write.mode("append").parquet(out))
    // the SQL audit surface: a branch name reads its HEAD
    assert(sqlDf("SELECT count(*) FROM snap.default.r19bsql VERSION AS OF 'audit'")
      .as[Long].head() == 150L)
    assert(sqlDf("SELECT count(*) FROM snap.default.r19bsql").as[Long].head() == 100L,
      "main must be untouched while the branch audits")
    // the .branches metadata table
    val branches = sqlDf("SELECT * FROM snap.default.r19bsql.branches").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(branches == Set(("audit", 1L, 2L)), s"$branches")
    val ff = sqlDf(
      "CALL snap.system.fast_forward('default.r19bsql', 'audit')").collect().head
    assert(ff.getLong(1) == 2L)
    assert(sqlDf("SELECT count(*) FROM snap.default.r19bsql").as[Long].head() == 150L)
    // tags and branches share the VERSION AS OF namespace: collisions refuse
    Snapshots.tag(root, "rel1", 1L)
    intercept[Exception](Snapshots.createBranch(root, "rel1"))
    Snapshots.createBranch(root, "b2")
    intercept[Exception](Snapshots.tag(root, "b2", 1L))
    // drop_branch reports whether the ref existed
    assert(sqlDf("CALL snap.system.drop_branch('default.r19bsql', 'b2')")
      .collect().head.getBoolean(1))
    assert(!sqlDf("CALL snap.system.drop_branch('default.r19bsql', 'b2')")
      .collect().head.getBoolean(1))
    // the procedure listing advertises the branch surface
    val procs = sqlDf("SHOW PROCEDURES IN snap.system").collect()
      .map(_.toString).mkString(",")
    assert(procs.contains("create_branch") && procs.contains("fast_forward") &&
      procs.contains("drop_branch"), procs)
    // the branch SUFFIX table: WAP entirely in SQL — INSERT INTO the
    // branch, audit it with SELECT, fast-forward to publish
    sqlDf("CALL snap.system.create_branch('default.r19bsql', 'audit2')")
    sqlDf("""INSERT INTO snap.default.r19bsql.branch_audit2
            |SELECT id AS k FROM range(150, 180)""".stripMargin)
    assert(sqlDf("SELECT count(*) FROM snap.default.r19bsql.branch_audit2")
      .as[Long].head() == 180L, "the suffix table reads the branch head")
    assert(sqlDf("SELECT count(*) FROM snap.default.r19bsql").as[Long].head() == 150L,
      "main is untouched by a branch INSERT")
    intercept[Exception](sqlDf(
      "INSERT OVERWRITE snap.default.r19bsql.branch_audit2 SELECT id AS k FROM range(5)"))
    sqlDf("CALL snap.system.fast_forward('default.r19bsql', 'audit2')")
    assert(sqlDf("SELECT count(*) FROM snap.default.r19bsql").as[Long].head() == 180L)
    // an unknown branch suffix does not resolve
    intercept[Exception](sqlDf(
      "SELECT * FROM snap.default.r19bsql.branch_nope").collect())
  }

  test("persisted ANN index: frozen centroids, O(delta) appends, incremental == batch") {
    import graft.operators.AnnIndex
    import org.apache.spark.sql.functions._
    val root = Qx.tmpOut("r19annidx", sf())
    // a corpus shaped like the serving path's vector frame
    val raw = spark.range(0, 400).selectExpr("id AS vec_id",
        "transform(sequence(1, 16), j -> cos(CAST(id * j AS DOUBLE) / 7.0)) AS v")
      .withColumn("nrm", sqrt(expr(
        "aggregate(zip_with(v, v, (a, b) -> a * b), 0D, (acc, x) -> acc + x)")))
    val first = raw.filter(col("vec_id") < 300)
    val delta = raw.filter(col("vec_id") >= 300)
    AnnIndex.buildCentroids(root, first)
    AnnIndex.appendIvf(spark, root, first)
    val asgRoot = s"$root/assignments"
    // the spilled inverted file (r20) carries Repl rows per vector
    assert(Snapshots.read(spark, asgRoot).count() == 300L * AnnIndex.Repl)
    // the maintenance hook is O(delta): one append commit whose new
    // files hold EXACTLY the delta's assignments — the existing 300
    // vectors are not re-read, not re-assigned, not re-written
    AnnIndex.appendIvf(spark, root, delta)
    assert(Snapshots.maxCommitted(asgRoot) == 2L)
    val v1Files = Snapshots.resolveAt(asgRoot, 1L).files.toSet
    val v2New = Snapshots.resolveAt(asgRoot, 2L).files.filterNot(v1Files)
    assert(v2New.nonEmpty)
    assert(spark.read.parquet(v2New: _*).count() == 100L * AnnIndex.Repl,
      "the append commit must stage only the delta's assignments")
    // centroids FROZEN across the append: still the single bootstrap commit
    assert(Snapshots.maxCommitted(s"$root/centroids") == 1L)
    // incremental == batch: assigning the whole corpus in one pass
    // against identically trained centroids lands every vector in the
    // same cell (assignment is pointwise given fixed centers)
    val fullRoot = Qx.tmpOut("r19annidxf", sf())
    AnnIndex.buildCentroids(fullRoot, first) // deterministic retrain = same centers
    AnnIndex.appendIvf(spark, fullRoot, raw)
    val inc = Snapshots.read(spark, asgRoot).select("vec_id", "cell")
    val batch = Snapshots.read(spark, fullRoot + "/assignments").select("vec_id", "cell")
    assert(inc.exceptAll(batch).isEmpty && batch.exceptAll(inc).isEmpty,
      "incrementally maintained assignments must equal the batch assignment")
    // ensure* is build-once: a second call with an unchanged corpus
    // publishes nothing (pure reuse)
    AnnIndex.ensureLsh(spark, sf())
    val lshBkts = s"${AnnIndex.lshRoot(sf())}/buckets"
    val vAfterBuild = Snapshots.maxCommitted(lshBkts)
    AnnIndex.ensureLsh(spark, sf())
    assert(Snapshots.maxCommitted(lshBkts) == vAfterBuild,
      "an up-to-date index must not re-publish")
    // ...and tops up a GROWN corpus O(delta): the bucket table covers
    // every corpus vector after ensure, by construction of the anti-join
    assert(AnnIndex.ensureLsh(spark, sf()).count() ==
      spark.read.parquet(s"${sf()}/embeddings.parquet").count())
  }

  test("branch refs: speculative log continuation, fast-forward WAP, unified retention") {
    import java.nio.file.{Files, Paths}
    val root = Qx.tmpOut("r19branch", sf())
    val df = spark.range(0, 100).selectExpr("id AS k", "id * 2.0 AS v")
    Snapshots.commit(root)(out => df.write.mode("append").parquet(out))
    assert(Snapshots.maxCommitted(root) == 1L)
    // a branch forks the head; its commits continue main's numbering
    assert(Snapshots.createBranch(root, "audit") == 1L)
    intercept[Exception](Snapshots.createBranch(root, "audit")) // exists
    intercept[Exception](Snapshots.createBranch(root, "2024"))  // all-digit
    Snapshots.commitToBranch(root, "audit")(out =>
      spark.range(100, 150).selectExpr("id AS k", "id * 2.0 AS v")
        .write.mode("append").parquet(out))
    assert(Snapshots.branchHead(root, "audit") == 2L)
    // main is UNTOUCHED while the branch audits the prospective state
    assert(Snapshots.maxCommitted(root) == 1L)
    assert(Snapshots.read(spark, root).count() == 100L)
    assert(Snapshots.readBranch(spark, root, "audit").count() == 150L)
    // unified retention: the branch's staged (unpublished) files are
    // referenced — an orphan sweep reclaims a stray but never them
    val branchFiles = Snapshots.resolveBranch(root, "audit").files
      .filterNot(Snapshots.resolveAt(root, 1L).files.contains)
    assert(branchFiles.nonEmpty)
    val strayDir = s"$root/v00000001_stray_1"
    Files.createDirectories(Paths.get(strayDir))
    spark.range(5).write.mode("overwrite").parquet(strayDir)
    val (removed, _) = Snapshots.removeOrphanFiles(root, graceMs = -1000L)
    assert(removed >= 1L, "the stray must be reclaimed")
    branchFiles.foreach(f => assert(Files.exists(Paths.get(f)),
      s"branch-staged file $f must survive the sweep"))
    // fast-forward: the branch manifests LINK into the main log
    assert(Snapshots.fastForward(root, "audit") == 2L)
    assert(Snapshots.maxCommitted(root) == 2L)
    assert(Snapshots.read(spark, root).count() == 150L)
    assert(Snapshots.readAt(spark, root, 1L).count() == 100L, "history intact")
    // the ref advanced: the branch keeps working from the new head
    assert(Snapshots.branchFork(root, "audit").contains(2L))
    Snapshots.commitToBranch(root, "audit")(out =>
      spark.range(150, 160).selectExpr("id AS k", "id * 2.0 AS v")
        .write.mode("append").parquet(out))
    assert(Snapshots.fastForward(root, "audit") == 3L)
    assert(Snapshots.read(spark, root).count() == 160L)
    // NON-fast-forward: a main commit past the fork makes publish refuse
    Snapshots.createBranch(root, "risky")
    Snapshots.commitToBranch(root, "risky")(out =>
      spark.range(1000, 1010).selectExpr("id AS k", "id * 2.0 AS v")
        .write.mode("append").parquet(out))
    Snapshots.commitAppend(root)(out => // concurrent main commit wins v4
      spark.range(2000, 2005).selectExpr("id AS k", "id * 2.0 AS v")
        .write.mode("append").parquet(out))
    intercept[java.util.ConcurrentModificationException](
      Snapshots.fastForward(root, "risky"))
    assert(Snapshots.read(spark, root).count() == 165L,
      "a refused publish must leave main exactly as the concurrent commit left it")
    // dropping the failed branch releases its staged work to the sweeps
    val riskyFiles = Snapshots.resolveBranch(root, "risky").files
      .filterNot(Snapshots.resolveAt(root, 4L).files.contains)
    Snapshots.dropBranch(root, "risky")
    assert(Snapshots.branchFork(root, "risky").isEmpty)
    Snapshots.removeOrphanFiles(root, graceMs = -1000L)
    riskyFiles.foreach(f => assert(!Files.exists(Paths.get(f)),
      s"a dropped branch's staged file $f must be reclaimable"))
    assert(Snapshots.read(spark, root).count() == 165L)
  }
}
