package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed

import graft.catalog.GraftCatalog
import graft.sources.Snapshots

/** Merge-on-read reads scope deletes by per-file sequence numbers: one
  * parquet scan covers every live file whatever the delete history,
  * and a row is deleted iff its key's newest delete cover is above its
  * file's sequence number. Pins: random statement sequences on a keyed
  * MOR table read the model's rows at the head and at every version,
  * with the key sets inline and lazy; a table with three delete eras
  * plans one scan over all its files; and the scan reports the files
  * it reads after stats pruning. */
class MorSequenceSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val gateKey = "spark.graft.mor.inlineDeleteBytes"

  private lazy val wh = {
    val dir = Qx.tmpOut("morseq", sf())
    GraftCatalog.register(spark, "snap", Some(dir))
    dir
  }

  private def sqlDf(q: String) = { wh; spark.sql(q) }

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def morScans(df: org.apache.spark.sql.DataFrame): Seq[BatchScanExec] =
    collect(df.queryExecution.executedPlan) {
      case b: BatchScanExec if b.scan.description().contains("MOR scan") => b
    }

  import MorSequenceSpec._

  // keys come from a small domain, so inserts often re-insert a key an
  // earlier DELETE removed: the older delete must not hide the new row
  private val keyGen = Gen.choose(0L, 11L)
  private val rangeGen = for { lo <- keyGen; w <- Gen.choose(0L, 4L) } yield (lo, lo + w)
  private val cmdGen: Gen[Cmd] = Gen.frequency(
    3 -> Gen.choose(1, 4).flatMap(Gen.listOfN(_, keyGen)).map(ks => Insert(ks.distinct)),
    3 -> rangeGen.map { case (lo, hi) => Delete(lo, hi) },
    2 -> (for { (lo, hi) <- rangeGen; by <- Gen.choose(1L, 9L) } yield Update(lo, hi, by)),
    2 -> (for {
      ks <- Gen.choose(1, 3).flatMap(Gen.listOfN(_, keyGen))
      v <- Gen.choose(100L, 199L)
    } yield Merge(ks.distinct, v)),
    1 -> Gen.const(CompactDeletes))
  private val cmdsGen = Gen.listOfN(6, cmdGen)

  test("keyed MOR sequences match a model at the head and every version, both gates") {
    var run = 0
    val prop = Prop.forAll(cmdsGen) { cmds =>
      run += 1
      val t = s"snap.default.mseq$run"
      sqlDf(s"DROP TABLE IF EXISTS $t")
      sqlDf(s"CREATE TABLE $t (k BIGINT, v BIGINT) TBLPROPERTIES ('graft.mor.key'='k')")
      val root = s"$wh/default/mseq$run"
      var model = Map.empty[Long, Long]
      val states = scala.collection.mutable.LinkedHashMap.empty[Long, Map[Long, Long]]
      def record(): Unit =
        Snapshots.resolve(root).foreach(s => states(s.version) = model)
      def values(kvs: Seq[(Long, Long)]): String =
        kvs.map { case (k, v) => s"($k, $v)" }.mkString(", ")
      // seed rows so the first statements have something to hit
      model = (0L to 7L).map(k => k -> k).toMap
      sqlDf(s"INSERT INTO $t VALUES ${values(model.toSeq.sorted)}")
      record()
      def run1(cmd: Cmd): Unit = cmd match {
        case Insert(ks) =>
          val fresh = ks.filterNot(model.contains).map(k => k -> (k + 50L))
          if (fresh.nonEmpty) {
            sqlDf(s"INSERT INTO $t VALUES ${values(fresh)}")
            model ++= fresh
          }
        case Delete(lo, hi) =>
          sqlDf(s"DELETE FROM $t WHERE k BETWEEN $lo AND $hi")
          model = model.filter { case (k, _) => k < lo || k > hi }
        case Update(lo, hi, by) =>
          sqlDf(s"UPDATE $t SET v = v + $by WHERE k BETWEEN $lo AND $hi")
          model = model.map { case (k, v) => k -> (if (k >= lo && k <= hi) v + by else v) }
        case Merge(ks, v) =>
          ks.map(k => (k, v + k)).toDF("k", "v").createOrReplaceTempView("mseq_src")
          sqlDf(s"""MERGE INTO $t t USING mseq_src s ON t.k = s.k
                   |WHEN MATCHED THEN UPDATE SET v = s.v
                   |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""".stripMargin)
          model ++= ks.map(k => k -> (v + k))
        case CompactDeletes =>
          sqlDf(s"CALL snap.system.compact_deletes('default.mseq$run')").collect()
      }
      cmds.foreach { cmd =>
        run1(cmd)
        record()
      }
      def rows(q: String): Map[Long, Long] = {
        val got = sqlDf(q).as[(Long, Long)].collect().toSeq
        assert(got.map(_._1).distinct.size == got.size, s"duplicate keys from $q: $got")
        got.toMap
      }
      Seq("8m", "0").forall { gate =>
        withConf(gateKey -> gate) {
          val head = rows(s"SELECT k, v FROM $t")
          assert(head == model, s"gate $gate, $cmds: head $head vs model $model")
          states.foreach { case (ver, m) =>
            val at = rows(s"SELECT k, v FROM $t VERSION AS OF $ver")
            assert(at == m, s"gate $gate, $cmds: version $ver read $at vs model $m")
          }
          true
        }
      }
    }
    // fixed seed and few short sequences: the whole check stays well
    // under half a minute of test time
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(3).withInitialSeed(Seed(20261019L)), prop)
    assert(res.passed, res.status.toString)
  }

  test("a table with three delete eras plans one MOR scan over every live file") {
    sqlDf("DROP TABLE IF EXISTS snap.default.mseqeras")
    sqlDf("CREATE TABLE snap.default.mseqeras (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('graft.mor.key'='k')")
    (0 until 3).foreach { i =>
      sqlDf(s"INSERT INTO snap.default.mseqeras SELECT id, id FROM range(${i * 100}, ${i * 100 + 100})")
      sqlDf(s"DELETE FROM snap.default.mseqeras WHERE k % 10 = $i")
      // a re-insert of a deleted key, older than the later deletes
      // (which do not hold it), stays visible
      if (i == 0) sqlDf("INSERT INTO snap.default.mseqeras VALUES (0, -1)")
    }
    val snap = Snapshots.resolve(s"$wh/default/mseqeras").get
    assert(snap.deletes.map(_.coversBelow).distinct.size >= 3, s"fixture: ${snap.deletes}")
    val df = sqlDf("SELECT k, v FROM snap.default.mseqeras")
    val got = df.as[(Long, Long)].collect().toSet
    // delete i removes k % 10 == i from batches 0..i
    val expected = (0L until 300L).filter(k => k % 10 > 2 || k % 10 < k / 100)
      .map(k => k -> k).toSet + (0L -> -1L)
    assert(got == expected, s"rows: ${got.size} vs ${expected.size}")
    val scans = morScans(df)
    assert(scans.size == 1, s"one MOR scan expected:\n${df.queryExecution.executedPlan}")
    val desc = scans.head.scan.description()
    assert(desc.contains(s"StatsPruningIndex(${snap.files.size} paths)"),
      s"the one delegate scan must list all ${snap.files.size} live files:\n$desc")
    assert(!desc.contains("era(s)"), desc)
    assert(!scans.head.supportsColumnar, "a MOR scan reads rows")
  }

  test("a stats-pruned MOR point read reports numFiles below the live file count") {
    sqlDf("DROP TABLE IF EXISTS snap.default.mseqfiles")
    sqlDf("CREATE TABLE snap.default.mseqfiles (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('graft.mor.key'='k')")
    Seq(0, 1000, 2000).foreach { lo =>
      sqlDf(s"INSERT INTO snap.default.mseqfiles SELECT id, CAST(id AS STRING) " +
        s"FROM range($lo, ${lo + 100})")
    }
    sqlDf("DELETE FROM snap.default.mseqfiles WHERE k = 1050")
    val live = Snapshots.resolve(s"$wh/default/mseqfiles").get.files.size
    def readFiles(q: String): Long = {
      val df = sqlDf(q)
      df.collect()
      val scans = morScans(df)
      assert(scans.size == 1, df.queryExecution.executedPlan.toString)
      scans.head.metrics("numFiles").value
    }
    assert(readFiles("SELECT * FROM snap.default.mseqfiles") == live)
    val point = readFiles("SELECT * FROM snap.default.mseqfiles WHERE k = 1020")
    assert(point > 0 && point < live, s"point read scanned $point of $live files")
  }
}

object MorSequenceSpec {
  sealed trait Cmd
  final case class Insert(keys: Seq[Long]) extends Cmd
  final case class Delete(lo: Long, hi: Long) extends Cmd
  final case class Update(lo: Long, hi: Long, by: Long) extends Cmd
  final case class Merge(keys: Seq[Long], v: Long) extends Cmd
  case object CompactDeletes extends Cmd
}
