package graft

import graft.catalog.GraftCatalog
import graft.sources.Snapshots

/** Round-17 hardening pins — the r16 ADVICE findings:
  *  1. bloom refutation must not apply across the DECIMAL(18)→(19)
  *     XxHash64 scheme flip (writer skips non-canonicalizable types,
  *     reader never refutes them);
  *  2. CALL arguments must not path-traverse out of the warehouse;
  *  3. z-order compaction survives NaN/Infinity values in a zorder
  *     column (degenerate normalization, not an unparseable literal);
  *  4. stats/point-pruned direct reads of a legitimately zero-file
  *     head return a schema-shaped empty frame, not AnalysisException;
  *  5. bloom column names containing ':' are refused (they would
  *     corrupt the '#bloom:<ver>:<col>:<file>' manifest-line split).
  */
class Round17OpsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val wh = {
    val dir = Qx.tmpOut("r17wh", sf())
    GraftCatalog.register(spark, "snap", Some(dir))
    dir
  }

  private def sqlDf(q: String) = { wh; spark.sql(q) }

  test("decimal point lookups survive a precision widening across 18 (bloom never refutes)") {
    sqlDf("DROP TABLE IF EXISTS snap.default.r17dec")
    sqlDf("""CREATE TABLE snap.default.r17dec
            |TBLPROPERTIES ('graft.bloom.cols'='k') AS
            |SELECT CAST(id AS DECIMAL(18,2)) AS k, id AS v FROM range(0, 500)
            |""".stripMargin)
    val root = s"$wh/default/r17dec"
    // the writer must NOT have sketched the decimal column: XxHash64
    // hashes DECIMAL(<=18) as the unscaled long but wider decimals as
    // the unscaled byte array, so any sketch would refute wrongly
    // after the widening below
    assert(Snapshots.resolve(root).get.blooms.isEmpty,
      "decimal columns must not be bloom-sketched (no canonical hash)")
    sqlDf("ALTER TABLE snap.default.r17dec ALTER COLUMN k TYPE DECIMAL(19,2)")
    sqlDf("INSERT INTO snap.default.r17dec VALUES (CAST(250 AS DECIMAL(19,2)), 9999)")
    val hit = sqlDf(
      "SELECT v FROM snap.default.r17dec WHERE k = CAST(250 AS DECIMAL(19,2))")
      .as[Long].collect().sorted.toSeq
    assert(hit == Seq(250L, 9999L),
      s"post-widening decimal point lookup lost rows: $hit")
    // a long-keyed sibling with the same opt-in still sketches and
    // still prunes: canonicalizable types keep the fast path
    sqlDf("DROP TABLE IF EXISTS snap.default.r17long")
    sqlDf("""CREATE TABLE snap.default.r17long
            |TBLPROPERTIES ('graft.bloom.cols'='k') AS
            |SELECT id AS k, id AS v FROM range(0, 500)""".stripMargin)
    assert(Snapshots.resolve(s"$wh/default/r17long").get.blooms.nonEmpty,
      "long columns must still be sketched")
    assert(sqlDf("SELECT v FROM snap.default.r17long WHERE k = 42")
      .as[Long].collect().toSeq == Seq(42L))
  }

  test("CALL arguments reject path separators and dot segments") {
    wh
    // create a victim table OUTSIDE the procedure's intended scope so
    // a traversal would have something snapshot-shaped to destroy
    sqlDf("DROP TABLE IF EXISTS snap.default.r17victim")
    sqlDf("CREATE TABLE snap.default.r17victim AS SELECT id FROM range(10)")
    // NB: '\\b' in the SQL literal — Spark escape-processes string
    // literals, so a single backslash would read back as backspace
    Seq("default/../default/r17victim", "../default.r17victim", "..",
      "a\\\\b.t", "default..t").foreach { bad =>
      val e = intercept[Exception](
        sqlDf(s"CALL snap.system.vacuum('$bad', 2)").collect())
      assert(e.getMessage.contains("bad table argument"),
        s"'$bad' must be rejected at parse time, got: ${e.getMessage}")
    }
    assert(sqlDf("SELECT count(*) FROM snap.default.r17victim")
      .as[Long].head() == 10L)
  }

  test("z-order compaction tolerates NaN and Infinity in a zorder column") {
    sqlDf("DROP TABLE IF EXISTS snap.default.r17nan")
    sqlDf("""CREATE TABLE snap.default.r17nan AS
            |SELECT CAST(CASE WHEN id = 7 THEN 'NaN'
            |                 WHEN id = 8 THEN 'Infinity'
            |                 ELSE CAST(id AS STRING) END AS DOUBLE) AS a,
            |       CAST(id AS DOUBLE) AS b, id AS v
            |FROM range(0, 1000)""".stripMargin)
    // max(a) = NaN (NaN sorts above everything in Spark) → span is
    // non-finite → the 'a' axis must degenerate to 0L instead of
    // rendering an unparseable 'NaN' literal into the expression
    sqlDf("CALL snap.system.compact('default.r17nan', 'a, b')")
    assert(sqlDf("SELECT sum(v) FROM snap.default.r17nan").as[Long].head()
      == (0L until 1000L).sum, "z-order with NaN bounds must be lossless")
  }

  test("stats/point-pruned reads of a zero-file head return an empty frame") {
    sqlDf("DROP TABLE IF EXISTS snap.default.r17gone")
    sqlDf("CREATE TABLE snap.default.r17gone AS SELECT id AS k, id AS v FROM range(50)")
    sqlDf("DELETE FROM snap.default.r17gone WHERE k >= 0") // DELETE-all
    val root = s"$wh/default/r17gone"
    assert(Snapshots.resolve(root).get.files.isEmpty,
      "fixture: DELETE-all must publish a zero-file head")
    val statsPruned = Snapshots.readStatsPruned(spark, root, "k",
      Some(10L), Some(20L))
    assert(statsPruned.columns.toSeq == Seq("k", "v") && statsPruned.count() == 0L)
    // point lookups prune through the catalog scan's equality pruning
    val pointPruned = sqlDf("SELECT * FROM snap.default.r17gone WHERE k = 10")
    assert(pointPruned.columns.toSeq == Seq("k", "v") && pointPruned.count() == 0L)
  }

  test("DROP COLUMN composes with pending MOR deletes (shadow-field read)") {
    import graft.sources.Snapshots
    sqlDf("DROP TABLE IF EXISTS snap.default.r17drop")
    sqlDf("""CREATE TABLE snap.default.r17drop
            |TBLPROPERTIES ('graft.mor.key'='k') AS
            |SELECT CAST(id AS INT) AS k, CAST(id AS STRING) AS v,
            |       id * 10 AS w
            |FROM range(0, 200)""".stripMargin)
    sqlDf("DELETE FROM snap.default.r17drop WHERE k % 10 = 0") // pending, spelling k
    sqlDf("ALTER TABLE snap.default.r17drop RENAME COLUMN k TO ok")
    sqlDf("ALTER TABLE snap.default.r17drop ALTER COLUMN ok TYPE BIGINT")
    sqlDf("INSERT INTO snap.default.r17drop SELECT id, CAST(id AS STRING), id * 10 FROM range(200, 300)")
    sqlDf("DELETE FROM snap.default.r17drop WHERE ok % 7 = 0") // pending, spelling ok
    val root = s"$wh/default/r17drop"
    assert(Snapshots.resolve(root).get.deletes.size >= 2,
      "fixture needs pending delete files from both eras")
    // the drop target keys BOTH pending delete generations (one under
    // its pre-rename spelling) AND is the declared merge-on-read key —
    // the r16 refusal case. Now it drops: the scan keeps reading it as
    // a hidden shadow field through the dropchain/droptype ledger.
    sqlDf("ALTER TABLE snap.default.r17drop DROP COLUMN ok")
    val expect = (0L until 300L).filterNot(i => (i < 200 && i % 10 == 0) || i % 7 == 0)
    val got = sqlDf("SELECT w FROM snap.default.r17drop").as[Long].collect().sorted
    assert(got.toSeq == expect.map(_ * 10),
      s"post-drop read lost/kept wrong rows: ${got.length} vs ${expect.size}")
    assert(sqlDf("SELECT * FROM snap.default.r17drop").columns.toSeq == Seq("v", "w"),
      "dropped column must not present")
    // dropping the declared MOR key de-configures merge-on-read: the
    // next DELETE goes copy-on-write (and absorbs the pending deletes)
    assert(!sqlDf("SHOW TBLPROPERTIES snap.default.r17drop")
      .collect().exists(_.getString(0) == "graft.mor.key"))
    sqlDf("DELETE FROM snap.default.r17drop WHERE w = 30")
    assert(Snapshots.resolve(root).get.deletes.isEmpty,
      "COW delete must absorb pending MOR deletes")
    assert(sqlDf("SELECT count(*) FROM snap.default.r17drop").as[Long].head()
      == expect.size - 1)
    // the droptype ledger is cleared by the rewrite along with the
    // other evolution ledgers (every surviving row re-materialized)
    assert(!sqlDf("SHOW TBLPROPERTIES snap.default.r17drop")
      .collect().exists(_.getString(0).startsWith("graft.col.droptype.")))
  }

  test("DROP of a non-key column with pending deletes + stats/bloom sidecars") {
    import graft.sources.Snapshots
    sqlDf("DROP TABLE IF EXISTS snap.default.r17drop2")
    sqlDf("""CREATE TABLE snap.default.r17drop2
            |TBLPROPERTIES ('graft.mor.key'='k', 'graft.bloom.cols'='k,extra') AS
            |SELECT id AS k, id * 2 AS extra, CAST(id AS STRING) AS v
            |FROM range(0, 400)""".stripMargin)
    sqlDf("DELETE FROM snap.default.r17drop2 WHERE k % 9 = 0") // pending
    // a non-key drop while deletes are pending (and while the dropped
    // column carries stats + a bloom sidecar) — reads stay exact and
    // pruning on the REMAINING columns keeps working
    sqlDf("ALTER TABLE snap.default.r17drop2 DROP COLUMN extra")
    val expect = (0L until 400L).filterNot(_ % 9 == 0)
    assert(sqlDf("SELECT k FROM snap.default.r17drop2").as[Long].collect().sorted
      .toSeq == expect)
    assert(sqlDf("SELECT k FROM snap.default.r17drop2 WHERE k = 27")
      .as[Long].collect().isEmpty) // deleted key, bloom path engaged
    assert(sqlDf("SELECT k FROM snap.default.r17drop2 WHERE k = 28")
      .as[Long].collect().toSeq == Seq(28L))
    // time travel to the pre-drop version still presents the column
    val v1 = sqlDf("SELECT min(version) FROM snap.default.r17drop2.history")
      .as[Long].head()
    assert(sqlDf(s"SELECT * FROM snap.default.r17drop2 VERSION AS OF $v1")
      .columns.contains("extra"))
  }

  test("large-star/small-star CC converges on a long duplicate chain") {
    import org.apache.spark.sql.functions.col
    // a 50-node PATH graph: diameter 49 — min-label propagation under
    // the former 10-iteration cap could not converge; the alternating
    // large-star/small-star rounds are diameter-independent
    val chain = spark.range(0, 49).selectExpr("id AS d1", "id + 1 AS d2")
    val labels = graft.operators.TextOps.connectedComponents(chain)
      .select(col("doc_id").cast("long"), col("comp").cast("long"))
      .as[(Long, Long)].collect().toMap
    assert(labels.size == 50 && labels.values.forall(_ == 0L),
      s"every chain node must label to the component minimum 0, got " +
        labels.filter(_._2 != 0L).take(5).toString)
    // several components at once, edges in arbitrary orientation
    val multi = spark.createDataset(Seq(
      (5L, 3L), (3L, 9L), (9L, 7L),        // comp min 3
      (20L, 21L),                          // comp min 20
      (31L, 30L), (32L, 31L), (30L, 33L)   // comp min 30
    )).toDF("d1", "d2")
    val got = graft.operators.TextOps.connectedComponents(multi)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(3L -> 3L, 5L -> 3L, 7L -> 3L, 9L -> 3L,
      20L -> 20L, 21L -> 20L, 30L -> 30L, 31L -> 30L, 32L -> 30L,
      33L -> 30L), s"got $got")
    // empty edge set → empty labels, no hang
    assert(graft.operators.TextOps.connectedComponents(
      multi.filter(col("d1") < 0)).isEmpty)
    // self-loops: a node whose only edges are reflexive still labels
    // (its own singleton component); one inside a real component
    // keeps its star label — never two rows
    val loops = spark.createDataset(Seq((7L, 7L), (3L, 3L), (3L, 9L)))
      .toDF("d1", "d2")
    assert(graft.operators.TextOps.connectedComponents(loops)
      .as[(Long, Long)].collect().toMap == Map(7L -> 7L, 3L -> 3L, 9L -> 3L))
  }

  test("CC gated local fixpoint ≡ distributed star loop on the same graph") {
    import org.apache.spark.sql.functions._
    // r21: under ccLocalGate connectedComponents answers from a driver
    // union-find; this pins the two paths to the SAME fixpoint on a
    // graph with a long chain, a star, several singleton-ish comps and
    // arbitrary edge orientation — by driving ccDistributed directly on
    // the canonical edge set the gate would otherwise bypass.
    val edges = spark.range(0, 49).selectExpr("id AS d1", "id + 1 AS d2")
      .unionAll(spark.createDataset(Seq(
        (100L, 107L), (107L, 103L), (103L, 109L),
        (200L, 221L), (310L, 309L), (309L, 311L))).toDF("d1", "d2"))
    val viaPublic = graft.operators.TextOps.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    val cc0 = edges.filter(col("d1") =!= col("d2"))
      .select(greatest(col("d1"), col("d2")).as("u"),
        least(col("d1"), col("d2")).as("v"))
      .distinct().localCheckpoint(true)
    val viaLoop = graft.operators.TextOps.ccDistributed(cc0, cc0.count())
      .as[(Long, Long)].collect().toMap
    assert(viaPublic == viaLoop, s"local=$viaPublic loop=$viaLoop")
    assert(viaPublic(48L) == 0L && viaPublic(109L) == 100L &&
      viaPublic(221L) == 200L && viaPublic(311L) == 309L)
  }

  test("readChangesRows across row-changing commits plans O(touched), not O(table)") {
    import org.apache.spark.sql.functions._
    val root = s"${Qx.tmpOut("r17cdf", sf())}/store"
    val p = java.nio.file.Paths.get(root)
    if (java.nio.file.Files.exists(p)) {
      val walk = java.nio.file.Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.toSeq.reverse.foreach(java.nio.file.Files.delete)
      } finally walk.close()
    }
    // four single-file commits with disjoint, stats-recorded key ranges
    def block(r: Range) = spark.range(r.start, r.end)
      .select($"id".as("k"), ($"id" * 10).as("v")).coalesce(1)
    Snapshots.commit(root)(out =>
      block(0 until 100).write.mode("append").parquet(out))
    (1 until 4).foreach(i => Snapshots.commitAppend(root)(out =>
      block(i * 100 until (i + 1) * 100).write.mode("append").parquet(out)))
    val v4files = Snapshots.resolveAt(root, 4L).files
    assert(v4files.size == 4)
    val file2 = Snapshots.changedFiles(root, 1L, 2L)
    val untouched = v4files.toSet -- file2 // blocks 0, 2, 3
    // v5: MOR delete of two keys inside block 1; v6: re-insert one of
    // them with a new value — the range [v4, v6] crosses a
    // row-changing (delete-set) commit, the former full-outer
    // two-state diff shape
    val v5 = Snapshots.commitDelete(root, "k")(out =>
      spark.createDataset(Seq(150L, 160L)).toDF("k")
        .coalesce(1).write.mode("append").parquet(out))
    val v6 = Snapshots.commitAppend(root)(out =>
      Seq((150L, 9999L)).toDF("k", "v")
        .coalesce(1).write.mode("append").parquet(out))
    val feed = Snapshots.readChangesRows(spark, root, 4L, v6, Seq("k"))
    val got = feed.select($"_change_type", $"k", $"v")
      .as[(String, Long, Long)].collect().toSet
    assert(got == Set(
      ("update_pre", 150L, 1500L), ("update_post", 150L, 9999L),
      ("delete", 160L, 1600L)),
      s"feed must be the exact keyed diff: $got")
    // THE plan shape: only the touched block (whose stats admit the
    // delta keys) and the v6 file enter the table scans — blocks 0/2/3
    // are never referenced, so the former O(table) full-outer state
    // join is gone
    val planned = plannedFiles(feed).map(_.stripPrefix("file:").stripPrefix("//"))
      .map(f => if (f.startsWith("/")) f else s"/$f").toSet
    assert(planned.nonEmpty, "the feed must plan its files")
    val leaked = untouched.filter(u => planned.exists(_.endsWith(u)))
    assert(leaked.isEmpty,
      s"untouched files must not enter a rewrite-crossing feed plan: $leaked")
    assert(file2.forall(f => planned.exists(_.endsWith(f))),
      s"the touched block must be planned: $planned")
    assert(v5 == 5L && v6 == 6L)
  }

  test("storage-partitioned join: co-partitioned snap tables join with zero exchange") {
    sqlDf("DROP TABLE IF EXISTS snap.default.r17spja")
    sqlDf("DROP TABLE IF EXISTS snap.default.r17spjb")
    sqlDf("""CREATE TABLE snap.default.r17spja PARTITIONED BY (g) AS
            |SELECT id AS k, CAST(id % 7 AS STRING) AS g FROM range(0, 2000)""".stripMargin)
    // second commit → several dirs per value; the grouping must merge
    sqlDf("INSERT INTO snap.default.r17spja SELECT id, CAST(id % 7 AS STRING) FROM range(2000, 3000)")
    sqlDf("""CREATE TABLE snap.default.r17spjb PARTITIONED BY (g) AS
            |SELECT CAST(id AS STRING) AS g, id * 100 AS w FROM range(0, 7)""".stripMargin)
    val prev = spark.conf.getOption("spark.sql.sources.v2.bucketing.enabled")
    val prevB = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force the issue
      val df = sqlDf(
        """SELECT a.g, count(*) AS n, sum(b.w) AS tw
          |FROM snap.default.r17spja a JOIN snap.default.r17spjb b ON a.g = b.g
          |GROUP BY a.g ORDER BY a.g""".stripMargin)
      val rows = df.collect()
      assert(rows.length == 7)
      val n0 = rows.head.getAs[Long]("n")
      assert(n0 == (0 until 3000).count(_ % 7 == 0),
        s"group 0 count wrong: $n0")
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"co-partitioned storage join must plan without a hash exchange:\n$plan")
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"fixture must actually exercise a shuffle-family join:\n$plan")
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.sources.v2.bucketing.enabled", v)
        case None => spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      }
      prevB match {
        case Some(v) => spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v)
        case None => spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
    }
  }

  test("snap.system.analyze feeds CBO: stats-driven broadcast flip on snap tables") {
    sqlDf("DROP TABLE IF EXISTS snap.default.r17fact")
    sqlDf("DROP TABLE IF EXISTS snap.default.r17dim")
    sqlDf("""CREATE TABLE snap.default.r17fact AS
            |SELECT id AS k, id % 1000 AS fk FROM range(0, 30000)""".stripMargin)
    // dim: bigger than the broadcast threshold on disk (md5 padding is
    // incompressible), but a >990 filter keeps ~1% of rows
    sqlDf("""CREATE TABLE snap.default.r17dim AS
            |SELECT id AS dk, CAST(id % 1000 AS DOUBLE) AS bal,
            |       concat(md5(CAST(id AS STRING)), md5(CAST(id + 1 AS STRING)),
            |              md5(CAST(id + 2 AS STRING))) AS pad
            |FROM range(0, 2000)""".stripMargin)
    val rep = sqlDf("CALL snap.system.analyze('default.r17dim')").collect().head
    assert(rep.getAs[Long]("row_count") == 2000L &&
      rep.getAs[Int]("columns_analyzed") == 3, s"analyze report: $rep")
    sqlDf("CALL snap.system.analyze('default.r17fact')")
    // the NDV ledger is recorded and visible
    assert(sqlDf("SHOW TBLPROPERTIES snap.default.r17dim").collect()
      .exists(r => r.getString(0) == "graft.stats.ndv.dk"))
    val dimBytes = graft.sources.Snapshots.resolve(s"$wh/default/r17dim")
      .get.files.map(f => java.nio.file.Files.size(java.nio.file.Paths.get(f))).sum
    val threshold = math.max(64L * 1024, dimBytes / 2)
    assert(dimBytes > threshold, s"fixture: dim ($dimBytes B) must exceed $threshold B")
    // pad stays in the output so column pruning cannot shrink the
    // size-only estimate below the threshold — the flip must come
    // from the row-count/selectivity estimate, i.e. from the stats
    val q = """SELECT f.fk, count(*) AS n, min(d.pad) AS p0
              |FROM snap.default.r17fact f
              |JOIN snap.default.r17dim d ON f.fk = d.dk
              |WHERE d.bal > 990.0 GROUP BY f.fk ORDER BY f.fk""".stripMargin
    val prevCbo = spark.conf.getOption("spark.sql.cbo.enabled")
    val prevTh = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.getOption("spark.sql.adaptive.enabled")
    try {
      // AQE would flip the join from RUNTIME sizes; the point here is
      // the STATIC stats-driven decision (at 100 TB the static flip
      // avoids even planning the shuffle stages)
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold.toString)
      spark.conf.set("spark.sql.cbo.enabled", "false")
      val off = sqlDf(q)
      off.collect()
      assert(off.queryExecution.executedPlan.toString.contains("SortMergeJoin"),
        "without CBO the over-threshold dim must sort-merge: " +
          off.queryExecution.executedPlan.toString)
      spark.conf.set("spark.sql.cbo.enabled", "true")
      val on = sqlDf(q)
      val rows = on.collect()
      assert(rows.length == 9, s"9 fk groups survive the >990 filter: ${rows.length}")
      assert(on.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
        "with CBO + analyze stats the 1%-selective dim must broadcast: " +
          on.queryExecution.executedPlan.toString)
    } finally {
      prevCbo match {
        case Some(v) => spark.conf.set("spark.sql.cbo.enabled", v)
        case None => spark.conf.unset("spark.sql.cbo.enabled")
      }
      prevTh match {
        case Some(v) => spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v)
        case None => spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
      prevAqe match {
        case Some(v) => spark.conf.set("spark.sql.adaptive.enabled", v)
        case None => spark.conf.unset("spark.sql.adaptive.enabled")
      }
    }
  }

  test("ANN outputs carry a recall column; floors hold at sf0.01 and sf0.1") {
    // the recall-vs-exact-twin gate: attached as a constant column so
    // the driver's determinism check pins retrieval QUALITY, not just
    // reproducibility. Floors are RATCHETED per SF to the r20 measured
    // values minus one probe's granularity (lsh/multiprobe recall@1
    // moves in steps of 0.1 over 10 probes; ivf recall@5 in steps of
    // 0.02 over 50 slots) — losing even a single probe's hit trips
    // the gate. Measured r20: lsh 0.7/0.9, multiprobe 0.9/1.0,
    // ivf 0.94/0.90 at sf0.01/sf0.1 (IVF spilled Repl=2 inverted file
    // + nprobe=6, up from r19's single-cell nprobe=4 at 0.6/0.54;
    // LSH unchanged at L=3 tables).
    val floors = Map( // sf -> (lsh, multiprobe, ivf)
      "0.01" -> (0.6, 0.8, 0.92),
      "0.1" -> (0.8, 0.9, 0.88))
    for (sfw <- Seq("0.01", "0.1")) {
      val dir = sf(sfw)
      def recallOf(key: String): Double = {
        val df = graft.operators.SimOps.queries(key)(spark, dir)
        val c = df.columns.last
        assert(c.startsWith("recall_at_"), s"$key must carry a recall column, has $c")
        val vals = df.select(c).distinct().collect().map(_.getDouble(0))
        assert(vals.length == 1, s"$key recall must be one constant: ${vals.toSeq}")
        vals.head
      }
      val lsh = recallOf("sim_ann_lsh")
      val multi = recallOf("sim_ann_lsh_multiprobe")
      val ivf = recallOf("sim_ann_ivf")
      info(s"sf$sfw measured recall: lsh=$lsh multiprobe=$multi ivf=$ivf")
      val (fLsh, fMulti, fIvf) = floors(sfw)
      assert(lsh >= fLsh, s"sf$sfw sim_ann_lsh recall@1 floor $fLsh: $lsh")
      assert(multi >= fMulti, s"sf$sfw multiprobe recall@1 floor $fMulti: $multi")
      assert(multi >= lsh, s"sf$sfw multiprobe ($multi) must dominate single-probe ($lsh)")
      assert(ivf >= fIvf, s"sf$sfw sim_ann_ivf recall@5 floor $fIvf: $ivf")
    }
  }

  test("maxBytesPerTrigger paces a long-lagged catch-up into bounded batches") {
    import org.apache.spark.sql.streaming.Trigger
    sqlDf("DROP TABLE IF EXISTS snap.default.r17rate")
    sqlDf("CREATE TABLE snap.default.r17rate (k BIGINT, v STRING)")
    // six append commits — a lagged consumer's catch-up backlog
    (0 until 6).foreach(i =>
      sqlDf(s"INSERT INTO snap.default.r17rate SELECT id, repeat('x', 100) " +
        s"FROM range(${i * 100}, ${i * 100 + 100})"))
    val out = Qx.tmpOut("r17rateout", sf())
    val ckpt = Qx.tmpOut("r17rateckpt", sf())
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    // cap below one commit's staged bytes: every batch must admit
    // exactly one version (the at-least-one-version floor), so the
    // catch-up drains in >= 6 micro-batches instead of one giant one
    val q = spark.readStream.option("maxBytesPerTrigger", "1k")
      .table("snap.default.r17rate")
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.read.parquet(out).count() == 600L, "catch-up must be lossless")
    val batches = q.recentProgress.count(_.numInputRows > 0)
    assert(batches >= 6,
      s"a 1k byte cap must split six commits into >= 6 batches, got $batches")
    // bad values refuse loudly
    intercept[Exception] {
      val bad = spark.readStream.option("maxBytesPerTrigger", "zero")
        .table("snap.default.r17rate")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      try bad.awaitTermination() finally bad.stop()
    }
  }

  test("bloom column names containing ':' are refused at CREATE and ALTER") {
    wh
    sqlDf("DROP TABLE IF EXISTS snap.default.r17colon")
    val e1 = intercept[Exception](sqlDf(
      """CREATE TABLE snap.default.r17colon (k BIGINT)
        |TBLPROPERTIES ('graft.bloom.cols'='a:b')""".stripMargin))
    assert(e1.getMessage.contains("graft.bloom.cols"), e1.getMessage)
    sqlDf("CREATE TABLE snap.default.r17colon (k BIGINT)")
    val e2 = intercept[Exception](sqlDf(
      "ALTER TABLE snap.default.r17colon SET TBLPROPERTIES ('graft.bloom.cols'='a:b')"))
    assert(e2.getMessage.contains("graft.bloom.cols"), e2.getMessage)
  }

  test("namespace DDL rejects path-traversal parts") {
    wh
    // the destructive worst case: DROP NAMESPACE snap.`..` CASCADE
    // would deleteRecursively the warehouse's PARENT if the namespace
    // join points skipped the shared path-safety guard
    intercept[Exception](sqlDf("DROP NAMESPACE snap.`..` CASCADE"))
    val e = intercept[Exception](sqlDf("CREATE NAMESPACE snap.`a/b`"))
    assert(e.getMessage.contains("bad namespace part"), e.getMessage)
    intercept[Exception](sqlDf("SHOW TABLES IN snap.`..`").collect())
    assert(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(wh)),
      "warehouse must survive traversal attempts")
    // and nothing above the warehouse was touched: its parent still
    // holds the warehouse entry (a parent-delete would have emptied it)
    val parent = java.nio.file.Paths.get(wh).toAbsolutePath.getParent
    assert(java.nio.file.Files.isDirectory(parent), "warehouse parent must survive")
  }

  test("Trigger.Once overrides byte pacing: one batch drains everything") {
    import org.apache.spark.sql.streaming.Trigger
    sqlDf("DROP TABLE IF EXISTS snap.default.r17once")
    sqlDf("CREATE TABLE snap.default.r17once (k BIGINT, v STRING)")
    (0 until 4).foreach(i =>
      sqlDf(s"INSERT INTO snap.default.r17once SELECT id, repeat('x', 100) " +
        s"FROM range(${i * 50}, ${i * 50 + 50})"))
    val out = Qx.tmpOut("r17onceout", sf())
    val ckpt = Qx.tmpOut("r17onceckpt", sf())
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    // the 1k cap would pace an AvailableNow run into >= 4 batches (the
    // sibling test above); Trigger.Once's contract is "everything, one
    // batch" — the engine signals that by replacing the read limit with
    // allAvailable, and the source must OBEY the limit argument rather
    // than re-reading its own option
    val q = spark.readStream.option("maxBytesPerTrigger", "1k")
      .table("snap.default.r17once")
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .trigger(Trigger.Once()).start()
    q.awaitTermination()
    assert(spark.read.parquet(out).count() == 200L,
      "Trigger.Once must drain ALL available data in spite of the byte cap")
    val batches = q.recentProgress.count(_.numInputRows > 0)
    assert(batches == 1, s"Trigger.Once must plan exactly one batch, got $batches")
  }

  test("remove_orphan_files reclaims strays, keeps referenced/hot/time-travel files") {
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.FileTime
    import scala.jdk.CollectionConverters._
    sqlDf("DROP TABLE IF EXISTS snap.default.r17orph")
    sqlDf("CREATE TABLE snap.default.r17orph AS SELECT id AS k, id % 3 AS g FROM range(0, 300)")
    // v2 rewrites away the %5 keys: v1's files leave the head but stay
    // time-travel-reachable — the sweep must keep them
    sqlDf("DELETE FROM snap.default.r17orph WHERE k % 5 = 0")
    val root = s"$wh/default/r17orph"
    val live = Paths.get(Snapshots.resolve(root).get.files.head)
    val stray = live.getParent.resolve("part-99999-task-retry.parquet")
    Files.copy(live, stray)
    val crashed = Paths.get(root, "v00009999_dead_7")
    Files.createDirectories(crashed)
    val crashedFile = crashed.resolve("part-00000-crashed.parquet")
    Files.copy(live, crashedFile)
    val aged = FileTime.fromMillis(System.currentTimeMillis() - 80L * 3600 * 1000)
    val walk = Files.walk(Paths.get(root))
    try walk.iterator().asScala.foreach(p =>
      try Files.setLastModifiedTime(p, aged) catch { case _: Exception => () })
    finally walk.close()
    // a HOT staging dir (in-flight writer) must be skipped by the guard
    val hot = Paths.get(root, "v00009998_hot_1")
    Files.createDirectories(hot)
    val hotFile = hot.resolve("part-00000-inflight.parquet")
    Files.copy(live, hotFile)
    val rep = sqlDf("CALL snap.system.remove_orphan_files('default.r17orph', 72)")
      .collect().head
    assert(rep.getLong(0) == 2L, s"exactly the two planted orphans: $rep")
    assert(!Files.exists(stray) && !Files.exists(crashedFile), "orphans must be gone")
    assert(Files.exists(hotFile), "an in-flight (hot) staging dir must be skipped")
    assert(sqlDf("SELECT count(*) FROM snap.default.r17orph").as[Long].head() == 240L,
      "head read must be unchanged by the sweep")
    assert(sqlDf("SELECT count(*) FROM snap.default.r17orph VERSION AS OF 1")
      .as[Long].head() == 300L,
      "v1 files are head-unreferenced but retained: time travel must survive")
    // idempotent, and still respectful of the hot dir on a second pass
    val rep2 = sqlDf("CALL snap.system.remove_orphan_files('default.r17orph', 72)")
      .collect().head
    assert(rep2.getLong(0) == 0L, s"second sweep must find nothing: $rep2")
    assert(Files.exists(hotFile), "hot dir must survive repeated sweeps")
    // negative hours refuse loudly
    intercept[Exception](
      sqlDf("CALL snap.system.remove_orphan_files('default.r17orph', -1)").collect())
    // and so does anything under the one-day in-flight-commit floor
    intercept[Exception](
      sqlDf("CALL snap.system.remove_orphan_files('default.r17orph', 1)").collect())
  }

  private def isManifestServed(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
        if r.scan.isInstanceOf[org.apache.spark.sql.connector.read.LocalScan] => r
    }.isDefined

  test("aggregate pushdown serves count/min/max from the manifest (zero data I/O)") {
    sqlDf("DROP TABLE IF EXISTS snap.default.r17agg")
    sqlDf("""CREATE TABLE snap.default.r17agg AS
            |SELECT id AS k, CAST(id % 7 AS DOUBLE) AS v,
            |       IF(id % 10 = 0, CAST(NULL AS BIGINT), id) AS n
            |FROM range(0, 1000)""".stripMargin)
    sqlDf("INSERT INTO snap.default.r17agg " +
      "SELECT id, CAST(id % 7 AS DOUBLE), id FROM range(1000, 1500)")
    val df = sqlDf("SELECT count(*) AS c, count(n) AS cn, min(k) AS mn, " +
      "max(k) AS mx, max(v) AS mv FROM snap.default.r17agg")
    assert(isManifestServed(df), "expected a manifest-served LocalScan:\n" +
      df.queryExecution.optimizedPlan)
    assert(df.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      "physical plan must be a LocalTableScan, no file scan")
    val r = df.collect().head
    assert(r.getLong(0) == 1500L && r.getLong(1) == 1400L &&
      r.getLong(2) == 0L && r.getLong(3) == 1499L && r.getDouble(4) == 6.0, r)
    // string bounds must NOT be served (parquet may truncate binary
    // stats) — the query still answers through the ordinary scan
    sqlDf("DROP TABLE IF EXISTS snap.default.r17aggs")
    sqlDf("CREATE TABLE snap.default.r17aggs AS " +
      "SELECT concat('v', id) AS s FROM range(0, 100)")
    val sdf = sqlDf("SELECT max(s) AS mx FROM snap.default.r17aggs")
    assert(!isManifestServed(sdf), "string max must not be manifest-served")
    assert(sdf.collect().head.getString(0) == "v99")
    // kill-switch
    spark.conf.set(graft.catalog.SnapAggPush.ConfKey, "false")
    try assert(!isManifestServed(
      sqlDf("SELECT count(*) AS c FROM snap.default.r17agg")))
    finally spark.conf.unset(graft.catalog.SnapAggPush.ConfKey)
  }

  test("GROUP BY partition columns serves per-partition aggregates from the manifest") {
    sqlDf("DROP TABLE IF EXISTS snap.default.r17aggg")
    sqlDf("""CREATE TABLE snap.default.r17aggg (k BIGINT, w DOUBLE, p STRING)
            |PARTITIONED BY (p)""".stripMargin)
    sqlDf("INSERT INTO snap.default.r17aggg " +
      "SELECT id, CAST(id AS DOUBLE), IF(id % 3 = 0, 'a', IF(id % 3 = 1, 'b', 'c')) " +
      "FROM range(0, 300)")
    sqlDf("INSERT INTO snap.default.r17aggg " +
      "SELECT id, CAST(id AS DOUBLE), 'a' FROM range(300, 350)")
    val df = sqlDf("""SELECT p, count(*) AS n, min(k) AS mn, max(k) AS mx,
                     |max(p) AS mp
                     |FROM snap.default.r17aggg GROUP BY p ORDER BY p""".stripMargin)
    assert(isManifestServed(df), "per-partition aggregates must serve from " +
      "the manifest:\n" + df.queryExecution.optimizedPlan)
    val rows = df.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
    assert(rows.toSeq == Seq(
      ("a", 150L, 0L, 349L, "a"),
      ("b", 100L, 1L, 298L, "b"),
      ("c", 100L, 2L, 299L, "c")), rows.toSeq)
    // min/max over the PARTITION column itself serves from path values
    // even globally (strings are exact there, unlike footer stats)
    val g = sqlDf("SELECT min(p) AS mn, max(p) AS mx, count(p) AS c " +
      "FROM snap.default.r17aggg")
    assert(isManifestServed(g), "partition-column bounds must serve")
    val gr = g.collect().head
    assert(gr.getString(0) == "a" && gr.getString(1) == "c" &&
      gr.getLong(2) == 350L, gr)
    // grouping on a NON-partition column must decline (rows needed)
    assert(!isManifestServed(sqlDf(
      "SELECT k, count(*) AS n FROM snap.default.r17aggg GROUP BY k")))
  }

  test("aggregate pushdown serves partition filters, declines data filters/deletes — and stays correct") {
    // a PARTITION predicate is a whole-file keep/drop on path values —
    // the manifest count serves it, with the filter APPLIED
    sqlDf("DROP TABLE IF EXISTS snap.default.r17aggp")
    sqlDf("""CREATE TABLE snap.default.r17aggp (k BIGINT, p STRING)
            |PARTITIONED BY (p)""".stripMargin)
    sqlDf("INSERT INTO snap.default.r17aggp " +
      "SELECT id, IF(id % 2 = 0, 'a', 'b') FROM range(0, 100)")
    val filtered = sqlDf(
      "SELECT count(*) AS c FROM snap.default.r17aggp WHERE p = 'a'")
    assert(isManifestServed(filtered),
      "a partition-only WHERE must serve from the manifest")
    assert(filtered.collect().head.getLong(0) == 50L,
      "…and the served count must RESPECT the filter")
    // filter + GROUP BY compose; min/max fold over only matching files
    val fg = sqlDf("""SELECT p, count(*) AS n, min(k) AS mn
                     |FROM snap.default.r17aggp WHERE p IN ('a')
                     |GROUP BY p ORDER BY p""".stripMargin)
    assert(isManifestServed(fg))
    val fgr = fg.collect()
    assert(fgr.length == 1 && fgr(0).getString(0) == "a" &&
      fgr(0).getLong(1) == 50L && fgr(0).getLong(2) == 0L, fgr.toSeq)
    // a DATA-column predicate leaves a post-scan filter, so Spark never
    // asks — and the query stays exact through the ordinary scan
    val dataFiltered = sqlDf(
      "SELECT count(*) AS c FROM snap.default.r17aggp WHERE k < 10")
    assert(!isManifestServed(dataFiltered), "data filters must hit the scan")
    assert(dataFiltered.collect().head.getLong(0) == 10L)
    // group-by over the partition column SERVES (sibling test pins the
    // values); over anything else it declines
    assert(isManifestServed(sqlDf(
      "SELECT p, count(*) AS c FROM snap.default.r17aggp GROUP BY p")))
    assert(!isManifestServed(sqlDf(
      "SELECT k % 2 AS g, count(*) AS c FROM snap.default.r17aggp GROUP BY k % 2")))
    // pending MOR deletes hide rows: the manifest count would be wrong
    sqlDf("DROP TABLE IF EXISTS snap.default.r17aggm")
    sqlDf("""CREATE TABLE snap.default.r17aggm
            |TBLPROPERTIES ('graft.mor.key'='k') AS
            |SELECT id AS k FROM range(0, 100)""".stripMargin)
    sqlDf("DELETE FROM snap.default.r17aggm WHERE k < 10")
    val morCount = sqlDf("SELECT count(*) AS c FROM snap.default.r17aggm")
    assert(!isManifestServed(morCount), "pending deletes must decline pushdown")
    assert(morCount.collect().head.getLong(0) == 90L)
    // ... and once a COW rewrite absorbs the deletes, serving resumes
    sqlDf("ALTER TABLE snap.default.r17aggm UNSET TBLPROPERTIES ('graft.mor.key')")
    sqlDf("DELETE FROM snap.default.r17aggm WHERE k >= 90") // COW: absorbs pending
    val after = sqlDf("SELECT count(*) AS c FROM snap.default.r17aggm")
    assert(isManifestServed(after), "post-rewrite head must serve again")
    assert(after.collect().head.getLong(0) == 80L)
  }

  test("aggregate pushdown serves pinned time-travel reads and bucket tables") {
    // VERSION AS OF: the pushed aggregate folds the PINNED version's
    // own stats lines — the historical answer, not the head's
    sqlDf("DROP TABLE IF EXISTS snap.default.r17aggt")
    sqlDf("CREATE TABLE snap.default.r17aggt AS SELECT id AS k FROM range(0, 100)")
    sqlDf("INSERT INTO snap.default.r17aggt SELECT id FROM range(100, 250)")
    val pinned = sqlDf("SELECT count(*) AS c, max(k) AS mx " +
      "FROM snap.default.r17aggt VERSION AS OF 1")
    assert(isManifestServed(pinned), "a pinned read must serve from its " +
      "own version's manifest:\n" + pinned.queryExecution.optimizedPlan)
    val pr = pinned.collect().head
    assert(pr.getLong(0) == 100L && pr.getLong(1) == 99L, pr)
    val head = sqlDf("SELECT count(*) AS c FROM snap.default.r17aggt")
    assert(isManifestServed(head) && head.collect().head.getLong(0) == 250L)
    // bucket layouts: the synthetic segment is no bar to GLOBAL serving
    // (stats fold ignores the layout; grouping by it is unreferencable)
    sqlDf("DROP TABLE IF EXISTS snap.default.r17aggb")
    sqlDf("""CREATE TABLE snap.default.r17aggb PARTITIONED BY (bucket(4, k))
            |AS SELECT id AS k FROM range(0, 120)""".stripMargin)
    val b = sqlDf("SELECT count(*) AS c, min(k) AS mn, max(k) AS mx " +
      "FROM snap.default.r17aggb")
    assert(isManifestServed(b), "bucket tables must serve global aggregates")
    val br = b.collect().head
    assert(br.getLong(0) == 120L && br.getLong(1) == 0L && br.getLong(2) == 119L, br)
  }

  test("aggregate pushdown resolves bounds across a rename era") {
    sqlDf("DROP TABLE IF EXISTS snap.default.r17aggr")
    sqlDf("CREATE TABLE snap.default.r17aggr AS SELECT id AS a FROM range(0, 50)")
    sqlDf("ALTER TABLE snap.default.r17aggr RENAME COLUMN a TO b")
    sqlDf("INSERT INTO snap.default.r17aggr SELECT id FROM range(50, 80)")
    // era 1 files record stats under 'a', era 2 under 'b' — the priors
    // ledger must bridge them or min would silently ignore era 1
    val df = sqlDf("SELECT min(b) AS mn, max(b) AS mx, count(b) AS c " +
      "FROM snap.default.r17aggr")
    assert(isManifestServed(df), "rename-era bounds must still serve:\n" +
      df.queryExecution.optimizedPlan)
    val r = df.collect().head
    assert(r.getLong(0) == 0L && r.getLong(1) == 79L && r.getLong(2) == 80L, r)
  }

  test("bucket-transform tables: layout roundtrip, derived segment never a column") {
    import java.nio.file.{Files, Paths}
    sqlDf("DROP TABLE IF EXISTS snap.default.r17bkt")
    sqlDf("CREATE TABLE snap.default.r17bkt (k BIGINT, v STRING) " +
      "PARTITIONED BY (bucket(8, k))")
    sqlDf("INSERT INTO snap.default.r17bkt " +
      "SELECT id, concat('v', id) FROM range(0, 500)")
    // NULL keys hash like hash(NULL) — to the seed's bucket, not a
    // __HIVE_DEFAULT_PARTITION__ dir
    sqlDf("INSERT INTO snap.default.r17bkt VALUES (CAST(NULL AS BIGINT), 'nullrow')")
    val df = sqlDf("SELECT k, v FROM snap.default.r17bkt")
    assert(df.columns.toSeq == Seq("k", "v"), "the synthetic segment must not surface")
    assert(df.count() == 501L)
    val root = s"$wh/default/r17bkt"
    val snap = Snapshots.resolve(root).get
    // every committed file sits under a _gbucket=<id> segment, and the
    // rows INSIDE each file hash to exactly that id (the write-path
    // function and the path segment agree)
    assert(snap.files.forall(_.contains("/_gbucket=")), snap.files.take(3))
    val perFile = snap.files.map { f =>
      val id = f.split("/_gbucket=")(1).split("/")(0).toInt
      val bad = spark.read.parquet(f)
        .selectExpr(s"count(CASE WHEN pmod(hash(k), 8) <> $id THEN 1 END)")
        .head().getLong(0)
      (id, bad)
    }
    assert(perFile.forall(_._2 == 0L), s"rows landed in a foreign bucket: $perFile")
    // direct (non-catalog) reads drop the synthetic segment too — the
    // change feed and maintenance reads must never leak it
    assert(!Snapshots.read(spark, root).columns.contains("_gbucket"))
    // metadata guards: the layout column cannot be dropped or
    // re-typed (the hash of an int and a long differ); the name is
    // reserved. RENAME is ALLOWED since r18 — the layout is keyed by
    // the column's VALUES, which a rename never touches (asserted
    // below after the other guards).
    intercept[Exception](sqlDf(
      "ALTER TABLE snap.default.r17bkt DROP COLUMN k"))
    intercept[Exception](sqlDf(
      "ALTER TABLE snap.default.r17bkt ALTER COLUMN k TYPE DOUBLE"))
    intercept[Exception](sqlDf(
      "ALTER TABLE snap.default.r17bkt ADD COLUMN _gbucket INT"))
    // keyed MOR COMPOSES with bucket layouts since r20 (pinned in
    // Round20OpsSpec); positional MOR stays layout-exclusive
    intercept[Exception](sqlDf(
      "ALTER TABLE snap.default.r17bkt SET TBLPROPERTIES ('graft.mor.positional'='true')"))
    // UNSET of the layout property is no longer refused — it RETIRES
    // the layout (r19, the DROP PARTITION FIELD shape; pinned in
    // Round19OpsSpec). This test keeps the layout ACTIVE throughout.
    // ... while OTHER columns still evolve freely on a bucket table
    sqlDf("ALTER TABLE snap.default.r17bkt RENAME COLUMN v TO val")
    assert(sqlDf("SELECT count(val) FROM snap.default.r17bkt")
      .as[Long].head() == 501L)
    // r18: the BUCKET COLUMN ITSELF renames — the spec property
    // follows, new writes derive the identical segment from the new
    // name, old files' bytes coalesce through the rename ledger, and
    // point lookups still answer exactly
    sqlDf("ALTER TABLE snap.default.r17bkt RENAME COLUMN k TO kk")
    sqlDf("INSERT INTO snap.default.r17bkt VALUES (99999, 1.0)")
    assert(sqlDf("SELECT count(*) FROM snap.default.r17bkt WHERE kk = 99999")
      .as[Long].head() == 1L)
    assert(sqlDf("SELECT count(*) FROM snap.default.r17bkt WHERE kk = 42")
      .as[Long].head() == 1L, "pre-rename rows answer under the new name")
    assert(sqlDf("SELECT count(*) FROM snap.default.r17bkt").as[Long].head() == 502L)
    // the renamed spec still refuses re-typing
    intercept[Exception](sqlDf(
      "ALTER TABLE snap.default.r17bkt ALTER COLUMN kk TYPE DOUBLE"))
  }

  test("storage-partitioned join on bucket(n, k): zero exchange, exact result") {
    sqlDf("DROP TABLE IF EXISTS snap.default.r17bja")
    sqlDf("DROP TABLE IF EXISTS snap.default.r17bjb")
    sqlDf("""CREATE TABLE snap.default.r17bja PARTITIONED BY (bucket(8, k))
            |AS SELECT id AS k, CAST(id % 100 AS DOUBLE) AS price
            |FROM range(0, 2000)""".stripMargin)
    sqlDf("""CREATE TABLE snap.default.r17bjb PARTITIONED BY (bucket(8, k))
            |AS SELECT id AS k, id % 7 AS w FROM range(0, 2000)""".stripMargin)
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
                      |FROM snap.default.r17bja a
                      |JOIN snap.default.r17bjb b ON a.k = b.k""".stripMargin)
      val plan = j.queryExecution.executedPlan
      val exchanges = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.isEmpty,
        s"co-bucketed snap tables must join with ZERO exchange:\n$plan")
      assert(j.count() == 2000L)
      val r = j.where($"k" === 1234L).head()
      assert(r.getDouble(1) == 34.0 && r.getLong(2) == 1234L % 7, r)
      // a misaligned pairing would break the sum; pin an aggregate too
      val wsum = j.selectExpr("sum(k * w)").head().getLong(0)
      val expect = (0L until 2000L).map(k => k * (k % 7)).sum
      assert(wsum == expect, s"$wsum != $expect")
      // bucket(n, k) clusters by k, so GROUP BY k needs no exchange
      // either — the same layout serves aggregation for free
      val ag = sqlDf("""SELECT k, count(*) AS n FROM snap.default.r17bja
                       |GROUP BY k""".stripMargin)
      val agEx = ag.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(agEx.isEmpty,
        s"GROUP BY the bucket key must plan with zero exchange:\n" +
          ag.queryExecution.executedPlan)
      assert(ag.count() == 2000L)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("point predicates prune to the key's bucket directory (metadata-only)") {
    sqlDf("DROP TABLE IF EXISTS snap.default.r17bkp")
    sqlDf("""CREATE TABLE snap.default.r17bkp PARTITIONED BY (bucket(8, k))
            |AS SELECT id AS k, concat('v', id) AS v FROM range(0, 800)""".stripMargin)
    val all = Snapshots.resolve(s"$wh/default/r17bkp").get.files
    val dirs = all.map(_.split("/_gbucket=")(1).split("/")(0).toInt).toSet
    assert(dirs.size == 8, s"fixture should fill all 8 buckets: $dirs")
    // the planned file list IS the pruning evidence
    def plannedDirs(df: org.apache.spark.sql.DataFrame): Set[Int] = {
      import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
      import org.apache.spark.sql.execution.datasources.FilePartition
      def unwrap(p: Any): Seq[String] = p match {
        case fp: FilePartition => fp.files.map(_.filePath.toString).toSeq
        case prod: Product => prod.productIterator.flatMap(unwrap).toSeq
        case _ => Nil
      }
      df.queryExecution.executedPlan.collect { case b: BatchScanExec => b }
        .flatMap(_.inputPartitions).flatMap(unwrap)
        .map(_.split("/_gbucket=")(1).split("/")(0).toInt).toSet
    }
    val hit = sqlDf("SELECT v FROM snap.default.r17bkp WHERE k = 123")
    val expectBucket = graft.catalog.SnapBucket.bucketIdOf(123L,
      org.apache.spark.sql.types.LongType, 8)
    val hitDirs = plannedDirs(hit)
    assert(hitDirs == Set(expectBucket),
      s"k = 123 must open ONLY bucket $expectBucket, opened $hitDirs")
    assert(hit.collect().map(_.getString(0)).toSeq == Seq("v123"))
    // IN lists intersect across conjuncts; other predicate shapes keep
    // every bucket (range scan below must read all dirs and stay exact)
    val in = sqlDf("SELECT count(*) FROM snap.default.r17bkp WHERE k IN (1, 2, 3)")
    assert(in.as[Long].head() == 3L)
    val inDirs = plannedDirs(
      sqlDf("SELECT v FROM snap.default.r17bkp WHERE k IN (1, 2, 3)"))
    val expectIn = Set(1L, 2L, 3L).map(graft.catalog.SnapBucket.bucketIdOf(_,
      org.apache.spark.sql.types.LongType, 8))
    assert(inDirs == expectIn, s"$inDirs != $expectIn")
    assert(sqlDf("SELECT count(*) FROM snap.default.r17bkp WHERE k >= 400")
      .as[Long].head() == 400L, "range predicates must stay exact (no pruning)")
    // a rename of an UNRELATED column routes reads through the
    // rename-aware builder — bucket pruning must survive the detour
    sqlDf("ALTER TABLE snap.default.r17bkp RENAME COLUMN v TO val")
    val renamed = sqlDf("SELECT val FROM snap.default.r17bkp WHERE k = 123")
    assert(plannedDirs(renamed) == Set(expectBucket),
      "bucket pruning must survive a rename of another column")
    assert(renamed.collect().map(_.getString(0)).toSeq == Seq("v123"))
  }

  test("bucket layout survives COW DELETE and compaction") {
    import java.nio.file.{Files, Paths}
    sqlDf("DROP TABLE IF EXISTS snap.default.r17bkm")
    sqlDf("""CREATE TABLE snap.default.r17bkm PARTITIONED BY (bucket(4, k))
            |AS SELECT id AS k, id % 10 AS g FROM range(0, 400)""".stripMargin)
    sqlDf("DELETE FROM snap.default.r17bkm WHERE k % 5 = 0")
    val root = s"$wh/default/r17bkm"
    def allBucketed(): Boolean =
      Snapshots.resolve(root).get.files.forall(_.contains("/_gbucket="))
    assert(allBucketed(), "the COW rewrite must re-derive the bucket layout")
    assert(sqlDf("SELECT count(*) FROM snap.default.r17bkm").as[Long].head() == 320L)
    sqlDf("CALL snap.system.compact('default.r17bkm')")
    assert(allBucketed(), "compaction must not flatten the bucket layout")
    assert(sqlDf("SELECT count(*) FROM snap.default.r17bkm").as[Long].head() == 320L)
    // and the post-maintenance table still storage-partition-joins
    val prev = spark.conf.getOption("spark.sql.sources.v2.bucketing.enabled")
    try {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      val self = sqlDf("""SELECT /*+ MERGE(a) */ count(*)
                        |FROM snap.default.r17bkm a
                        |JOIN snap.default.r17bkm b ON a.k = b.k""".stripMargin)
      assert(self.as[Long].head() == 320L)
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.v2.bucketing.enabled", v)
      case None => spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
    }
  }

  test("stale NDVs extrapolate with table growth (graft.stats.rows is consumed)") {
    sqlDf("DROP TABLE IF EXISTS snap.default.r17grow")
    sqlDf("""CREATE TABLE snap.default.r17grow AS
            |SELECT id AS k, id % 7 AS v FROM range(0, 100)""".stripMargin)
    sqlDf("CALL snap.system.analyze('default.r17grow')") // ndv(k)=100 @ 100 rows
    // the table doubles AFTER the ANALYZE: an un-scaled stale NDV would
    // tell the planner k has 100 distincts in 200 rows
    sqlDf("INSERT INTO snap.default.r17grow SELECT id, id % 7 FROM range(100, 200)")
    val prevCbo = spark.conf.getOption("spark.sql.cbo.enabled")
    try {
      spark.conf.set("spark.sql.cbo.enabled", "true")
      val df = sqlDf("SELECT k, v FROM snap.default.r17grow WHERE k IS NOT NULL")
      val rel = df.queryExecution.optimizedPlan.collectFirst {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r
      }.getOrElse(fail("expected a DSv2 scan relation"))
      val kNdv = rel.stats.attributeStats.toSeq
        .collectFirst { case (a, s) if a.name == "k" => s.distinctCount }
        .flatten.getOrElse(fail("expected a distinctCount stat for k"))
      assert(kNdv.toLong >= 150 && kNdv.toLong <= 200,
        s"NDV must extrapolate ~2x with the doubled row count, got $kNdv")
    } finally prevCbo match {
      case Some(v) => spark.conf.set("spark.sql.cbo.enabled", v)
      case None => spark.conf.unset("spark.sql.cbo.enabled")
    }
  }
}
