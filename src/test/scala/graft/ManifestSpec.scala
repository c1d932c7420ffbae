package graft

import graft.sources.{Manifest, Snapshots}
import graft.sources.Snapshots.{DeleteFile, Snapshot}
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

/** The manifest codec on its own — no Spark session: the round-trip
  * law over generated snapshots, a golden parent-format manifest
  * (legacy forms included), the line-order rules the header reads
  * depend on, and the render-side refusals. */
class ManifestSpec extends AnyFunSuite {

  private val dataFile: Gen[String] = for {
    v <- Gen.choose(0L, 99L)
    w <- Gen.choose(1, 9)
    part <- Gen.oneOf("", "k=1/", "d=2024-01-31/")
    n <- Gen.choose(0, 999)
  } yield f"/t/v$v%08d_$w/${part}part-$n%05d.parquet"

  private val sidecar: Gen[String] =
    Gen.choose(0, 999).map(n => s"/t/v00000000_dsv2_1/dv-$n.dv")

  private def sortedSubset(xs: Seq[String]): Gen[Seq[String]] =
    Gen.atLeastOne(xs).map(_.toSeq.distinct.sorted)

  private val snapshot: Gen[Snapshot] = for {
    version <- Gen.choose(1L, 1000L)
    files <- Gen.choose(0, 6).flatMap(Gen.listOfN(_, dataFile)).map(_.distinct)
    deletes <- Gen.choose(0, 3).flatMap(Gen.listOfN(_, for {
      key <- Gen.oneOf("k", "id", "l_orderkey,l_linenumber")
      // the path is the line's last slot, so it may hold ':'
      path <- Gen.oneOf(dataFile, dataFile.map("s3a://bucket" + _))
      cb <- Gen.oneOf(Gen.choose(1L, 1000L), Gen.const(Long.MaxValue))
    } yield DeleteFile(key, path, cb)))
    seqFiles <- Gen.someOf(files)
    seqs <- Gen.listOfN(seqFiles.size, Gen.choose(0L, 1000L))
    statFiles <- Gen.someOf(files)
    bloomFiles <- Gen.someOf(files)
    bloomCols <- Gen.listOfN(bloomFiles.size, sortedSubset(Seq("k", "name", "v")))
    posFiles <- Gen.someOf(files)
    posLists <- Gen.listOfN(posFiles.size,
      Gen.choose(1, 3).flatMap(Gen.listOfN(_, sidecar)).map(_.distinct.sorted))
    changes <- Gen.choose(0, 2).flatMap(Gen.listOfN(_, sidecar))
    ts <- Gen.option(Gen.choose(0L, Long.MaxValue))
    txn <- Gen.option(for {
      app <- Gen.oneOf("app", "dsv2-query:7", "")
      epoch <- Gen.choose(0L, 1000000L)
    } yield (app, epoch))
    rowsUnchanged <- Gen.oneOf(false, true)
  } yield Snapshot(version, files, deletes,
    seqFiles.toSeq.zip(seqs).toMap,
    statFiles.map(f => f -> s"""{"p":"$f","rows":${f.length},"cols":{"k":{"min":0,"max":9,"nc":0}}}""").toMap,
    bloomFiles.toSeq.zip(bloomCols).toMap,
    posFiles.toSeq.zip(posLists).toMap,
    changes, ts, txn, rowsUnchanged)

  private def linesOf(text: String): Seq[String] = text.split('\n').toSeq.filter(_.nonEmpty)

  /** `#txn` first, `#ts:` ahead of every file line — the layout the
    * prefix-only header reads rely on. */
  private def headerLayoutHolds(s: Snapshot, text: String): Boolean = {
    val lines = linesOf(text)
    val firstFile = lines.indexWhere(!_.startsWith("#")) match {
      case -1 => lines.size
      case i => i
    }
    s.txn.forall(_ => lines.head.startsWith("#txn:")) &&
      lines.zipWithIndex.forall { case (l, i) => !l.startsWith("#ts:") || i < firstFile }
  }

  test("property: parse(render(s)) == s, #txn first, #ts: before every file line") {
    val prop = Prop.forAll(snapshot) { s =>
      val text = Manifest.render(s)
      Manifest.parse(linesOf(text), s.version) == s && headerLayoutHolds(s, text)
    }
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(300).withInitialSeed(Seed(20261017L)), prop)
    assert(res.passed, s"property falsified: $res")
  }

  // a manifest in the format the previous line-splicing publishers
  // wrote, with every line kind plus the legacy forms: a version-less
  // `#del:` line and a superseded `#bloom:v1:` sketch
  private val f1 = "/t/v00000001_11_1/part-00000.parquet"
  private val f2 = "/s/v00000001_22_2/part-00000.parquet"
  private val stats1 = s"""{"p":"$f1","rows":10,"cols":{"k":{"min":0,"max":9,"nc":0}}}"""
  private val golden = Seq(
    "#txn:app-1:7",
    "#ts:1760000000000000",
    "#rowsunchanged:1",
    "#changes:/t/v00000000_dsv2_9/changes-0.parquet",
    "#del:@3:k:/t/v00000003_11_3/part-00000.parquet",
    "#del:l_orderkey,l_linenumber:/t/v00000002_11_2/part-00000.parquet",
    s"#seq:4:$f2",
    s"#stats:$stats1",
    s"#bloom:v1:k:$f1",
    s"#bloom:v2:name:$f1",
    s"#bloom:v2:k:$f1",
    s"#posdel:$f1:/t/v00000000_dsv2_3/dv-0.dv",
    f1,
    f2)

  test("golden: a parent-format manifest parses to the expected value, legacy forms included") {
    val expected = Snapshot(5, Seq(f1, f2),
      Seq(DeleteFile("k", "/t/v00000003_11_3/part-00000.parquet", 3),
        DeleteFile("l_orderkey,l_linenumber",
          "/t/v00000002_11_2/part-00000.parquet", Long.MaxValue)),
      fileSeq = Map(f2 -> 4L),
      statsRaw = Map(f1 -> stats1),
      blooms = Map(f1 -> Seq("k", "name")), // v1 sketch ignored
      posDeletes = Map(f1 -> Seq("/t/v00000000_dsv2_3/dv-0.dv")),
      changeFiles = Seq("/t/v00000000_dsv2_9/changes-0.parquet"),
      ts = Some(1760000000000000L), txn = Some(("app-1", 7L)),
      rowsUnchanged = true)
    val parsed = Manifest.parse(golden, 5)
    assert(parsed == expected)
    // re-rendered, the SET of lines is the parent's except the two
    // legacy forms: the v1 sketch is gone, the legacy delete is
    // written in its scoped form with the same cover-everything value
    val rendered = linesOf(Manifest.render(parsed)).toSet
    assert(rendered == golden.toSet - s"#bloom:v1:k:$f1" -
      "#del:l_orderkey,l_linenumber:/t/v00000002_11_2/part-00000.parquet" +
      s"#del:@${Long.MaxValue}:l_orderkey,l_linenumber:/t/v00000002_11_2/part-00000.parquet")
    // a carry drops the v1 sketch for good and keeps the legacy delete's scope
    val carried = Manifest.render(Manifest.retain(parsed, parsed.files))
    assert(!carried.contains("#bloom:v1"))
    assert(Manifest.parse(linesOf(carried), 6).deletes.map(_.coversBelow) ==
      Seq(3L, Long.MaxValue))
    // the prefix-only header reads agree with the full parse
    val m = Files.createTempFile("golden", ".manifest")
    try {
      Files.write(m, golden.mkString("\n").getBytes(UTF_8))
      assert(Manifest.readTxn(m).contains(("app-1", 7L)))
      assert(Manifest.readTs(m).contains(1760000000000000L))
      assert(Manifest.read(m, 5) == expected)
    } finally Files.deleteIfExists(m)
  }

  test("golden: a pre-header manifest reads with ts = None and no txn") {
    val legacy = Seq(s"#del:k:$f2", f1, f2)
    val parsed = Manifest.parse(legacy, 2)
    assert(parsed == Snapshot(2, Seq(f1, f2),
      Seq(DeleteFile("k", f2, Long.MaxValue))))
    assert(parsed.ts.isEmpty && parsed.txn.isEmpty && !parsed.rowsUnchanged)
    val m = Files.createTempFile("legacy", ".manifest")
    try {
      Files.write(m, legacy.mkString("\n").getBytes(UTF_8))
      assert(Manifest.readTs(m).isEmpty && Manifest.readTxn(m).isEmpty)
    } finally Files.deleteIfExists(m)
  }

  test("retain restricts per-file entries to the kept files and drops per-commit fields") {
    val parent = Manifest.parse(golden, 5)
    val kept = Manifest.retain(parent, Seq(f2))
    assert(kept == Snapshot(5, Seq(f2), parent.deletes, fileSeq = Map(f2 -> 4L)))
  }

  test("render refuses ':' in posdel paths and ':' or ',' in delete-key names") {
    val dv = "/t/v00000000_dsv2_1/dv-0.dv"
    intercept[IllegalArgumentException](Manifest.render(
      Snapshot(1, Seq(f1), posDeletes = Map(f1 -> Seq("/t/x:y.dv")))))
    intercept[IllegalArgumentException](Manifest.render(
      Snapshot(1, Seq("/t/a:b.parquet"), posDeletes = Map("/t/a:b.parquet" -> Seq(dv)))))
    intercept[IllegalArgumentException](Manifest.render(
      Snapshot(1, Seq(f1), deletes = Seq(DeleteFile("a:b", f2, 2)))))
    // a composite key is comma-JOINED, so a name holding ',' shows up
    // as an empty component — refused, as is the name itself up front
    intercept[IllegalArgumentException](Manifest.render(
      Snapshot(1, Seq(f1), deletes = Seq(DeleteFile("a,,b", f2, 2)))))
    intercept[IllegalArgumentException](Manifest.requireKeyName("a,b"))
    intercept[IllegalArgumentException](
      Snapshots.commitDelete("/nonexistent-root", Seq("a,b"))(_ => fail("staged")))
    intercept[IllegalArgumentException](Manifest.render(
      Snapshot(1, Seq(f1), blooms = Map(f1 -> Seq("a:b")))))
  }
}
