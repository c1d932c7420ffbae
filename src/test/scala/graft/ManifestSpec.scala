package graft

import graft.sources.{Manifest, Snapshots}
import graft.sources.Snapshots.{DeleteFile, Snapshot}
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

/** The manifest codec on its own — no Spark session: the round-trip
  * law over generated snapshots, a golden parent-format manifest, the
  * line-order rules the header reads depend on, the refusals of the
  * retired forms and of malformed lines, and the render-side refusals. */
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
    ts <- Gen.choose(0L, Long.MaxValue)
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
  // wrote, with every line kind plus a superseded `#bloom:v1:` sketch
  // (the forward-compatibility case: other sketch versions are ignored)
  private val f1 = "/t/v00000001_11_1/part-00000.parquet"
  private val f2 = "/s/v00000001_22_2/part-00000.parquet"
  private val stats1 = s"""{"p":"$f1","rows":10,"cols":{"k":{"min":0,"max":9,"nc":0}}}"""
  private val golden = Seq(
    "#txn:app-1:7",
    "#ts:1760000000000000",
    "#rowsunchanged:1",
    "#changes:/t/v00000000_dsv2_9/changes-0.parquet",
    "#del:@3:k:/t/v00000003_11_3/part-00000.parquet",
    "#del:@2:l_orderkey,l_linenumber:/t/v00000002_11_2/part-00000.parquet",
    s"#seq:4:$f2",
    s"#stats:$stats1",
    s"#bloom:v1:k:$f1",
    s"#bloom:v2:name:$f1",
    s"#bloom:v2:k:$f1",
    s"#posdel:$f1:/t/v00000000_dsv2_3/dv-0.dv",
    f1,
    f2)

  test("golden: a parent-format manifest parses to the expected value") {
    val expected = Snapshot(5, Seq(f1, f2),
      Seq(DeleteFile("k", "/t/v00000003_11_3/part-00000.parquet", 3),
        DeleteFile("l_orderkey,l_linenumber",
          "/t/v00000002_11_2/part-00000.parquet", 2)),
      fileSeq = Map(f2 -> 4L),
      statsRaw = Map(f1 -> stats1),
      blooms = Map(f1 -> Seq("k", "name")), // v1 sketch ignored
      posDeletes = Map(f1 -> Seq("/t/v00000000_dsv2_3/dv-0.dv")),
      changeFiles = Seq("/t/v00000000_dsv2_9/changes-0.parquet"),
      ts = 1760000000000000L, txn = Some(("app-1", 7L)),
      rowsUnchanged = true)
    val parsed = Manifest.parse(golden, 5)
    assert(parsed == expected)
    // re-rendered, the SET of lines is the parent's minus the v1 sketch
    val rendered = linesOf(Manifest.render(parsed)).toSet
    assert(rendered == golden.toSet - s"#bloom:v1:k:$f1")
    // a carry drops the v1 sketch for good
    val carried = Manifest.render(Manifest.retain(parsed, parsed.files))
    assert(!carried.contains("#bloom:v1"))
    // the prefix-only header reads agree with the full parse
    val m = Files.createTempFile("golden", ".manifest")
    try {
      Files.write(m, golden.mkString("\n").getBytes(UTF_8))
      assert(Manifest.readTxn(m).contains(("app-1", 7L)))
      assert(Manifest.readTs(m).contains(1760000000000000L))
      assert(Manifest.read(m, 5) == expected)
    } finally Files.deleteIfExists(m)
  }

  /** `lines` written to a temp manifest: the message `Manifest.read`
    * refuses it with (and, when `readTsToo`, `Manifest.readTs`'s). */
  private def refusals(lines: Seq[String], readTsToo: Boolean = false): (String, Seq[String]) = {
    val m = Files.createTempFile("refused", ".manifest")
    try {
      Files.write(m, lines.mkString("\n").getBytes(UTF_8))
      val msgs = intercept[IllegalStateException](Manifest.read(m, 2)).getMessage +:
        (if (readTsToo) Seq(intercept[IllegalStateException](Manifest.readTs(m)).getMessage)
         else Nil)
      (m.toString, msgs)
    } finally Files.deleteIfExists(m)
  }

  test("retired forms refuse by name: version-less #del, no #ts: header, pair posfile") {
    val ts = "#ts:1760000000000000"
    // a version-less delete line (once read as covering every version)
    val (m1, del) = refusals(Seq(ts, s"#del:k:$f2", f1, f2))
    assert(del.forall(e => e.contains(s"$m1 line 2") && e.contains("version-less delete")),
      del)
    // a manifest without the commit-timestamp header: both the full
    // parse and the header-only read refuse, so TIMESTAMP AS OF can
    // never pass over it
    val (m2, noTs) = refusals(Seq(s"#del:@2:k:$f2", f1, f2), readTsToo = true)
    assert(noTs.size == 2 && noTs.forall(e => e.contains(m2) && e.contains("no #ts:")), noTs)
    // a position delete naming a (file, pos) pair parquet
    val (m3, pair) = refusals(Seq(ts, s"#posdel:$f1:/t/v00000002_11_2/pos-0.parquet", f1))
    assert(pair.forall(e => e.contains(s"$m3 line 2") && e.contains("pair parquet")), pair)
    // a missing manifest is the only header read that answers None
    assert(Manifest.readTs(java.nio.file.Paths.get(m3)).isEmpty)
  }

  test("malformed manifest lines refuse with the manifest path and line number") {
    val ts = "#ts:1760000000000000"
    Seq(Seq(ts, f1, "#del:@3:k") -> 3, Seq(ts, s"#seq:four:$f1", f1) -> 2,
        Seq("#ts:soon", f1) -> 1, Seq(ts, "#txn:app", f1) -> 2,
        Seq(ts, s"#posdel:$f1") -> 2).foreach { case (lines, at) =>
      val (m, msgs) = refusals(lines)
      assert(msgs.forall(_.contains(s"$m line $at: ")), s"$lines: $msgs")
    }
    val (m, msgs) = refusals(Seq("#ts:soon", f1), readTsToo = true)
    assert(msgs.forall(_.contains(s"$m line 1: not a number")), msgs)
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
    // the writer side of the pair-parquet refusal: a posfile is a `.dv`
    intercept[IllegalArgumentException](Manifest.render(
      Snapshot(1, Seq(f1), posDeletes = Map(f1 -> Seq("/t/pos-0.parquet")))))
  }
}
