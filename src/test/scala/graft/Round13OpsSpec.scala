package graft

import graft.sources.Snapshots
import org.apache.spark.sql.functions._

/** Round-13 store hardening: the MOR delete-key inline gate, the
  * cross-root `#seq:` pinning (positive cases live in Round12OpsSpec's
  * WAP test), digit-only tag rejection, and the legacy-manifest
  * timestamp fallback. */
class Round13OpsSpec extends SparkSpec {
  import spark.implicits._

  test("MOR delete keys read identical rows on both sides of the inline gate") {
    val root = s"${Qx.tmpOut("morgate", sf())}/store"
    Snapshots.commit(root)(out =>
      spark.range(200).select($"id", ($"id" % 7).as("v"))
        .write.mode("append").parquet(out))
    Snapshots.commitDelete(root, "id")(out =>
      spark.range(150, 180).select($"id").write.mode("append").parquet(out))
    val expected = ((0L until 150L) ++ (180L until 200L)).toSet
    def morScan(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
          if b.scan.description().contains("MOR scan") => b.scan.description()
      }.mkString

    // default gate: the delete keys are tiny → the set ships inline
    // with the plan
    val inline = Snapshots.read(spark, root)
    assert(inline.select($"id").as[Long].collect().toSet == expected)
    assert(morScan(inline).contains("inline keys"),
      "small delete sets must ship inline:\n" + inline.queryExecution.executedPlan)

    // a 0-byte gate: every delete file is over it → executors load the
    // set lazily; results identical
    val key = "spark.graft.mor.inlineDeleteBytes"
    val saved = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "0")
      val lazyRead = Snapshots.read(spark, root)
      assert(lazyRead.select($"id").as[Long].collect().toSet == expected,
        "the lazy read returns identical rows")
      assert(morScan(lazyRead).contains("lazy keys"),
        "an over-gate delete set must load lazily:\n" +
          lazyRead.queryExecution.executedPlan)
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("all-digit tag names are rejected at creation (unreachable via VERSION AS OF)") {
    val root = s"${Qx.tmpOut("tagdigit", sf())}/store"
    Snapshots.commit(root)(out =>
      spark.range(3).select($"id").write.mode("append").parquet(out))
    val ex = intercept[IllegalArgumentException](
      Snapshots.tag(root, "2024", 1L))
    assert(ex.getMessage.contains("non-digit"))
    Snapshots.tag(root, "v2024", 1L) // a non-digit makes it addressable
    assert(Snapshots.tagVersion(root, "v2024").contains(1L))
  }

  test("TIMESTAMP AS OF falls back to manifest mtime for pre-#ts legacy commits") {
    import java.nio.charset.StandardCharsets.UTF_8
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val root = s"${Qx.tmpOut("tslegacy", sf())}/store"
    Snapshots.commit(root)(out =>
      spark.range(3).select($"id").write.mode("append").parquet(out))
    Thread.sleep(60) // keep v1's mtime clearly below v2's commit stamp
    Snapshots.commitAppend(root)(out =>
      spark.range(10, 12).select($"id").write.mode("append").parquet(out))
    // simulate a store whose v1 predates the #ts header (restoring the
    // manifest's original mtime — rewriting it would bump mtime to now)
    val m1 = Paths.get(root, "_commits", "00000001.manifest")
    val origMtime = Files.getLastModifiedTime(m1)
    val kept = Files.readAllLines(m1, UTF_8).asScala
      .filterNot(_.startsWith("#ts:"))
    Files.write(m1, kept.mkString("\n").getBytes(UTF_8))
    Files.setLastModifiedTime(m1, origMtime)
    val ts2 = Snapshots.commitTimestamp(root, 2L).get
    // a literal just before v2's stamp used to throw "predates retained
    // history" even though v1 was committed and readable; the mtime
    // fallback resolves it to v1 (Delta's header-less rule)
    assert(Snapshots.versionAtTimestamp(root, ts2 - 1L) == 1L)
    assert(Snapshots.versionAtTimestamp(root, ts2 + 1L) == 2L)
  }
}
