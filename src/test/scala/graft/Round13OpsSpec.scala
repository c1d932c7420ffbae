package graft

import graft.sources.Snapshots
import org.apache.spark.sql.functions._

/** Round-13 store hardening: the MOR delete-key inline gate, the
  * cross-root `#seq:` pinning (positive cases live in Round12OpsSpec's
  * WAP test), digit-only tag rejection, and the TIMESTAMP AS OF
  * refusal of a manifest without the `#ts:` header. */
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

  test("TIMESTAMP AS OF refuses a manifest without the #ts: header") {
    import java.nio.charset.StandardCharsets.UTF_8
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val root = s"${Qx.tmpOut("tsretired", sf())}/store"
    Snapshots.commit(root)(out =>
      spark.range(3).select($"id").write.mode("append").parquet(out))
    Snapshots.commitAppend(root)(out =>
      spark.range(10, 12).select($"id").write.mode("append").parquet(out))
    val ts2 = Snapshots.commitTimestamp(root, 2L).get
    // strip v1's header: no writer produces this form, so neither a
    // literal before v2 nor one after it may pass over v1 (a silent
    // skip would resolve to a wrong version or to "predates history")
    val m1 = Paths.get(root, "_commits", "00000001.manifest")
    Files.write(m1, Files.readAllLines(m1, UTF_8).asScala
      .filterNot(_.startsWith("#ts:")).mkString("\n").getBytes(UTF_8))
    Seq(ts2 - 1L, ts2 + 1L).foreach { lit =>
      val e = intercept[IllegalStateException](Snapshots.versionAtTimestamp(root, lit))
      assert(e.getMessage.contains(m1.toString) && e.getMessage.contains("no #ts:"),
        e.getMessage)
    }
    intercept[IllegalStateException](Snapshots.resolveAt(root, 1L))
  }
}
