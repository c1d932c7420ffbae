package graft

import org.apache.spark.sql.functions._

/** `cdc_merge_sql`: the CDC merge written as one `MERGE INTO` statement
  * against a `snap.` catalog table, checked against its DataFrame twin
  * and for commit atomicity. The statement semantics themselves
  * (cardinality, clause shapes) are pinned in CatalogSpec.
  */
class CdcMergeSpec extends SparkSpec {
  import spark.implicits._

  test("cdc_merge_sql equals cdc_merge_apply row for row (minus the op column)") {
    import graft.operators.CdcOps
    val dir = sf("0.01")
    val got = CdcOps.cdcMergeStatement(spark, dir)
      .select($"custkey", $"name", $"acctbal")
      .collect().map(_.toSeq)
    val want = CdcOps.cdcMergeApply(spark, dir)
      .select($"custkey", $"name", $"acctbal")
      .collect().map(_.toSeq)
    assert(got.nonEmpty && got.sameElements(want),
      s"statement and DataFrame merges diverge: ${got.length} vs ${want.length}")
  }

  test("the merge commit is atomic: a pre-merge pinned reader keeps the base table") {
    import graft.sources.Snapshots
    val dir = sf("0.001")
    // cdc_merge_sql runs natively against its catalog table: DROP +
    // CTAS (v1) + MERGE (v2), so the pre-head version is the pristine slice
    val root = graft.operators.SnapCat.table(spark, "merge_cust", dir)._2
    graft.operators.CdcOps.cdcMergeStatement(spark, dir).collect() // ensures >=2 versions
    val head = Snapshots.resolve(root).get
    val base = Snapshots.readAt(spark, root, head.version - 1)
    // the pre-merge version is exactly the pristine slice: no inserts
    // beyond the snapshot window, original balances intact
    assert(base.agg(min($"custkey"), max($"custkey")).head().getLong(0) >= 50)
    assert(base.filter($"name".startsWith("Customer#new")).count() == 0)
    assert(Snapshots.read(spark, root)
      .filter($"name".startsWith("Customer#new")).count() > 0,
      "the head must be the post-merge table")
  }
}
