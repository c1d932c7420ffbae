package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.operators.Projections
import graft.plans.{TopK, TopKPerGroupExec}

/** Native TopKPerGroup plan: result parity with the window form, plan
  * shape (partial → exchange → final), filter pushdown, and edge cases. */
class TopKSpec extends SparkSpec {

  private def planOf(df: org.apache.spark.sql.DataFrame) = {
    val qe = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
      .queryExecution
    qe.executedPlan
  }

  test("topk_per_group_native matches the window row_number plan") {
    import spark.implicits._
    val dir = sf()
    val li = Tables.load(spark, dir, "lineitem")
      .select($"l_suppkey", $"l_orderkey", $"l_linenumber", $"l_extendedprice")
    val w = Window.partitionBy($"l_suppkey")
      .orderBy(desc("l_extendedprice"), $"l_orderkey", $"l_linenumber")
    val expected = li.withColumn("rn", row_number().over(w)).filter($"rn" <= 3)
      .drop("rn")
      .orderBy($"l_suppkey", desc("l_extendedprice"), $"l_orderkey", $"l_linenumber")
      .collect()
    val got = Projections.topkPerGroupNative(spark, dir).collect()
    assert(got.length == expected.length)
    assert(got.sameElements(expected))
  }

  test("physical plan is partial heap -> exchange -> final heap") {
    import spark.implicits._
    val df = TopK.perGroup(
      Tables.load(spark, sf(), "part").select($"p_brand", $"p_partkey", $"p_retailprice"),
      3, Seq("p_brand"), Seq(("p_retailprice", false), ("p_partkey", false)))
    df.collect() // force AQE final plan
    // AQE wraps stages in QueryStageExec leaves — flatten through them.
    def flatten(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
      case q: QueryStageExec => flatten(q.plan)
      case _ => p.children.flatMap(flatten)
    })
    val nodes = flatten(planOf(df))
    val execs = nodes.collect { case t: TopKPerGroupExec => t }
    assert(execs.map(_.partial).sorted == Seq(false, true),
      s"expected one partial and one final TopKPerGroupExec, got:\n${planOf(df)}")
    assert(nodes.exists(_.isInstanceOf[ShuffleExchangeExec]),
      s"expected a hash exchange between partial and final:\n${planOf(df)}")
  }

  test("group-only filter is pushed below top-k; measure filter is not") {
    import spark.implicits._
    val base = Tables.load(spark, sf(), "part")
      .select($"p_brand", $"p_partkey", $"p_retailprice")
    val topk = TopK.perGroup(base, 2, Seq("p_brand"),
      Seq(("p_retailprice", false), ("p_partkey", false)))

    // Group filter: pushing it below cannot change survivors — same rows
    // either way, and the optimized plan has the Filter under TopKPerGroup.
    val groupFiltered = topk.filter($"p_brand" === "Brand#11")
    val viaPrefilter = TopK.perGroup(base.filter($"p_brand" === "Brand#11"), 2,
      Seq("p_brand"), Seq(("p_retailprice", false), ("p_partkey", false)))
    assert(groupFiltered.orderBy($"p_partkey").collect()
      .sameElements(viaPrefilter.orderBy($"p_partkey").collect()))
    val optimized = groupFiltered
      .asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
      .queryExecution.optimizedPlan
    val topkNodes = optimized.collect { case t: graft.plans.TopKPerGroup => t }
    assert(topkNodes.nonEmpty)
    // After pushdown the TopKPerGroup child subtree carries the brand
    // predicate (it may have been folded into the relation's filters).
    assert(topkNodes.head.child.toString.contains("Brand#11") ||
      topkNodes.head.child.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f
      }.nonEmpty,
      s"group filter was not pushed below TopKPerGroup:\n$optimized")

    // Measure filter must NOT be pushed (it would change the ranked set):
    // filter-then-topk and topk-then-filter genuinely differ, and the
    // optimizer must preserve the latter.
    val measureFiltered = topk.filter($"p_retailprice" > 1500.0)
    val opt2 = measureFiltered
      .asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
      .queryExecution.optimizedPlan
    val filterAbove = opt2.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter
        if f.child.isInstanceOf[graft.plans.TopKPerGroup] => f
    }
    assert(filterAbove.nonEmpty,
      s"measure filter must stay above TopKPerGroup:\n$opt2")
  }

  test("k larger than group size returns whole groups; empty input returns empty") {
    import spark.implicits._
    val df = Seq(("a", 1), ("a", 2), ("b", 5)).toDF("g", "v")
    val all = TopK.perGroup(df, 10, Seq("g"), Seq(("v", true)))
      .orderBy($"g", $"v").collect()
    assert(all.map(r => (r.getString(0), r.getInt(1))).toSeq ==
      Seq(("a", 1), ("a", 2), ("b", 5)))
    val empty = TopK.perGroup(df.filter($"v" > 100), 3, Seq("g"), Seq(("v", true)))
    assert(empty.count() == 0)
  }

  test("partial-mode group cap degrades to pass-through, not OOM or wrong answers") {
    import spark.implicits._
    // Near-unique group key (l_orderkey) with the cap forced far below
    // the group count: the map side must stop tracking new groups and
    // pass their rows through; the final exec re-filters, so the result
    // must STILL match the window row_number plan exactly.
    val dir = sf()
    val li = Tables.load(spark, dir, "lineitem")
      .select($"l_orderkey", $"l_linenumber", $"l_extendedprice")
    val w = Window.partitionBy($"l_orderkey")
      .orderBy(desc("l_extendedprice"), $"l_linenumber")
    val expected = li.withColumn("rn", row_number().over(w)).filter($"rn" <= 2)
      .drop("rn")
      .orderBy($"l_orderkey", desc("l_extendedprice"), $"l_linenumber")
      .collect()
    val prev = spark.conf.getOption(TopK.MaxPartialGroupsKey)
    spark.conf.set(TopK.MaxPartialGroupsKey, "16")
    try {
      val got = TopK.perGroup(li, 2, Seq("l_orderkey"),
          Seq(("l_extendedprice", true), ("l_linenumber", false)))
        .orderBy($"l_orderkey", desc("l_extendedprice"), $"l_linenumber")
        .collect()
      assert(got.length == expected.length,
        s"capped partial mode changed row count: ${got.length} vs ${expected.length}")
      assert(got.sameElements(expected))
    } finally {
      prev match {
        case Some(v) => spark.conf.set(TopK.MaxPartialGroupsKey, v)
        case None => spark.conf.unset(TopK.MaxPartialGroupsKey)
      }
    }
  }

  test("column resolution is case-insensitive and rejects ambiguity") {
    import spark.implicits._
    val df = Seq(("a", 1), ("b", 2)).toDF("Grp", "Val")
    // Case-insensitive (the session default resolver), like any lookup.
    val ok = TopK.perGroup(df, 1, Seq("grp"), Seq(("VAL", true)))
    assert(ok.count() == 2)
    // Duplicate output names (post-join shape) must error, not pick one.
    val dup = df.select($"Grp", $"Val").join(df.select($"Grp", $"Val".as("v2")), "Grp")
      .select($"Grp", $"Val", $"v2".as("Val"))
    val e = intercept[IllegalArgumentException] {
      TopK.perGroup(dup, 1, Seq("Grp"), Seq(("Val", true)))
    }
    assert(e.getMessage.contains("ambiguous"))
  }

  test("SQL row_number<=k pattern replans to TopKPerGroup when rn is pruned") {
    import spark.implicits._
    TopK.ensure(spark)
    Tables.load(spark, sf(), "part")
      .select($"p_brand", $"p_partkey", $"p_retailprice")
      .createOrReplaceTempView("topk_sql_part")
    val q = """SELECT p_brand, p_partkey, p_retailprice FROM (
                 SELECT *, row_number() OVER (
                   PARTITION BY p_brand
                   ORDER BY p_retailprice, p_partkey) AS rn
                 FROM topk_sql_part) WHERE rn <= 3"""
    val df = spark.sql(q)
    val opt = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
      .queryExecution.optimizedPlan
    assert(opt.collect { case t: graft.plans.TopKPerGroup => t }.nonEmpty,
      s"row_number<=k pattern did not replan to TopKPerGroup:\n$opt")
    assert(opt.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }.isEmpty,
      s"window should be eliminated by the rewrite:\n$opt")
    // Identical results to the un-rewritten form: keeping rn in the
    // output blocks the rewrite (asserted in the next test), so collect
    // that plan and strip rn row-side.
    val expected = spark.sql("""SELECT p_brand, p_partkey, p_retailprice, rn FROM (
          SELECT *, row_number() OVER (
            PARTITION BY p_brand
            ORDER BY p_retailprice, p_partkey) AS rn
          FROM topk_sql_part) WHERE rn <= 3""")
      .orderBy($"p_brand", $"p_partkey").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val got = df.orderBy($"p_brand", $"p_partkey").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(got.sameElements(expected))
  }

  test("SQL rewrite does NOT fire when the rank column survives, or for rank()") {
    import spark.implicits._
    TopK.ensure(spark)
    Tables.load(spark, sf(), "part")
      .select($"p_brand", $"p_partkey", $"p_retailprice")
      .createOrReplaceTempView("topk_sql_part2")
    def optOf(sql: String) =
      spark.sql(sql).asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
        .queryExecution.optimizedPlan
    // rn in the output: the window must survive (it produces the column).
    val keepRn = optOf("""SELECT p_brand, rn FROM (
        SELECT *, row_number() OVER (PARTITION BY p_brand
          ORDER BY p_retailprice, p_partkey) AS rn
        FROM topk_sql_part2) WHERE rn <= 3""")
    assert(keepRn.collect { case t: graft.plans.TopKPerGroup => t }.isEmpty,
      s"must not rewrite when rn is consumed:\n$keepRn")
    // rank() can emit MORE than k rows on ties — not row_number semantics.
    val rankQ = optOf("""SELECT p_brand, p_partkey FROM (
        SELECT *, rank() OVER (PARTITION BY p_brand
          ORDER BY p_retailprice) AS rk
        FROM topk_sql_part2) WHERE rk <= 3""")
    assert(rankQ.collect { case t: graft.plans.TopKPerGroup => t }.isEmpty,
      s"must not rewrite rank():\n$rankQ")
  }

  test("final exec compiles into WholeStageCodegen; partial stays interpreted") {
    import spark.implicits._
    val df = TopK.perGroup(
      Tables.load(spark, sf(), "part").select($"p_brand", $"p_partkey", $"p_retailprice"),
      3, Seq("p_brand"), Seq(("p_retailprice", true), ("p_partkey", false)))
    df.collect() // force AQE final plan
    def flatten(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
      case q: QueryStageExec => flatten(q.plan)
      case _ => p.children.flatMap(flatten)
    })
    val nodes = flatten(planOf(df))
    // A codegen stage ends at InputAdapter / query-stage boundaries —
    // don't descend past them or the map stage's nodes would be
    // mis-attributed to the reduce stage's WholeStageCodegen subtree.
    def stageLocal(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: org.apache.spark.sql.execution.InputAdapter => Nil
      case _: QueryStageExec => Nil
      case other => other +: other.children.flatMap(stageLocal)
    }
    val wscSubtrees = nodes.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => stageLocal(w.child)
    }
    // The final (post-exchange) exec must sit INSIDE a codegen stage...
    assert(wscSubtrees.exists(_.exists {
      case t: TopKPerGroupExec => !t.partial
      case _ => false
    }), s"final TopKPerGroupExec not inside WholeStageCodegen:\n${planOf(df)}")
    // ...and the partial (map-side) exec must NOT (its pass-through
    // degrade is incompatible with blocking codegen — see TopK.scala).
    assert(!wscSubtrees.exists(_.exists {
      case t: TopKPerGroupExec => t.partial
      case _ => false
    }), s"partial TopKPerGroupExec must stay interpreted:\n${planOf(df)}")
  }

  test("codegen on/off parity, including under the partial group cap") {
    import spark.implicits._
    val li = Tables.load(spark, sf(), "lineitem")
      .select($"l_suppkey", $"l_orderkey", $"l_linenumber", $"l_extendedprice")
    def run() = TopK.perGroup(li, 2, Seq("l_suppkey"),
        Seq(("l_extendedprice", true), ("l_orderkey", false), ("l_linenumber", false)))
      .orderBy($"l_suppkey", desc("l_extendedprice"), $"l_orderkey", $"l_linenumber")
      .collect()
    val withCodegen = run()
    val prevCg = spark.conf.getOption(TopK.CodegenKey)
    val prevCap = spark.conf.getOption(TopK.MaxPartialGroupsKey)
    try {
      spark.conf.set(TopK.CodegenKey, "false")
      assert(run().sameElements(withCodegen), "interpreted path diverged from codegen")
      spark.conf.set(TopK.CodegenKey, "true")
      spark.conf.set(TopK.MaxPartialGroupsKey, "8")
      assert(run().sameElements(withCodegen),
        "codegen final + capped partial diverged from uncapped result")
    } finally {
      prevCg.fold(spark.conf.unset(TopK.CodegenKey))(spark.conf.set(TopK.CodegenKey, _))
      prevCap.fold(spark.conf.unset(TopK.MaxPartialGroupsKey))(
        spark.conf.set(TopK.MaxPartialGroupsKey, _))
    }
  }

  test("GraftExtensions wires every graft strategy and rule for spark.sql.extensions") {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.plans.GraftExtensions().apply(ext)
    val cls = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    // build* are private[sql] in Scala but public in bytecode — invoke
    // reflectively rather than dropping the only coverage of the
    // spark.sql.extensions install path.
    def build(name: String): Seq[AnyRef] =
      classOf[org.apache.spark.sql.SparkSessionExtensions]
        .getMethod(name, classOf[org.apache.spark.sql.SparkSession])
        .invoke(ext, cls).asInstanceOf[Seq[AnyRef]]
    val strategies = build("buildPlannerStrategies")
    assert(strategies.contains(graft.plans.TopKStrategy))
    assert(strategies.contains(graft.plans.AsOfStrategy))
    assert(strategies.contains(graft.plans.SmallSortStrategy))
    val rules = build("buildOptimizerRules")
    assert(rules.contains(graft.plans.PushFilterThroughTopK))
    assert(rules.contains(graft.plans.RewriteRowNumberTopK))
    // ensure() is the runtime twin: it installs the same strategies and rules
    TopK.ensure(spark)
    assert(strategies.toSet == cls.experimental.extraStrategies.toSet)
    assert(rules.toSet == cls.experimental.extraOptimizations.toSet)
    // the scalar extension functions ride the same entry point;
    // registerFunctions needs a live catalog, so assert on the
    // injected-builders list instead
    val fnField = classOf[org.apache.spark.sql.SparkSessionExtensions]
      .getDeclaredFields.find(_.getName.endsWith("injectedFunctions"))
      .getOrElse(fail("injectedFunctions field not found"))
    fnField.setAccessible(true)
    val names = fnField.get(ext)
      .asInstanceOf[scala.collection.mutable.Buffer[(
        org.apache.spark.sql.catalyst.FunctionIdentifier, _, _)]]
      .map(_._1.funcName).toSet
    assert(names == Set("vec_dot", "interleave_bits"), s"$names")
  }

  test("ensure() exposes the scalar extension functions on the plain SQL surface") {
    graft.plans.TopK.ensure(spark)
    val r = spark.sql(
      "SELECT vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d, " +
        "interleave_bits(3L, 1L) AS z").head()
    assert(r.getDouble(0) == 11.0)
    assert(r.getLong(1) == 7L) // x=3 -> bits 0,2 ; y=1 -> bit 1 ; union = 7
  }

  test("ties at the k boundary are broken by the caller's tiebreak keys") {
    import spark.implicits._
    val df = Seq(("g", 10, 1), ("g", 10, 2), ("g", 10, 3), ("g", 9, 4))
      .toDF("grp", "score", "id")
    val got = TopK.perGroup(df, 2, Seq("grp"), Seq(("score", true), ("id", false)))
      .orderBy($"id").collect().map(_.getInt(2)).toSeq
    assert(got == Seq(1, 2), s"expected ids 1,2 (score desc, id asc), got $got")
  }
}
