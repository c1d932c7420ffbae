package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Times `vec_dot` over the corpus's own vector pairs: a cross join of
  * `left` x `right` cached embeddings summing `vec_dot`, minus the same
  * join summing a trivial expression, over the number of pairs. */
object VecDot {
  def measure(s: SparkSession, path: String, left: Int, right: Int,
      tracer: Tracer): Map[String, Any] = {
    val e = s.read.parquet(path)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val l = e.orderBy("vec_id").limit(left).select(col("v").as("a")).cache()
    val r = e.orderBy(col("vec_id").desc).limit(right).select(col("v").as("b")).cache()
    val (nl, nr) = (l.count(), r.count())
    val pairs = l.crossJoin(r)
    def time(c: org.apache.spark.sql.Column, name: String): Long = {
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        pairs.agg(sum(c)).collect()
        val t1 = System.nanoTime()
        tracer.add(Span(tracer.newId(), name, t0, t1, 0L, -1))
        t1 - t0
      }.sorted
      ts(1)
    }
    val dot = time(call_function("vec_dot", col("a"), col("b")), "vec_dot")
    val base = time(size(col("a")) + size(col("b")), "vec_dot_baseline")
    l.unpersist(); r.unpersist()
    val n = nl * nr
    Map("pairs" -> n, "dot_ns" -> dot, "baseline_ns" -> base,
      "ns_per_pair" -> (dot - base).toDouble / math.max(n, 1L))
  }
}
